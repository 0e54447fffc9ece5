package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Staging
import graft.sources.Versioned

/** The SQL front door of the versioned table ([[graft.sources.v2
  * .GraftCatalog]]): every statement here goes through `spark.sql`
  * TEXT, resolving through the DSv2 TableCatalog into the manifest
  * machinery — CREATE/INSERT/SELECT, both AS OF forms, OVERWRITE,
  * the four ALTER COLUMN evolution commits, CTAS, and the guards.
  */
class VersionedCatalogSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val cat = "graft_spec_cat"

  private def useWarehouse(name: String): String = {
    val wh = Staging.scratch("graft-catalog-spec", name).getAbsolutePath
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.v2.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    wh
  }

  test("CREATE + INSERT INTO + SELECT + VERSION AS OF, all through SQL text") {
    val wh = useWarehouse("basic")
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v STRING)")
    // loadable while empty: declared schema, zero rows
    assert(spark.sql(s"SELECT * FROM $cat.db.t").columns.toSeq == Seq("k", "v"))
    assert(spark.sql(s"SELECT * FROM $cat.db.t").count() == 0)
    spark.sql(s"INSERT INTO $cat.db.t VALUES (1, 'a'), (2, 'b')") // v1
    spark.sql(s"INSERT INTO $cat.db.t VALUES (3, 'c')")           // v2
    assert(spark.sql(s"SELECT * FROM $cat.db.t").as[(Long, String)]
      .collect().toSet == Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(spark.sql(s"SELECT * FROM $cat.db.t VERSION AS OF 1")
      .as[(Long, String)].collect().toSet == Set((1L, "a"), (2L, "b")))
    assert(spark.sql(s"SELECT * FROM $cat.db.t VERSION AS OF 2").count() == 3)
    // a version that never committed fails at analysis, loudly
    assertThrows[Exception](spark.sql(s"SELECT * FROM $cat.db.t VERSION AS OF 9"))
    // the SQL table is the SAME table the library API sees
    val dir = s"$wh/db/t"
    assert(Versioned.versions(spark, dir) == Seq(1L, 2L))
    // filters and pruning survive the V1Scan fallback
    assert(spark.sql(s"SELECT v FROM $cat.db.t WHERE k = 2")
      .as[String].collect().toSeq == Seq("b"))
  }

  test("TIMESTAMP AS OF resolves through commit times (micros from Spark)") {
    useWarehouse("asof")
    spark.sql(s"CREATE TABLE $cat.ts_t (k BIGINT)")
    spark.sql(s"INSERT INTO $cat.ts_t VALUES (1)") // v1
    Thread.sleep(5)
    spark.sql(s"INSERT INTO $cat.ts_t VALUES (2)") // v2
    val wh = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
    val times = Versioned.commitTimes(spark, s"$wh/ts_t")
    val t1 = times.head._2
    // a timestamp between the commits sees only v1
    val ts = new java.sql.Timestamp(t1).toInstant.toString.replace("T", " ")
      .replace("Z", "")
    val got = spark.sql(
      s"SELECT * FROM $cat.ts_t TIMESTAMP AS OF '$ts'").as[Long].collect()
    assert(got.toSeq == Seq(1L))
  }

  test("INSERT OVERWRITE is a full-replace commit; history survives") {
    useWarehouse("ovw")
    spark.sql(s"CREATE TABLE $cat.o_t (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $cat.o_t VALUES (1, 'a'), (2, 'b')")   // v1
    spark.sql(s"INSERT OVERWRITE $cat.o_t VALUES (9, 'z')")        // v2
    assert(spark.sql(s"SELECT * FROM $cat.o_t").as[(Long, String)]
      .collect().toSeq == Seq((9L, "z")))
    assert(spark.sql(s"SELECT * FROM $cat.o_t VERSION AS OF 1")
      .count() == 2, "overwrite must not destroy time travel")
  }

  test("ALTER TABLE drives all four era-manifest evolution commits from SQL") {
    useWarehouse("alter")
    spark.sql(s"CREATE TABLE $cat.a_t (k INT, v STRING)")
    spark.sql(s"INSERT INTO $cat.a_t VALUES (1, 'a')")               // v1
    spark.sql(s"ALTER TABLE $cat.a_t RENAME COLUMN v TO label")      // v2
    spark.sql(s"ALTER TABLE $cat.a_t ADD COLUMN score BIGINT")       // v3
    spark.sql(s"ALTER TABLE $cat.a_t ALTER COLUMN k TYPE BIGINT")    // v4 widen
    spark.sql(s"INSERT INTO $cat.a_t VALUES (2147483648, 'b', 7)")   // v5 > int
    val rows = spark.sql(s"SELECT k, label, score FROM $cat.a_t ORDER BY k")
      .as[(Long, String, Option[Long])].collect().toSeq
    assert(rows == Seq((1L, "a", None), (2147483648L, "b", Some(7L))))
    spark.sql(s"ALTER TABLE $cat.a_t DROP COLUMN score")             // v6
    assert(spark.sql(s"SELECT * FROM $cat.a_t").columns.toSeq ==
      Seq("k", "label"))
    // time travel: pre-evolution schema intact (old name, narrow type)
    val v1 = spark.sql(s"SELECT * FROM $cat.a_t VERSION AS OF 1")
    assert(v1.columns.toSeq == Seq("k", "v"))
    assert(v1.schema("k").dataType.typeName == "integer")
    // narrowing is rejected loudly — Spark's own analyzer guard
    // (NOT_SUPPORTED_CHANGE_COLUMN) fires before the catalog's; the
    // catalog's own lossless guard is pinned at the library level in
    // VersionedSpec (widenColumn rejects narrowing/lossy)
    val e = intercept[Exception](
      spark.sql(s"ALTER TABLE $cat.a_t ALTER COLUMN k TYPE INT"))
    assert(e.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN") ||
      e.getMessage.contains("lossless"), s"unexpected: ${e.getMessage}")
  }

  test("DELETE FROM: COW predicate delete through the OCC ledger, 3VL intact") {
    useWarehouse("del")
    spark.sql(s"CREATE TABLE $cat.d_t (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $cat.d_t SELECT id, " +
      "CASE WHEN id % 4 = 0 THEN NULL ELSE 'x' || id END FROM range(100)") // v1
    spark.sql(s"DELETE FROM $cat.d_t WHERE k >= 40 AND k < 60")            // v2
    assert(spark.sql(s"SELECT count(*) FROM $cat.d_t").as[Long].head() == 80L)
    // NULL never deletes: v IS NULL rows survive a predicate on v
    spark.sql(s"DELETE FROM $cat.d_t WHERE v = 'x1'")                      // v3
    assert(spark.sql(s"SELECT count(*) FROM $cat.d_t WHERE v IS NULL")
      .as[Long].head() == 20L, "NULL-condition rows must survive")
    assert(spark.sql(s"SELECT count(*) FROM $cat.d_t").as[Long].head() == 79L)
    // time travel still shows the pre-delete state (COW, not purge)
    assert(spark.sql(s"SELECT count(*) FROM $cat.d_t VERSION AS OF 1")
      .as[Long].head() == 100L)
  }

  test("CALL system.* procedures: optimize, zorder, vacuum, history") {
    val wh = useWarehouse("proc")
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.p (a BIGINT, b BIGINT)")
    spark.sql(s"INSERT INTO $cat.db.p SELECT id, id * 7 % 512 FROM range(512)")
    spark.sql(s"INSERT INTO $cat.db.p SELECT id + 512, id FROM range(512)")
    // OPTIMIZE via CALL returns the commit's version
    val v3 = spark.sql(s"CALL $cat.system.optimize('db.p', 2)")
      .as[Long].head()
    assert(v3 == 3L)
    // ZORDER via CALL: one commit, returns its version
    val v4 = spark.sql(s"CALL $cat.system.optimize_zorder('db.p', 4, 'a', 'b')")
      .as[Long].head()
    assert(v4 == 4L)
    // history is a multi-row result set
    val hist = spark.sql(s"CALL $cat.system.history('db.p')")
      .select("version", "n_rows").as[(Long, Long)].collect().toSeq
    assert(hist.map(_._1) == Seq(1L, 2L, 3L, 4L))
    assert(hist.map(_._2).toSet == Set(512L, 1024L))
    // vacuum to the head; survivors still read
    val (m, _) = spark.sql(s"CALL $cat.system.vacuum('db.p', 1)")
      .as[(Int, Int)].head()
    assert(m == 3)
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.p").as[Long].head() == 1024L)
    // unknown procedure fails loudly
    assertThrows[Exception](spark.sql(s"CALL $cat.system.nope('db.p')"))
  }

  test("version tags: VERSION AS OF 'name', vacuum pinning, drop_tag releases") {
    useWarehouse("tags")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT)")
    spark.sql(s"INSERT INTO $cat.t SELECT id FROM range(10)")        // v1
    spark.sql(s"INSERT INTO $cat.t SELECT id FROM range(10, 30)")    // v2
    spark.sql(s"INSERT INTO $cat.t SELECT id FROM range(30, 35)")    // v3
    spark.sql(s"CALL $cat.system.tag('t', 'baseline', 1)")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t VERSION AS OF 'baseline'")
      .as[Long].head() == 10L)
    // guards: numeric names shadow versions, whitespace breaks the tsv,
    // a version that never committed cannot be tagged, unknown tags are
    // loud with the available names listed
    assertThrows[Exception](spark.sql(s"CALL $cat.system.tag('t', '42', 1)"))
    assertThrows[Exception](spark.sql(s"CALL $cat.system.tag('t', 'a b', 1)"))
    assertThrows[Exception](spark.sql(s"CALL $cat.system.tag('t', 'nope', 99)"))
    assertThrows[Exception](
      spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 'missing'").collect())
    // vacuum pins the tagged version: keep 1 drops v2 but NOT v1
    spark.sql(s"CALL $cat.system.vacuum('t', 1)")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t VERSION AS OF 'baseline'")
      .as[Long].head() == 10L, "tagged version must survive retention")
    assertThrows[Exception](
      spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 2").collect())
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").as[Long].head() == 35L)
    // dropping the tag releases the pin: the next vacuum reclaims v1
    spark.sql(s"CALL $cat.system.drop_tag('t', 'baseline')")
    spark.sql(s"CALL $cat.system.vacuum('t', 1)")
    assertThrows[Exception](
      spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 'baseline'").collect())
    assertThrows[Exception](spark.sql(s"CALL $cat.system.drop_tag('t', 'baseline')"))
  }

  test("COUNT(*) answers from the manifest: survives a missing data file") {
    val wh = useWarehouse("countmeta")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT)")
    spark.sql(s"INSERT INTO $cat.t SELECT id FROM range(100)")
    spark.sql(s"INSERT INTO $cat.t SELECT id FROM range(100, 130)")
    Versioned.deleteKeysMor(spark, s"$wh/t", "k", Seq(1L, 2L).toDF("k"))
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").as[Long].head() == 128L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.t VERSION AS OF 1")
      .as[Long].head() == 100L)
    // plan proof: the bare count is a pushed aggregate over the
    // manifest (no HashAggregate over data); any residual filter
    // disables the pushdown (a real aggregation appears). The file
    // bytes CAN'T prove it here — analysis resolves every live file
    // for the schema — but the plan markers pin the execution path,
    // and the dv-subtraction value above pins the arithmetic.
    val bare = spark.sql(s"SELECT count(*) FROM $cat.t")
      .queryExecution.executedPlan.toString
    assert(bare.contains("PushedAggregates: [COUNT(*)]") &&
      !bare.contains("HashAggregate"), bare)
    val filt = spark.sql(s"SELECT count(*) FROM $cat.t WHERE k >= 0")
      .queryExecution.executedPlan.toString
    assert(filt.contains("HashAggregate") &&
      !filt.contains("PushedAggregates: [COUNT"), filt)
    assert(spark.sql(s"SELECT count(*) FROM $cat.t WHERE k >= 0")
      .as[Long].head() == 128L)
    // grouped / column-argument counts never push (null semantics and
    // grouping need the data)
    val grouped = spark.sql(s"SELECT k % 2, count(*) FROM $cat.t GROUP BY 1")
      .queryExecution.executedPlan.toString
    assert(!grouped.contains("PushedAggregates"), grouped)
  }

  test("pushed COUNT(*) stays exact on a legacy table with STALE sidecar rows") {
    val wh = useWarehouse("countlegacy")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT)")
    spark.sql(s"INSERT INTO $cat.t SELECT id FROM range(20)")          // v1
    val dir = s"$wh/t"
    Versioned.deleteKeysMor(spark, dir, "k", Seq(1L, 2L).toDF("k"))    // v2
    // simulate a PRE-RECONCILE on-disk lineage: a sidecar row whose
    // target file was retired long ago (pre-round-13 COW commits
    // carried such rows forward) — the recorded nDel would
    // double-subtract it; the pushed count must not
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(dir, "_stale_tmp")
    Seq(("long-gone.parquet", 99L)).toDF("__target", "__key")
      .coalesce(1).write.parquet(tmp.toString)
    val part = fs.listStatus(tmp).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get
    fs.rename(part, new org.apache.hadoop.fs.Path(s"$dir/data/stale-dv.parquet"))
    fs.delete(tmp, true)
    val mdir = new org.apache.hadoop.fs.Path(dir, "_manifests")
    val v2p = new org.apache.hadoop.fs.Path(mdir, "v000000002.manifest")
    val in = fs.open(v2p)
    val v2txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val out = fs.create(new org.apache.hadoop.fs.Path(mdir,
      "v000000003.manifest"), false)
    try out.write((v2txt + "\n#dv\t0\tk\tstale-dv.parquet\t1").getBytes("UTF-8"))
    finally out.close()
    // nDel arithmetic would say 20 - 2 - 1 = 17; the live-target count
    // says 18 — and the real scan agrees
    val plan = spark.sql(s"SELECT count(*) FROM $cat.t")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregates: [COUNT(*)]"), plan)
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").as[Long].head() == 18L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.t WHERE k >= 0")
      .as[Long].head() == 18L)
    // t.history AGREES with the pushed count on the same lineage —
    // its n_rows counts live-targeting sidecar rows too, never the
    // recorded nDel (which would say 17 here)
    assert(spark.sql(
      s"SELECT n_rows FROM $cat.t.history WHERE version = 3")
      .as[Long].head() == 18L)
    assert(Versioned.history(spark, dir).last._3 == 18L)
  }

  test("staged create/replace: guards, abort cleanup, commit-time revalidation") {
    val wh = useWarehouse("staged")
    // REPLACE of a nonexistent table fails at stage time
    val e1 = intercept[Exception](spark.sql(
      s"REPLACE TABLE $cat.nope AS SELECT 1L AS k"))
    assert(e1.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND") ||
      e1.getMessage.toLowerCase.contains("not found") ||
      e1.getMessage.contains("NoSuchTable"), e1.getMessage)
    // abortStagedChanges on a fresh CREATE removes the directory it made
    val catalog = spark.sessionState.catalogManager.catalog(cat)
      .asInstanceOf[graft.sources.v2.GraftCatalog]
    val ident = org.apache.spark.sql.connector.catalog.Identifier
      .of(Array.empty[String], "aborted")
    val info = new org.apache.spark.sql.connector.catalog.TableInfo.Builder()
      .withColumns(Array(org.apache.spark.sql.connector.catalog.Column
        .create("k", org.apache.spark.sql.types.LongType)))
      .withPartitions(Array.empty)
      .withProperties(java.util.Collections.emptyMap())
      .build()
    val st = catalog.stageCreate(ident, info)
    st.abortStagedChanges()
    assert(!new java.io.File(s"$wh/aborted").exists(),
      "an aborted fresh CREATE must leave nothing behind")
    // commit-time revalidation: a table created BETWEEN stage and
    // commit fails the staged create loudly (no silent clobber)
    val st2 = catalog.stageCreate(ident, info)
    spark.sql(s"CREATE TABLE $cat.aborted (k BIGINT)")
    spark.sql(s"INSERT INTO $cat.aborted VALUES (42)")
    val e2 = intercept[Exception](st2.commitStagedChanges())
    assert(e2.getMessage.contains("TABLE_OR_VIEW_ALREADY_EXISTS") ||
      e2.getMessage.toLowerCase.contains("already exists"), e2.getMessage)
    assert(spark.sql(s"SELECT k FROM $cat.aborted").as[Long]
      .collect().toSeq == Seq(42L),
      "the concurrent winner's table must be untouched")
  }

  test("partition tags survive renames: era-resolved, never stale-matched") {
    val wh = useWarehouse("ptagrename")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, cat STRING) " +
      "PARTITIONED BY (cat)")
    spark.sql(s"INSERT INTO $cat.t SELECT id, 'c' || CAST(id % 3 AS STRING) " +
      "FROM range(30)")                                                // v1
    spark.sql(s"ALTER TABLE $cat.t RENAME COLUMN cat TO region")       // v2
    spark.sql(s"ALTER TABLE $cat.t ADD COLUMN cat STRING")             // v3
    // the RENAMED column still prunes: old tags walk forward to region
    assert(spark.sql(s"SELECT COUNT(DISTINCT _file) FROM $cat.t " +
      "WHERE region = 'c1'").head().getLong(0) == 1L,
      "pruning must survive the rename (tags resolve per era)")
    // the RE-ADDED column must NOT match stale tags: every row's new
    // cat is NULL, so a cat predicate matches nothing — a stale-tag
    // match would wrongly prune/claim files of the unrelated column
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.t WHERE cat = 'c1'")
      .head().getLong(0) == 0L)
    // the replaceWhere whole-file retire path: an overwrite keyed on
    // the NEW cat column must not retire the old files via their
    // stale tags — those rows' cat is NULL, nothing matches, nothing
    // may be lost
    val before = spark.sql(s"SELECT COUNT(*) FROM $cat.t").head().getLong(0)
    Seq((100L, "rx", "c1")).toDF("k", "region", "cat")
      .writeTo(s"$cat.t").overwrite($"cat" === "c1")
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.t WHERE cat IS NULL")
      .head().getLong(0) == before,
      "no original row may be lost to a stale-tag whole-file retire")
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.t").head().getLong(0)
      == before + 1)
  }

  test("empty REPLACE versions keep their own schema; restore reaches them") {
    val wh = useWarehouse("emptyschema")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT)")
    spark.sql(s"INSERT INTO $cat.t VALUES (1)")                        // v1
    spark.sql(s"CREATE OR REPLACE TABLE $cat.t (k BIGINT, note STRING)") // v2 empty
    spark.sql(s"CREATE OR REPLACE TABLE $cat.t AS SELECT 1.5 AS a")    // v3
    // v2's empty frame carries v2's OWN schema — not the current ddl
    val v2 = spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 2")
    assert(v2.columns.toSeq == Seq("k", "note") && v2.count() == 0L,
      s"got ${v2.columns.toSeq}")
    // restore can reach the empty state, and the restored head keeps
    // that schema too
    spark.sql(s"CALL $cat.system.restore('t', 2)")                     // v4
    assert(spark.table(s"$cat.t").columns.toSeq == Seq("k", "note"))
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").as[Long].head() == 0L)
    // and v1/v3 still answer under their own schemas
    assert(spark.sql(s"SELECT k FROM $cat.t VERSION AS OF 1").as[Long]
      .head() == 1L)
    assert(spark.sql(s"SELECT a FROM $cat.t VERSION AS OF 3")
      .head().getDecimal(0).doubleValue() == 1.5)
  }

  test("fast_forward heals a crash between publish and branch cleanup") {
    val wh = useWarehouse("ffcrash")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT)")
    spark.sql(s"INSERT INTO $cat.t SELECT id FROM range(3)")           // v1
    spark.sql(s"CALL $cat.system.branch('t', 'audit')")
    spark.sql(s"INSERT INTO $cat.t.branch_audit SELECT id FROM range(3, 5)")
    val dir = s"$wh/t"
    // simulate the crash window: the publish manifest landed (copy the
    // branch head as main v2) but the cleanup never ran — branch ref
    // and manifests still present, base now stale
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bm = new org.apache.hadoop.fs.Path(dir,
      "_manifests/b-000000001-audit.manifest")
    val in = fs.open(bm)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val out = fs.create(new org.apache.hadoop.fs.Path(dir,
      "_manifests/v000000002.manifest"), false)
    try out.write(txt.getBytes("UTF-8")) finally out.close()
    // the re-run detects main's head IS the branch head and finishes
    // the cleanup idempotently instead of demanding a replay
    assert(spark.sql(s"CALL $cat.system.fast_forward('t', 'audit')")
      .head().getLong(0) == 2L)
    assert(Versioned.branches(spark, dir).isEmpty)
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").as[Long].head() == 5L)
  }

  test("branches: divergence, vacuum protection, drop, guards") {
    val wh = useWarehouse("branches")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT)")
    spark.sql(s"INSERT INTO $cat.t SELECT id FROM range(5)")           // v1
    spark.sql(s"CALL $cat.system.branch('t', 'audit')")
    spark.sql(s"INSERT INTO $cat.t.branch_audit SELECT id FROM range(5, 8)")
    val dir = s"$wh/t"
    // a diverged main fails fast_forward loudly and moves NOTHING
    spark.sql(s"INSERT INTO $cat.t VALUES (99)")                       // v2
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    val e1 = intercept[Exception](
      spark.sql(s"CALL $cat.system.fast_forward('t', 'audit')"))
    assert(msgs(e1).exists(_.contains("main moved")), msgs(e1).mkString("|"))
    assert(Versioned.versions(spark, dir) == Seq(1L, 2L))
    // the branch is still intact and readable after the failed publish
    assert(spark.sql(s"SELECT count(*) FROM $cat.t.branch_audit")
      .as[Long].head() == 8L)
    // vacuum with ZERO orphan age: branch-only data files and the
    // branch BASE version survive — branch manifests are live roots
    Versioned.vacuum(spark, dir, 1, orphanAgeMs = 0L)
    assert(Versioned.versions(spark, dir) == Seq(1L, 2L),
      "the branch base (v1) is pinned like a tag")
    assert(spark.sql(s"SELECT k FROM $cat.t.branch_audit ORDER BY k")
      .as[Long].collect().toSeq == (0L to 7L),
      "an unpublished audit must survive retention")
    // drop_branch abandons it: the ref and binding dissolve, files
    // become aged orphans, and the base version is released next vacuum
    spark.sql(s"CALL $cat.system.drop_branch('t', 'audit')")
    assertThrows[Exception](
      spark.sql(s"SELECT * FROM $cat.t.branch_audit").collect())
    Versioned.vacuum(spark, dir, 1, orphanAgeMs = 0L)
    assert(Versioned.versions(spark, dir) == Seq(2L))
    // guards: bad name, duplicate, unknown branch, publish-of-unwritten
    val e2 = intercept[Exception](
      spark.sql(s"CALL $cat.system.branch('t', 'bad-name')"))
    assert(msgs(e2).exists(_.contains("[A-Za-z0-9_]")), msgs(e2).mkString("|"))
    spark.sql(s"CALL $cat.system.branch('t', 'b1')")
    val e3 = intercept[Exception](
      spark.sql(s"CALL $cat.system.branch('t', 'b1')"))
    assert(msgs(e3).exists(_.contains("already exists")), msgs(e3).mkString("|"))
    val e4 = intercept[Exception](
      spark.sql(s"CALL $cat.system.fast_forward('t', 'b1')"))
    assert(msgs(e4).exists(_.contains("no writes to publish")),
      msgs(e4).mkString("|"))
    val e5 = intercept[Exception](
      spark.sql(s"CALL $cat.system.drop_branch('t', 'nope')"))
    assert(msgs(e5).exists(_.contains("no branch")), msgs(e5).mkString("|"))
  }

  test("branch DELETE (q309): COW on the branch head only, vacuum pins both sides, UPDATE/MERGE rejected") {
    val wh = useWarehouse("branchdelete")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $cat.t SELECT id, 'm' FROM range(5)")      // v1
    spark.sql(s"CALL $cat.system.branch('t', 'audit')")
    val dir = s"$wh/t"
    // two branch appends → two branch files, so the DELETE can prove it
    // rewrites only the file containing matches
    spark.sql(s"INSERT INTO $cat.t.branch_audit " +
      "SELECT /*+ REPARTITION(1) */ id, 'good' FROM range(10, 13)")    // b1
    spark.sql(s"INSERT INTO $cat.t.branch_audit " +
      "SELECT /*+ REPARTITION(1) */ id, IF(id = 21, 'bad', 'good') " +
      "FROM range(20, 23)")                                            // b2
    val (b2, s2) = Versioned.branchHead(spark, dir, "audit")
    assert(s2 == 2L)
    // the audit-fix verb
    spark.sql(s"DELETE FROM $cat.t.branch_audit WHERE v = 'bad'")      // b3
    val (b3, s3) = Versioned.branchHead(spark, dir, "audit")
    assert(s3 == 3L, "a branch DELETE commits the next branch manifest")
    // only the file containing the match was rewritten — the clean
    // branch file and every main file carried by name
    val retired = b2.entries.map(_._1).toSet -- b3.entries.map(_._1).toSet
    val fresh = b3.entries.map(_._1).toSet -- b2.entries.map(_._1).toSet
    assert(retired.size == 1 && fresh.size == 1,
      s"exactly the matched file rewrites: retired=$retired fresh=$fresh")
    assert(spark.sql(s"SELECT k FROM $cat.t.branch_audit ORDER BY k")
      .as[Long].collect().toSeq ==
      (0L to 4L) ++ Seq(10L, 11L, 12L, 20L, 22L))
    // main never saw any of it
    assert(Versioned.versions(spark, dir) == Seq(1L))
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").as[Long].head() == 5L)
    // a branch read is the main scan on the branch lineage: a bare
    // COUNT(*) answers from the branch head's manifest, exactly
    val branchCount = spark.sql(s"SELECT COUNT(*) FROM $cat.t.branch_audit")
    val branchPlan = branchCount.queryExecution.executedPlan.toString
    assert(branchPlan.contains("PushedAggregates: [COUNT(*)]"), branchPlan)
    assert(branchCount.as[Long].head() ==
      Versioned.readBranch(spark, dir, "audit").count())
    // vacuum at zero orphan age: every branch manifest is a live root,
    // so BOTH the retired pre-delete file and the COW rewrite survive
    Versioned.vacuum(spark, dir, 1, orphanAgeMs = 0L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.t.branch_audit")
      .as[Long].head() == 10L, "the corrected audit survives retention")
    val dataNames = new java.io.File(s"$dir/data").listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).toSet
    assert(retired.subsetOf(dataNames),
      "the retired branch file stays until the branch dissolves")
    // UPDATE / MERGE stay out, loudly, with the stance in DESCRIBE
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    val e1 = intercept[Exception](
      spark.sql(s"UPDATE $cat.t.branch_audit SET v = 'x' WHERE k = 10"))
    assert(msgs(e1).exists(_.contains("INSERT INTO and DELETE only")),
      msgs(e1).mkString("|"))
    val e2 = intercept[Exception](
      spark.sql(s"MERGE INTO $cat.t.branch_audit b USING (SELECT 10 AS k) s " +
        "ON b.k = s.k WHEN MATCHED THEN DELETE"))
    assert(msgs(e2).exists(_.contains("INSERT INTO and DELETE only")),
      msgs(e2).mkString("|"))
    assert(spark.sql(s"DESCRIBE TABLE EXTENDED $cat.t.branch_audit")
      .collect().map(_.toString).mkString.contains("graft.branch.verbs"))
    // publish the corrected state; the retired file ages out as an
    // orphan once no branch manifest roots it
    spark.sql(s"CALL $cat.system.fast_forward('t', 'audit')")          // v2
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").as[Long].head() == 10L)
    Versioned.vacuum(spark, dir, 5, orphanAgeMs = 0L)
    val after = new java.io.File(s"$dir/data").listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).toSet
    assert(retired.intersect(after).isEmpty,
      "publish dissolves the branch roots; the retired file is reclaimed")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").as[Long].head() == 10L)
  }

  test("hours()/years() transforms (q310): DST-immune UTC arithmetic, hours(date) rejected") {
    val wh = useWarehouse("hoursyears")
    spark.sql(s"CREATE TABLE $cat.h (k BIGINT, ts TIMESTAMP) " +
      "PARTITIONED BY (hours(ts))")
    // the same INSTANTS inserted under two session timezones — one of
    // them mid-DST-transition — must tag identically: the hour value
    // is pmod-then-div on the instant's epoch micros, never a
    // session-tz hour() (US DST 2024-03-10: 07:00 UTC = 02:00 EST →
    // 03:00 EDT, the hour wall clocks skip)
    val tz0 = spark.conf.get("spark.sql.session.timeZone")
    val instants = "SELECT id AS k, timestamp_micros(1710054000000000 + " +
      "id * 3600000000) AS ts FROM range(3)" // 2024-03-10 07:00..09:00 UTC
    try {
      spark.sql(s"INSERT INTO $cat.h $instants")                       // v1
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      spark.sql(s"INSERT INTO $cat.h $instants")                       // v2
    } finally spark.conf.set("spark.sql.session.timeZone", tz0)
    val m = Versioned.manifestOf(spark, s"$wh/h", 2)
    val tagsByFile = m.ptags.groupBy(_._1).values.toSeq
    assert(m.ptags.forall(_._2 == "hours(ts)"))
    val v1Tags = Versioned.manifestOf(spark, s"$wh/h", 1)
      .ptags.map(_._3).sorted
    val v2Tags = m.ptags.map(_._3).sorted.diff(v1Tags)
    assert(v1Tags == v2Tags && v1Tags ==
      Seq("475015", "475016", "475017").sorted,
      s"same instants → same hour tags regardless of session tz: " +
        s"$v1Tags vs $v2Tags")
    assert(tagsByFile.forall(_.size == 1))
    // years(date) is fine; hours(date) has no meaning and fails CREATE
    spark.sql(s"CREATE TABLE $cat.y (k BIGINT, d DATE) " +
      "PARTITIONED BY (years(d))")
    spark.sql(s"INSERT INTO $cat.y VALUES (1, DATE '1969-06-01'), " +
      "(2, DATE '1971-02-03')")
    val ym = Versioned.manifestOf(spark, s"$wh/y", 1)
    assert(ym.ptags.map(_._3).toSet == Set("-1", "1"),
      s"years(date) tags are years-since-1970 (negative pre-epoch): " +
        s"${ym.ptags}")
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    val e = intercept[Exception](spark.sql(
      s"CREATE TABLE $cat.hd (k BIGINT, d DATE) PARTITIONED BY (hours(d))"))
    assert(msgs(e).exists(_.contains("hours() needs a timestamp")),
      msgs(e).mkString("|"))
  }

  test("branch addressing (q311): name resolution precedence, dropped-branch errors, stream guards") {
    val wh = useWarehouse("branchaddr")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT)")
    spark.sql(s"INSERT INTO $cat.t VALUES (1)")                        // v1
    spark.sql(s"INSERT INTO $cat.t VALUES (2)")                        // v2
    val dir = s"$wh/t"
    // a tag and a branch sharing a name: the TAG wins (precedence
    // number > tag > branch) — a tag is a pinned version, a branch
    // follows its head; shadowing resolves to the stabler ref
    spark.sql(s"CALL $cat.system.tag('t', 'x', 1)")
    spark.sql(s"CALL $cat.system.branch('t', 'x')") // based at v2
    spark.sql(s"INSERT INTO $cat.t.branch_x VALUES (99)")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t VERSION AS OF 'x'")
      .as[Long].head() == 1L, "tag must shadow the same-named branch")
    spark.sql(s"CALL $cat.system.drop_tag('t', 'x')")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t VERSION AS OF 'x'")
      .as[Long].head() == 3L, "with the tag gone the branch head serves")
    // a branch ref is LIVE: it follows later branch commits
    spark.sql(s"INSERT INTO $cat.t.branch_x VALUES (100)")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t VERSION AS OF 'x'")
      .as[Long].head() == 4L)
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    // dropping the branch: the ref stops resolving, the error names
    // both ref kinds
    spark.sql(s"CALL $cat.system.drop_branch('t', 'x')")
    val e1 = intercept[Exception](
      spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 'x'").collect())
    assert(msgs(e1).exists(m => m.contains("tag") && m.contains("branch")),
      msgs(e1).mkString("|"))
    // a branch stream fails loudly once the ref is gone
    spark.sql(s"CALL $cat.system.branch('t', 'feed')")
    spark.sql(s"INSERT INTO $cat.t.branch_feed VALUES (7)")
    val src = spark.readStream.format("graft-versioned")
      .option("path", dir).option("branch", "feed").load()
    spark.sql(s"CALL $cat.system.drop_branch('t', 'feed')")
    val e2 = intercept[Exception] {
      val q = src.writeStream.format("memory").queryName("q311_gone")
        .option("checkpointLocation", s"$wh/ck_gone")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    assert(msgs(e2).exists(_.contains("no branch")), msgs(e2).mkString("|"))
    // streaming INTO a branch is rejected with guidance (an existing
    // branch — a nonexistent one fails earlier, at ref resolution)
    spark.sql(s"CALL $cat.system.branch('t', 'sink')")
    val e3 = intercept[Exception] {
      val q = spark.readStream.format("graft-versioned")
        .option("path", dir).option("startingVersion", 0).load()
        .selectExpr("k")
        .writeStream.format("graft-versioned")
        .option("path", dir).option("branch", "sink")
        .option("checkpointLocation", s"$wh/ck_in")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    assert(msgs(e3).exists(_.contains("streaming INTO a branch")),
      msgs(e3).mkString("|"))
  }

  test("DROP TABLE through the OCC ledger (q312): drop-vs-append races, crash healing") {
    val wh = useWarehouse("droptable")
    // order B — the append WINS the slot, the drop takes its result:
    // a plain serialized drop; the dir goes completely
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT)")
    spark.sql(s"INSERT INTO $cat.t VALUES (1)")
    spark.sql(s"DROP TABLE $cat.t")
    assert(!new java.io.File(s"$wh/t").exists(),
      "a completed drop leaves no shell")
    assertThrows[Exception](spark.sql(s"SELECT * FROM $cat.t").collect())
    // the name is immediately reusable, fresh
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v STRING)")
    assert(spark.sql(s"SELECT * FROM $cat.t").columns.toSeq == Seq("k", "v"))
    assert(Versioned.versions(spark, s"$wh/t").isEmpty)
    spark.sql(s"DROP TABLE $cat.t")
    // order A — the DROP wins the slot while a writer has already
    // staged its files (the staged write runs before the writer's slot):
    // simulate the interleaving by running the drop's ledger half
    // without the final shell delete (the crash window), then letting
    // the writer try to commit
    spark.sql(s"CREATE TABLE $cat.t2 (k BIGINT)")
    spark.sql(s"INSERT INTO $cat.t2 VALUES (1)")
    val dir = s"$wh/t2"
    Versioned.dropTableContents(spark, dir) // marker laid, content gone
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    val e1 = intercept[Exception](
      Versioned.append(Seq(2L).toDF("k"), dir))
    assert(msgs(e1).exists(_.contains("dropped")), msgs(e1).mkString("|"))
    // the marked shell reads as NO TABLE everywhere
    assert(intercept[Exception](
      spark.sql(s"SELECT * FROM $cat.t2").collect()) != null)
    assert(!spark.sql(s"SHOW TABLES IN $cat").collect()
      .map(_.getString(1)).contains("t2"))
    // CREATE of the same name heals the crashed drop inside its slot
    spark.sql(s"CREATE TABLE $cat.t2 (k BIGINT, note STRING)")
    assert(!new java.io.File(s"$dir/${Versioned.DroppedMarker}").exists(),
      "CREATE must clear the crashed drop's marker")
    spark.sql(s"INSERT INTO $cat.t2 VALUES (9, 'fresh')")
    assert(spark.sql(s"SELECT note FROM $cat.t2").as[String]
      .collect().toSeq == Seq("fresh"))
    assert(Versioned.versions(spark, dir) == Seq(1L),
      "the healed table starts a fresh lineage")
    // DROP of a crashed-drop shell finishes the cleanup (reports
    // not-found — the table was already gone)
    spark.sql(s"CREATE TABLE $cat.t3 (k BIGINT)")
    spark.sql(s"INSERT INTO $cat.t3 VALUES (1)")
    Versioned.dropTableContents(spark, s"$wh/t3")
    // SQL DROP IF EXISTS short-circuits on a not-found table (the
    // shell reads as no-table), so it is a clean no-op here...
    spark.sql(s"DROP TABLE IF EXISTS $cat.t3")
    // ...and the CATALOG drop verb itself finishes the cleanup when
    // invoked on the shell (reporting not-found)
    val tcat = spark.sessionState.catalogManager.catalog(cat)
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
    assert(!tcat.dropTable(org.apache.spark.sql.connector.catalog.Identifier
      .of(Array.empty[String], "t3")))
    assert(!new java.io.File(s"$wh/t3").exists(),
      "dropTable on a crashed drop's shell heals it")
  }

  test("t.branches metadata table: live refs with staged-delta sizes") {
    useWarehouse("branchesmeta")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT)")
    spark.sql(s"INSERT INTO $cat.t SELECT id FROM range(5)")           // v1
    spark.sql(s"CALL $cat.system.branch('t', 'a')")
    spark.sql(s"INSERT INTO $cat.t.branch_a " +
      "SELECT /*+ REPARTITION(1) */ id FROM range(10, 13)")
    spark.sql(s"CALL $cat.system.branch('t', 'b')") // unwritten
    val rows = spark.sql(s"SELECT name, base_version, head_seq, " +
      s"staged_files, staged_rows FROM $cat.t.branches ORDER BY name")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getInt(3), r.getLong(4))).toSeq
    assert(rows == Seq(("a", 1L, 1L, 1, 3L), ("b", 1L, 0L, 0, 0L)),
      s"got $rows")
    spark.sql(s"CALL $cat.system.fast_forward('t', 'a')")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t.branches")
      .as[Long].head() == 1L, "published branches leave the table")
  }

  test("cherry_pick (q314): conflict rejection — rewritten branch state, replaced main, crash healing") {
    val wh = useWarehouse("cherrypick")
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    // (a) a branch that DELETEd (rewrote) base state is not an
    // append-only delta — rejected loudly, nothing moves
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT)")
    spark.sql(s"INSERT INTO $cat.t SELECT id FROM range(5)")           // v1
    spark.sql(s"CALL $cat.system.branch('t', 'a')")
    spark.sql(s"INSERT INTO $cat.t.branch_a VALUES (100)")             // b1
    spark.sql(s"DELETE FROM $cat.t.branch_a WHERE k = 2")              // b2: COW
    spark.sql(s"INSERT INTO $cat.t VALUES (50)")                       // v2 moved
    val e1 = intercept[Exception](
      spark.sql(s"CALL $cat.system.cherry_pick('t', 'a')"))
    assert(msgs(e1).exists(_.contains("rewrote, deleted, or evolved")),
      msgs(e1).mkString("|"))
    assert(Versioned.versions(spark, s"$wh/t") == Seq(1L, 2L) &&
      Versioned.branches(spark, s"$wh/t").keySet == Set("a"),
      "a rejected cherry_pick moves nothing, the branch survives")
    // (b) a REPLACE resets main's schema lineage — the delta's eras no
    // longer map; rejected loudly
    spark.sql(s"CREATE TABLE $cat.t2 (k BIGINT)")
    spark.sql(s"INSERT INTO $cat.t2 VALUES (1)")                       // v1
    spark.sql(s"CALL $cat.system.branch('t2', 'b')")
    spark.sql(s"INSERT INTO $cat.t2.branch_b VALUES (2)")              // b1
    spark.sql(s"CREATE OR REPLACE TABLE $cat.t2 AS SELECT 'x' AS v")   // v2
    val e2 = intercept[Exception](
      spark.sql(s"CALL $cat.system.cherry_pick('t2', 'b')"))
    assert(msgs(e2).exists(_.contains("no longer covers")),
      msgs(e2).mkString("|"))
    // (c) appended main EVOLUTION is fine: the delta's files keep
    // their own era and read under the current schema
    spark.sql(s"CREATE TABLE $cat.t3 (k BIGINT)")
    spark.sql(s"INSERT INTO $cat.t3 VALUES (1)")                       // v1
    spark.sql(s"CALL $cat.system.branch('t3', 'c')")
    spark.sql(s"INSERT INTO $cat.t3.branch_c VALUES (2)")              // b1
    spark.sql(s"ALTER TABLE $cat.t3 ADD COLUMN note STRING")           // v2
    spark.sql(s"INSERT INTO $cat.t3 VALUES (3, 'n3')")                 // v3
    spark.sql(s"CALL $cat.system.cherry_pick('t3', 'c')")              // v4
    assert(spark.sql(s"SELECT k, note FROM $cat.t3 ORDER BY k")
      .as[(Long, Option[String])].collect().toSeq ==
      Seq((1L, None), (2L, None), (3L, Some("n3"))),
      "the cherry-picked pre-evolution file reads note as NULL")
    // (d) crash healing: the publish manifest landed but the branch
    // drop did not — a re-run finds the delta already on main and
    // finishes the cleanup idempotently (no double-publish)
    spark.sql(s"CREATE TABLE $cat.t4 (k BIGINT)")
    spark.sql(s"INSERT INTO $cat.t4 VALUES (1)")                       // v1
    spark.sql(s"CALL $cat.system.branch('t4', 'd')")
    spark.sql(s"INSERT INTO $cat.t4.branch_d VALUES (2)")              // b1
    spark.sql(s"INSERT INTO $cat.t4 VALUES (3)")                       // v2
    val dir4 = s"$wh/t4"
    // snapshot the branch state the crash would leave behind
    def slurp(name: String): Array[Byte] =
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$dir4/$name"))
    val refBytes = slurp("_branches.tsv")
    val bmBytes = slurp("_manifests/b-000000001-d.manifest")
    spark.sql(s"CALL $cat.system.cherry_pick('t4', 'd')")              // v3
    // the crash window: manifest landed, cleanup never ran
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir4/_branches.tsv"), refBytes)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir4/_manifests/b-000000001-d.manifest"),
      bmBytes)
    // the re-run detects the delta already on main, finishes the drop,
    // and commits NOTHING new
    assert(spark.sql(s"CALL $cat.system.cherry_pick('t4', 'd')")
      .head().getLong(0) == 3L)
    assert(Versioned.versions(spark, dir4) == Seq(1L, 2L, 3L) &&
      Versioned.branches(spark, dir4).isEmpty,
      "healing must not double-publish")
    assert(spark.sql(s"SELECT k FROM $cat.t4 ORDER BY k").as[Long]
      .collect().toSeq == Seq(1L, 2L, 3L))
  }

  test("restore: of-restore, vacuum pinning, mor state, loud guards") {
    val wh = useWarehouse("restore")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT)")
    spark.sql(s"INSERT INTO $cat.t SELECT id FROM range(10)")          // v1
    Versioned.deleteKeysMor(spark, s"$wh/t", "k", Seq(3L, 4L).toDF("k")) // v2
    spark.sql(s"INSERT OVERWRITE $cat.t VALUES (999)")                 // v3
    // restore to the MOR state: sidecars come back with the entries
    spark.sql(s"CALL $cat.system.restore('t', 2)")                     // v4
    assert(spark.sql(s"SELECT k FROM $cat.t ORDER BY k").as[Long]
      .collect().toSeq == (0L to 9L).filterNot(Set(3L, 4L)), "mor restore")
    val m2 = Versioned.manifestOf(spark, s"$wh/t", 2)
    val m4 = Versioned.manifestOf(spark, s"$wh/t", 4)
    assert(m4.entries.toSet == m2.entries.toSet && m4.dvs == m2.dvs)
    // restore-of-restore: undo the undo (back to v3's state)
    spark.sql(s"CALL $cat.system.restore('t', 3)")                     // v5
    assert(spark.sql(s"SELECT k FROM $cat.t").as[Long].collect().toSeq
      == Seq(999L))
    // vacuum after restore: retention drops v1..v3's manifests, but
    // the restored head's files survive — head references win
    spark.sql(s"CALL $cat.system.restore('t', 1)")                     // v6
    spark.sql(s"CALL $cat.system.vacuum('t', 1)")
    assert(Versioned.versions(spark, s"$wh/t") == Seq(6L))
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").as[Long].head() == 10L,
      "the restored files must survive a vacuum that dropped their " +
        "original manifest (COW pinning through the new head)")
    // restoring a nonexistent / vacuumed version fails loudly
    val e = intercept[Exception](
      spark.sql(s"CALL $cat.system.restore('t', 2)"))
    assert(e.getMessage.contains("does not exist"), e.getMessage)
  }

  test("tags survive the rewrite crash window (tmp fallback) and keep pinning") {
    val wh = useWarehouse("tagcrash")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT)")
    spark.sql(s"INSERT INTO $cat.t SELECT id FROM range(5)")       // v1
    spark.sql(s"INSERT INTO $cat.t SELECT id FROM range(5, 9)")    // v2
    spark.sql(s"INSERT INTO $cat.t SELECT id FROM range(9, 12)")   // v3
    spark.sql(s"CALL $cat.system.tag('t', 'keep', 1)")
    val dir = s"$wh/t"
    // simulate the crash between writeTags' delete and rename: only
    // the tmp exists
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir, "_tags.tsv"),
      new org.apache.hadoop.fs.Path(dir, "_tags.tsv.tmp")))
    assert(Versioned.tags(spark, dir) == Map("keep" -> 1L),
      "the tmp sibling holds the complete intended tag state")
    // the pin is LIVE through the fallback: vacuum must keep v1
    spark.sql(s"CALL $cat.system.vacuum('t', 1)")
    assert(Versioned.versions(spark, dir) == Seq(1L, 3L))
    assert(spark.sql(s"SELECT count(*) FROM $cat.t VERSION AS OF 'keep'")
      .as[Long].head() == 5L)
  }

  test("SQL metadata tables: t.history / t.files / t.tags") {
    val wh = useWarehouse("metatables")
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $cat.db.t SELECT id, concat('a', id) FROM range(10)")
    spark.sql(s"INSERT INTO $cat.db.t SELECT id, concat('b', id) FROM range(10, 14)")
    Versioned.deleteKeysMor(spark, s"$wh/db/t", "k", Seq(0L).toDF("k")) // v3
    spark.sql(s"CALL $cat.system.tag('db.t', 'baseline', 1)")
    // history: one row per version, MOR-exact counts, WHERE on top
    val hist = spark.sql(s"SELECT version, n_rows FROM $cat.db.t.history " +
      "WHERE version >= 2 ORDER BY version").as[(Long, Long)].collect().toSeq
    assert(hist == Seq((2L, 14L), (3L, 13L)), s"got $hist")
    // committed_at populated; the tag shows on its version's row
    val tagged = spark.sql(s"SELECT tags FROM $cat.db.t.history WHERE version = 1")
      .as[String].head()
    assert(tagged == "baseline")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.t.history " +
      "WHERE committed_at IS NULL").as[Long].head() == 0L)
    // files: the current manifest's entries
    val m = Versioned.manifestOf(spark, s"$wh/db/t", 3)
    val files = spark.sql(s"SELECT file, n_rows FROM $cat.db.t.files")
      .as[(String, Long)].collect().toMap
    assert(files == m.entries.map(e => e._1 -> e._2).toMap)
    // tags: name + version + creation time
    val tagRows = spark.sql(s"SELECT name, version, created_at IS NOT NULL " +
      s"FROM $cat.db.t.tags").as[(String, Long, Boolean)].collect().toSeq
    assert(tagRows == Seq(("baseline", 1L, true)))
    // a REAL table named like a suffix always wins resolution
    spark.sql(s"CREATE TABLE $cat.db.history (note STRING)")
    spark.sql(s"INSERT INTO $cat.db.history VALUES ('real data')")
    assert(spark.sql(s"SELECT note FROM $cat.db.history").as[String]
      .head() == "real data")
    // no parent table → no metadata table
    assertThrows[Exception](
      spark.sql(s"SELECT * FROM $cat.db.nope.history").collect())
  }

  test("retention policy: vacuum() with no count honors graft.retention.versions") {
    val wh = useWarehouse("retention")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT) " +
      "TBLPROPERTIES('graft.retention.versions'='2')")
    (1 to 4).foreach(i =>
      spark.sql(s"INSERT INTO $cat.t SELECT id FROM range(${i * 10})"))
    spark.sql(s"CALL $cat.system.vacuum('t')")
    assert(Versioned.versions(spark, s"$wh/t") == Seq(3L, 4L))
    // an explicit count still overrides the policy
    spark.sql(s"INSERT INTO $cat.t VALUES (999)")                  // v5
    spark.sql(s"CALL $cat.system.vacuum('t', 1)")
    assert(Versioned.versions(spark, s"$wh/t") == Seq(5L))
    // no policy and no count fails loudly
    spark.sql(s"CREATE TABLE $cat.t2 (k BIGINT)")
    spark.sql(s"INSERT INTO $cat.t2 VALUES (1)")
    val e = intercept[Exception](spark.sql(s"CALL $cat.system.vacuum('t2')"))
    assert(e.getMessage.contains("graft.retention.versions"))
    // EVERY explicit non-positive count is rejected — including -1,
    // which an integer omitted-default sentinel would silently reroute
    // to the policy (the default is NULL, not expressible by a user)
    Seq(-1, 0).foreach { k =>
      val ek = intercept[Exception](
        spark.sql(s"CALL $cat.system.vacuum('t', $k)"))
      assert(ek.getMessage.contains("must be >= 1"), s"k=$k: ${ek.getMessage}")
    }
    // a malformed policy value fails the CREATE, not the vacuum
    val e2 = intercept[Exception](spark.sql(s"CREATE TABLE $cat.t3 (k BIGINT) " +
      "TBLPROPERTIES('graft.retention.versions'='soon')"))
    assert(e2.getMessage.contains("positive int"))
  }

  test("MIN/MAX pushdown edges: added-column NULL, fp refusal, race-window exactness") {
    val wh = useWarehouse("minmax")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, x DOUBLE)")
    spark.sql(s"INSERT INTO $cat.t SELECT id, id * 1.5 FROM range(1, 101)")
    def plan(q: String): String =
      spark.sql(q).queryExecution.executedPlan.toString
    // integral extremes push
    val p1 = plan(s"SELECT MIN(k), MAX(k) FROM $cat.t")
    assert(p1.contains("PushedAggregates") && !p1.contains("HashAggregate"), p1)
    assert(spark.sql(s"SELECT MIN(k), MAX(k) FROM $cat.t")
      .as[(Long, Long)].head() == ((1L, 100L)))
    // FLOATING POINT never pushes: parquet envelopes are NaN-blind
    // while Spark sorts NaN above +Inf — fallback, exact either way
    val p2 = plan(s"SELECT MAX(x) FROM $cat.t")
    assert(!p2.contains("PushedAggregates"), p2)
    // a column added after every live file: the exact answer is NULL
    // and the manifest knows it without opening a file
    spark.sql(s"ALTER TABLE $cat.t ADD COLUMN later BIGINT")
    val p3 = plan(s"SELECT MIN(later) FROM $cat.t")
    assert(p3.contains("PushedAggregates"), p3)
    assert(spark.sql(s"SELECT MIN(later) FROM $cat.t").head().isNullAt(0))
    // a filter disables the offer (all filters stay residual)
    val p4 = plan(s"SELECT MIN(k) FROM $cat.t WHERE k > 10")
    assert(!p4.contains("PushedAggregates"), p4)
    assert(spark.sql(s"SELECT MIN(k) FROM $cat.t WHERE k > 10")
      .as[Long].head() == 11L)
    // RACE WINDOW: a MOR delete landing AFTER analysis but BEFORE
    // execution — the plan says pushed, the execution re-check sees
    // the sidecar and computes by real scan: exact, never stale
    val df = spark.sql(s"SELECT MIN(k) FROM $cat.t")
    assert(df.queryExecution.executedPlan.toString.contains("PushedAggregates"))
    Versioned.deleteKeysMor(spark, s"$wh/t", "k", Seq(1L, 2L).toDF("k"))
    assert(df.as[Long].head() == 3L,
      "the pushed plan must re-check at execution and stay exact")
  }

  test("manifest statistics drive broadcast planning without hints") {
    import org.apache.spark.sql.functions.col
    useWarehouse("stats")
    spark.sql(s"CREATE TABLE $cat.dim (k BIGINT, label STRING)")
    spark.sql(s"INSERT INTO $cat.dim SELECT id, concat('d', id) FROM range(25)")
    spark.sql(s"CREATE TABLE $cat.big (k BIGINT, label STRING)")
    spark.sql(s"INSERT INTO $cat.big SELECT id % 25, concat('b', id) FROM range(5000)")
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // dim: 25 rows × ~28 B ≈ 700 B; big: 5000 × 28 ≈ 140 kB; one
      // range-clustered slice of bigr: 625 × 28 ≈ 17.5 kB — a 50 kB
      // threshold separates all three estimates
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "51200")
      val fact = spark.range(0, 100000).selectExpr("id % 25 AS k", "id AS v")
      // the INITIAL plan (pre-AQE, isFinalPlan=false) must already be a
      // broadcast join: that is the estimate speaking — AQE fixing it
      // later from runtime sizes would not help a 100 TB first stage
      val small = fact.join(spark.table(s"$cat.dim"), "k")
      val initSmall = small.queryExecution.executedPlan.toString
      assert(initSmall.contains("BroadcastHashJoin"),
        s"a 25-row catalog table must broadcast from its estimate:\n$initSmall")
      assert(small.count() == 100000L)
      // and the estimate must be HONEST: a catalog table over the
      // threshold must NOT be priced as broadcastable
      val bigJoin = fact.join(spark.table(s"$cat.big"), "k")
      val initBig = bigJoin.queryExecution.executedPlan.toString
      assert(!initBig.contains("BroadcastHashJoin") ||
        initBig.contains("isFinalPlan=true"),
        s"a large catalog table must not broadcast from its estimate:\n$initBig")
      // a selective pushed range SHRINKS the estimate: the same big
      // table filtered to one range-clustered slice broadcasts again
      spark.sql(s"CREATE TABLE $cat.bigr (k BIGINT, label STRING)")
      spark.sql(s"INSERT INTO $cat.bigr SELECT /*+ REPARTITION_BY_RANGE(8, k) */ " +
        "id AS k, concat('b', id) AS label FROM range(5000)")
      val sliced = fact.join(
        spark.table(s"$cat.bigr").filter(col("k") < 100)
          .withColumnRenamed("k", "kk"),
        col("k") === col("kk") % 25)
      val initSliced = sliced.queryExecution.executedPlan.toString
      assert(initSliced.contains("BroadcastHashJoin"),
        s"a pruned scan must be priced at its post-prune size:\n$initSliced")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
  }

  test("PARTITIONED BY guards: multi-col/bucket rejected, NULL values loud, t.files shows layout") {
    val wh = useWarehouse("pby")
    // bucket transforms are rejected with guidance (clustering is
    // OPTIMIZE ZORDER's job); multi-column and temporal specs are
    // features (q303/q304)
    val e2 = intercept[Exception](spark.sql(
      s"CREATE TABLE $cat.p2 (k BIGINT) PARTITIONED BY (bucket(4, k))"))
    assert(e2.getMessage.contains("optimize_zorder") ||
      e2.getMessage.contains("identity"), e2.getMessage)
    // a temporal transform needs a date/timestamp source — loud at DDL
    val e1 = intercept[Exception](spark.sql(
      s"CREATE TABLE $cat.p1 (k BIGINT, a STRING) PARTITIONED BY (days(a))"))
    assert(e1.getMessage.contains("date or timestamp"), e1.getMessage)
    // years/hours ARE supported since q310 — pinned in their own spec
    // a DATE source partitions by days too (epoch-day identity)
    spark.sql(s"CREATE TABLE $cat.pd (k BIGINT, d DATE) " +
      "PARTITIONED BY (days(d))")
    spark.sql(s"INSERT INTO $cat.pd SELECT id, " +
      "date_add(DATE '1970-01-01', CAST(id % 3 AS INT)) FROM range(30)")
    val mpd = Versioned.manifestOf(spark, s"$wh/pd", 1)
    assert(mpd.ptags.map(_._3).toSet == Set("0", "1", "2") &&
      mpd.ptags.forall(_._2 == "days(d)"), s"got ${mpd.ptags}")
    assert(spark.sql(s"SELECT COUNT(DISTINCT _file) FROM $cat.pd " +
      "WHERE d = DATE '1970-01-02'").head().getLong(0) == 1L,
      "a date equality must prune to its day-file")
    // a NULL partition value fails the INSERT loudly, nothing commits
    spark.sql(s"CREATE TABLE $cat.p3 (k BIGINT, cat STRING) PARTITIONED BY (cat)")
    val e3 = intercept[Exception](spark.sql(
      s"INSERT INTO $cat.p3 VALUES (1, 'x'), (2, NULL)"))
    assert(e3.getMessage.contains("NULL partition values") ||
      Option(e3.getCause).exists(_.getMessage.contains("NULL partition values")),
      e3.getMessage)
    assert(Versioned.versions(spark, s"$wh/p3").isEmpty)
    // the happy path tags files; t.files (q294) surfaces the layout
    spark.sql(s"INSERT INTO $cat.p3 SELECT id, 'c' || (id % 3) FROM range(30)")
    val layout = spark.sql(s"SELECT partition_col, partition_value, n_rows " +
      s"FROM $cat.p3.files ORDER BY partition_value")
      .as[(String, String, Long)].collect().toSeq
    assert(layout == Seq(("cat", "c0", 10L), ("cat", "c1", 10L),
      ("cat", "c2", 10L)), s"got $layout")
    // and DESCRIBE reports the partition spec
    val desc = spark.sql(s"DESCRIBE TABLE $cat.p3").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    val partSection = desc.dropWhile(_._1 != "# Partition Information")
    assert(partSection.contains(("cat", "string")), s"got $desc")
    // path-escaped values prune EXACTLY: the tag stores Spark's escaped
    // rendering, and the predicate literal goes through the SAME
    // escaping — a value containing DEL (which an ad-hoc blacklist
    // missed) must both prune to its file and return its rows
    spark.sql(s"CREATE TABLE $cat.p4 (k BIGINT, cat STRING) PARTITIONED BY (cat)")
    Seq((1L, "ab"), (2L, "ab"), (3L, "plain"))
      .toDF("k", "cat").createOrReplaceTempView("pby_esc")
    spark.sql(s"INSERT INTO $cat.p4 SELECT k, cat FROM pby_esc")
    val hit = spark.sql(
      s"SELECT k FROM $cat.p4 WHERE cat = 'ab' ORDER BY k")
      .as[Long].collect().toSeq
    assert(hit == Seq(1L, 2L),
      s"an escaped-value partition must not be wrongly pruned: $hit")
    assert(spark.sql(s"SELECT COUNT(DISTINCT _file) FROM $cat.p4 " +
      s"WHERE cat = 'ab'").head().getLong(0) == 1L,
      "and it must prune to exactly its own file")
  }

  test("CTAS, listTables, DROP TABLE, and the write-to-time-travel guard") {
    useWarehouse("ctas")
    spark.sql(s"CREATE TABLE $cat.src AS SELECT id AS k, id * 2 AS dbl " +
      "FROM range(5)")
    assert(spark.sql(s"SELECT sum(dbl) FROM $cat.src").as[Long].head() == 20L)
    assert(spark.sql(s"SHOW TABLES IN $cat").collect()
      .map(_.getString(1)).toSet == Set("src"))
    spark.sql(s"DROP TABLE $cat.src")
    assertThrows[Exception](spark.sql(s"SELECT * FROM $cat.src").collect())
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Staging
import graft.sources.Versioned

/** SQL row-level writes on the versioned table
  * ([[graft.sources.v2.GraftRowLevelOperation]]): UPDATE, MERGE INTO
  * (every clause family), group-based DELETE for untranslatable
  * predicates, the runtime group-filter's file pruning, composition
  * with schema evolution + MOR delete sidecars, and the snapshot
  * conflict contract. Everything goes through `spark.sql` TEXT.
  */
class RowLevelSqlSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val cat = "graft_rl_cat"

  private def useWarehouse(name: String): String = {
    val wh = Staging.scratch("graft-rowlevel-spec", name).getAbsolutePath
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.v2.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    wh
  }

  test("UPDATE rewrites only files containing matches; others stay shared") {
    val wh = useWarehouse("upd")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $cat.t SELECT id, concat('v', id) FROM range(1, 41)")
    val dir = s"$wh/t"
    val f1 = Versioned.manifestOf(spark, dir, 1).entries.map(_._1).toSet
    assert(f1.size > 2, "need multiple files to observe pruning")
    spark.sql(s"UPDATE $cat.t SET v = upper(v) WHERE k = 7")   // v2
    val m2 = Versioned.manifestOf(spark, dir, 2)
    val f2 = m2.entries.map(_._1).toSet
    // the runtime group filter confined the rewrite to ONE file
    assert((f1 diff f2).size == 1, s"expected 1 replaced file, got ${f1 diff f2}")
    assert((f2 diff f1).size == 1)
    val rows = spark.sql(s"SELECT * FROM $cat.t").as[(Long, String)]
      .collect().toSet
    assert(rows == (1L to 40L).map(k => (k, if (k == 7) "V7" else s"v$k")).toSet)
    // time travel: pre-update state intact
    assert(spark.sql(s"SELECT v FROM $cat.t VERSION AS OF 1 WHERE k = 7")
      .as[String].head() == "v7")
    // a no-match UPDATE commits a no-op version (nothing replaced)
    spark.sql(s"UPDATE $cat.t SET v = 'x' WHERE k = 999")      // v3
    assert(Versioned.manifestOf(spark, dir, 3).entries.map(_._1).toSet == f2)
  }

  test("UPDATE 3VL: a NULL condition never updates") {
    useWarehouse("upd3vl")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $cat.t VALUES (1, 'a'), (2, NULL), (3, 'c')")
    spark.sql(s"UPDATE $cat.t SET v = 'HIT' WHERE v <> 'c'")
    assert(spark.sql(s"SELECT * FROM $cat.t").as[(Long, Option[String])]
      .collect().toSet ==
      Set((1L, Some("HIT")), (2L, None), (3L, Some("c"))))
  }

  test("MERGE INTO: matched update/delete, not-matched insert, not-matched-by-source") {
    val wh = useWarehouse("merge")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $cat.t SELECT id, concat('v', id) FROM range(1, 41)")
    val dir = s"$wh/t"
    val f1 = Versioned.manifestOf(spark, dir, 1).entries.map(_._1).toSet
    spark.sql("SELECT id AS k, concat('new', id) AS v, id % 2 = 0 AS del " +
      "FROM range(39, 45)").createOrReplaceTempView("rl_src")
    spark.sql(s"""MERGE INTO $cat.t t USING rl_src s ON t.k = s.k
      WHEN MATCHED AND s.del THEN DELETE
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""")      // v2
    val rows = spark.sql(s"SELECT * FROM $cat.t").as[(Long, String)]
      .collect().toSet
    val expected = (1L to 38L).map(k => (k, s"v$k")).toSet +
      ((39L, "new39")) ++ Seq(41L, 42L, 43L, 44L).map(k => (k, s"new$k"))
    assert(rows == expected) // 40 matched+del → gone
    // group filter: only files containing k∈{39,40} were rewritten
    val f2 = Versioned.manifestOf(spark, dir, 2).entries.map(_._1).toSet
    assert((f1 intersect f2).nonEmpty, "MERGE must not rewrite the whole table")
    // NOT MATCHED BY SOURCE: deletes / updates of target rows the
    // source lacks (this clause legitimately scans every file)
    spark.sql("SELECT id AS k FROM range(1, 100)")
      .createOrReplaceTempView("rl_keep")
    spark.sql(s"""MERGE INTO $cat.t t USING rl_keep s ON t.k = s.k AND s.k < 10
      WHEN NOT MATCHED BY SOURCE AND t.k > 35 THEN DELETE""")        // v3
    assert(spark.sql(s"SELECT max(k), count(*) FROM $cat.t")
      .as[(Long, Long)].head() == ((35L, 35L)))
  }

  test("MERGE INTO an empty table: pure not-matched insert path") {
    useWarehouse("mergeempty")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v STRING)")
    spark.sql("SELECT id AS k, concat('s', id) AS v FROM range(3)")
      .createOrReplaceTempView("rl_seed")
    spark.sql(s"""MERGE INTO $cat.t t USING rl_seed s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""")
    assert(spark.sql(s"SELECT * FROM $cat.t").as[(Long, String)]
      .collect().toSet == Set((0L, "s0"), (1L, "s1"), (2L, "s2")))
  }

  test("DELETE with an untranslatable predicate goes group-based and works") {
    val wh = useWarehouse("deluntr")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $cat.t SELECT id, repeat('x', CAST(id % 5 AS INT)) " +
      "FROM range(1, 41)")
    // length(v) is not a source Filter — pre-q283 this failed the
    // statement; now it lands as a ReplaceData rewrite
    spark.sql(s"DELETE FROM $cat.t WHERE length(v) >= 3")
    val left = spark.sql(s"SELECT k FROM $cat.t").as[Long].collect().toSet
    assert(left == (1L to 40L).filter(k => k % 5 < 3).toSet)
    // and the table is still fully functional afterwards
    assert(Versioned.history(spark, s"$wh/t").last._3 == left.size.toLong)
  }

  test("row-level ops compose with evolution eras and MOR sidecars") {
    val wh = useWarehouse("evo")
    spark.sql(s"CREATE TABLE $cat.t (k INT, val STRING, ts TIMESTAMP, d DATE, amt DECIMAL(10,2))")
    spark.sql(s"INSERT INTO $cat.t SELECT CAST(id AS INT), concat('v', id), " +
      "timestamp'2026-01-01 10:00:00' + make_interval(0,0,0,0,0,0,id), " +
      "date'2026-01-01' + CAST(id AS INT), CAST(id AS DECIMAL(10,2)) / 4 " +
      "FROM range(1, 21)")                                          // v1 era 0
    spark.sql(s"ALTER TABLE $cat.t RENAME COLUMN val TO label")     // v2
    spark.sql(s"ALTER TABLE $cat.t ADD COLUMN extra BIGINT")        // v3
    spark.sql(s"ALTER TABLE $cat.t ALTER COLUMN k TYPE BIGINT")     // v4
    spark.sql(s"INSERT INTO $cat.t SELECT id, concat('w', id), " +
      "timestamp'2026-02-01 10:00:00', date'2026-02-02', " +
      "CAST(id AS DECIMAL(10,2)), id * 100 FROM range(21, 31)")     // v5 era 3
    val dir = s"$wh/t"
    Versioned.deleteKeysMor(spark, dir, "k", Seq(5L, 6L, 7L).toDF("k")) // v6
    // UPDATE touches a dv'd old-era file AND a new-era file: the
    // rewrite must apply the rename/add/widen recipe AND must not
    // resurrect the dv-deleted keys
    spark.sql(s"UPDATE $cat.t SET label = upper(label), " +
      s"extra = coalesce(extra, -1) WHERE k IN (4, 24)")            // v7
    val rows = spark.sql(s"SELECT k, label, extra FROM $cat.t " +
      "WHERE k IN (4, 5, 24)").as[(Long, String, Long)].collect().toSet
    assert(rows == Set((4L, "V4", -1L), (24L, "W24", 2400L)),
      s"dv'd k=5 must stay deleted and both eras must update: $rows")
    // decimal round-trips through the Group decode + ParquetWriteSupport
    assert(spark.sql(s"SELECT CAST(amt * 4 AS BIGINT) FROM $cat.t WHERE k = 4")
      .as[Long].head() == 4L)
    // timestamps and dates survive the rewrite byte-exactly
    assert(spark.sql(s"SELECT CAST(ts AS STRING), CAST(d AS STRING) " +
      s"FROM $cat.t WHERE k = 4").as[(String, String)].head() ==
      (("2026-01-01 10:00:04", "2026-01-05")))
    // history stayed exact through the dv + rewrite interplay
    assert(Versioned.history(spark, dir).last._3 == 27L)
    // MERGE on the evolved table: update an old-era row, insert a new key
    spark.sql("SELECT id AS k, concat('m', id) AS label FROM range(19, 23)")
      .createOrReplaceTempView("rl_evo_src")
    spark.sql(s"""MERGE INTO $cat.t t USING rl_evo_src s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET label = s.label
      WHEN NOT MATCHED THEN INSERT (k, label) VALUES (s.k, s.label)""") // v8
    assert(spark.sql(s"SELECT count(*) FROM $cat.t WHERE label LIKE 'm%'")
      .as[Long].head() == 4L)
    // time travel: version 1 still carries the narrow pre-evolution schema
    assert(spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 1").columns.toSeq ==
      Seq("k", "val", "ts", "d", "amt"))
  }

  test("snapshot conflicts: concurrent append commits, concurrent rewrite fails") {
    val wh = useWarehouse("conflict")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $cat.t SELECT id, concat('v', id) FROM range(1, 21)")
    val dir = s"$wh/t"
    // a concurrent APPEND between snapshot and commit is compatible
    // (WriteSerializable): simulate by appending via the library API
    // from a listener... simplest deterministic form: append BETWEEN
    // the update's scan and its commit is not injectable from SQL, so
    // pin the commitReplace contract directly
    val snap = Some(Versioned.manifestOf(spark, dir, 1))
    Versioned.append(Seq((100L, "x")).toDF("k", "v"), dir)          // v2
    // replaced=∅ + stale-but-compatible snapshot still commits
    val v3 = Versioned.commitReplace(spark, dir, snap, Set.empty, Seq.empty)
    assert(v3 == 3L)
    assert(Versioned.read(spark, dir).count() == 21L)
    // a concurrent REWRITE of a snapshot file fails the statement
    val snap3 = Some(Versioned.manifestOf(spark, dir, 3))
    Versioned.upsert(spark, dir, "k", Seq((1L, "CHANGED")).toDF("k", "v")) // v4
    val e = intercept[java.util.ConcurrentModificationException](
      Versioned.commitReplace(spark, dir, snap3, Set.empty, Seq.empty))
    assert(e.getMessage.contains("scanned data file"))
    // a concurrent MOR delete also fails it
    val snap4 = Some(Versioned.manifestOf(spark, dir, 4))
    Versioned.deleteKeysMor(spark, dir, "k", Seq(2L).toDF("k"))     // v5
    val e2 = intercept[java.util.ConcurrentModificationException](
      Versioned.commitReplace(spark, dir, snap4, Set.empty, Seq.empty))
    assert(e2.getMessage.contains("delete sidecars"))
    // and a concurrent schema evolution
    val snap5 = Some(Versioned.manifestOf(spark, dir, 5))
    Versioned.renameColumn(spark, dir, "v", "w")                    // v6
    val e3 = intercept[java.util.ConcurrentModificationException](
      Versioned.commitReplace(spark, dir, snap5, Set.empty, Seq.empty))
    assert(e3.getMessage.contains("schema"))
  }

  test("UPDATE a time-travel read is rejected loudly") {
    useWarehouse("guard")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT)")
    spark.sql(s"INSERT INTO $cat.t VALUES (1)")
    assertThrows[Exception](
      spark.sql(s"UPDATE $cat.t VERSION AS OF 1 SET k = 2"))
  }

  test("mor table: UPDATE/DELETE are sidecar commits — no data file rewritten") {
    val wh = useWarehouse("mor")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v STRING) " +
      "TBLPROPERTIES('graft.merge.mode'='mor','graft.key'='k')")
    spark.sql(s"INSERT INTO $cat.t SELECT id, concat('v', id) FROM range(1, 41)")
    val dir = s"$wh/t"
    val f1 = Versioned.manifestOf(spark, dir, 1).entries.map(_._1).toSet
    // UPDATE: one sidecar (deletes of old rows) + insert files; every
    // v1 file carried by reference
    spark.sql(s"UPDATE $cat.t SET v = upper(v) WHERE k IN (7, 35)")  // v2
    val m2 = Versioned.manifestOf(spark, dir, 2)
    assert(f1.subsetOf(m2.entries.map(_._1).toSet),
      "mor UPDATE must not rewrite any data file")
    assert(m2.dvs.nonEmpty, "mor UPDATE must commit a delete sidecar")
    assert(spark.sql(s"SELECT v FROM $cat.t WHERE k IN (7, 35) ORDER BY k")
      .as[String].collect().toSeq == Seq("V7", "V35"))
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").as[Long].head() == 40L)
    // DELETE — even a TRANSLATABLE predicate stays on the delta path
    // (no COW shortcut on a mor table): sidecar only, zero new files
    spark.sql(s"DELETE FROM $cat.t WHERE k >= 30 AND k <= 32")       // v3
    val m3 = Versioned.manifestOf(spark, dir, 3)
    assert(m3.entries == m2.entries, "mor DELETE must add no data file")
    assert(m3.dvs.size > m2.dvs.size)
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").as[Long].head() == 37L)
    // history stays exact through the sidecar arithmetic
    assert(Versioned.history(spark, dir).map(_._3) == Seq(40L, 40L, 37L))
    // time travel: pre-update state intact
    assert(spark.sql(s"SELECT v FROM $cat.t VERSION AS OF 1 WHERE k = 7")
      .as[String].head() == "v7")
    // OPTIMIZE physically sheds the sidecars; reads unchanged
    spark.sql(s"CALL $cat.system.optimize('t', 2)")                  // v4
    assert(Versioned.manifestOf(spark, dir, 4).dvs.isEmpty)
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").as[Long].head() == 37L)
    // MERGE on a mor table rides the SAME delta path: the matched
    // update splits into a sidecar row + an insert row, not-matched
    // keys are plain inserts — every pre-existing file carried by
    // reference, no COW rewrite
    spark.sql("SELECT id AS k, concat('m', id) AS v FROM range(40, 43)")
      .createOrReplaceTempView("rl_mor_src")
    val f4 = Versioned.manifestOf(spark, dir, 4).entries.map(_._1).toSet
    spark.sql(s"""MERGE INTO $cat.t t USING rl_mor_src s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""")      // v5
    val m5 = Versioned.manifestOf(spark, dir, 5)
    assert(f4.subsetOf(m5.entries.map(_._1).toSet),
      "mor MERGE must carry every pre-existing file by reference")
    assert(m5.dvs.nonEmpty, "the matched update must land as a sidecar row")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").as[Long].head() == 39L)
    assert(spark.sql(s"SELECT v FROM $cat.t WHERE k = 40").as[String].head() == "m40")
    // history arithmetic exact through the merge's sidecar + inserts
    assert(Versioned.history(spark, dir).last._3 == 39L)
  }

  test("mor MERGE with every clause family, incl. NOT MATCHED BY SOURCE") {
    val wh = useWarehouse("mornmbs")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v STRING) " +
      "TBLPROPERTIES('graft.merge.mode'='mor','graft.key'='k')")
    spark.sql(s"INSERT INTO $cat.t SELECT id, concat('v', id) FROM range(1, 11)")
    spark.sql("SELECT id AS k, concat('m', id) AS v FROM range(3, 13)")
      .createOrReplaceTempView("rl_nmbs_src")
    // matched update (3..10 → delete+insert sidecar rows), not-matched
    // insert (11, 12), not-matched-by-source delete (1, 2) — the
    // all-group scan NMBS needs still commits as a pure DELTA
    spark.sql(s"""MERGE INTO $cat.t t USING rl_nmbs_src s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)
      WHEN NOT MATCHED BY SOURCE AND t.k <= 2 THEN DELETE""")       // v2
    val rows = spark.sql(s"SELECT k, v FROM $cat.t ORDER BY k")
      .as[(Long, String)].collect().toSeq
    assert(rows == (3L to 12L).map(i => (i, s"m$i")),
      s"update+insert+NMBS-delete must compose: $rows")
    val dir = s"$wh/t"
    val f1 = Versioned.manifestOf(spark, dir, 1).entries.map(_._1).toSet
    val m2 = Versioned.manifestOf(spark, dir, 2)
    assert(f1.subsetOf(m2.entries.map(_._1).toSet) && m2.dvs.nonEmpty,
      "the three-clause merge must still be a sidecar+insert delta commit")
    assert(Versioned.history(spark, dir).map(_._3) == Seq(10L, 10L))
  }

  test("MERGE INTO an empty mor table: pure not-matched insert, delta path") {
    val wh = useWarehouse("mormergeempty")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v STRING) " +
      "TBLPROPERTIES('graft.merge.mode'='mor','graft.key'='k')")
    spark.sql("SELECT id AS k, concat('s', id) AS v FROM range(1, 6)")
      .createOrReplaceTempView("rl_morme_src")
    spark.sql(s"""MERGE INTO $cat.t t USING rl_morme_src s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""")      // v1
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").as[Long].head() == 5L)
    val m1 = Versioned.manifestOf(spark, s"$wh/t", 1)
    assert(m1.dvs.isEmpty, "an insert-only merge commits no sidecar")
  }

  test("mor MERGE snapshot conflict: a concurrent COW rewrite fails the statement") {
    val wh = useWarehouse("mormergeconf")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v STRING) " +
      "TBLPROPERTIES('graft.merge.mode'='mor','graft.key'='k')")
    spark.sql(s"INSERT INTO $cat.t SELECT id, concat('v', id) FROM range(1, 21)")
    val dir = s"$wh/t"
    // pin the merge's snapshot by building the source AFTER a racing
    // rewrite is set up: simulate the race by running optimize between
    // the table's snapshot (taken at plan) and the commit — hard to
    // interleave deterministically through SQL text, so drive the
    // commit gate directly: a delta commit whose snapshot no longer
    // subsets the live entries must throw
    val snap = Some(Versioned.manifestOf(spark, dir, 1))
    Versioned.optimize(spark, dir, 1) // retires every v1 file     // v2
    val e = intercept[java.util.ConcurrentModificationException](
      Versioned.commitDelta(spark, dir, snap, "k",
        Seq.empty, Seq(("nonexistent-sidecar.parquet", 1L))))
    assert(e.getMessage.contains("lost a race"))
    // and the table is untouched by the failed statement
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").as[Long].head() == 20L)
  }

  test("mor guards: creation validation and key-rename detection") {
    useWarehouse("morguard")
    // mor without a key fails the CREATE
    val e1 = intercept[Exception](spark.sql(
      s"CREATE TABLE $cat.g1 (k BIGINT) TBLPROPERTIES('graft.merge.mode'='mor')"))
    assert(e1.getMessage.contains("graft.key"))
    // a key outside the schema fails the CREATE
    val e2 = intercept[Exception](spark.sql(s"CREATE TABLE $cat.g2 (k BIGINT) " +
      "TBLPROPERTIES('graft.merge.mode'='mor','graft.key'='nope')"))
    assert(e2.getMessage.contains("not in the schema"))
    // an unknown graft.* property fails the CREATE
    val e3 = intercept[Exception](spark.sql(s"CREATE TABLE $cat.g3 (k BIGINT) " +
      "TBLPROPERTIES('graft.typo'='x')"))
    assert(e3.getMessage.contains("unknown table property"))
    // renaming the KEY column without updating graft.key is caught at
    // the next row-level write, loudly
    spark.sql(s"CREATE TABLE $cat.g4 (k BIGINT, v STRING) " +
      "TBLPROPERTIES('graft.merge.mode'='mor','graft.key'='k')")
    spark.sql(s"INSERT INTO $cat.g4 VALUES (1, 'a')")
    spark.sql(s"ALTER TABLE $cat.g4 RENAME COLUMN k TO id")
    val e4 = intercept[Exception](
      spark.sql(s"UPDATE $cat.g4 SET v = 'x' WHERE id = 1"))
    assert(e4.getMessage.contains("graft.key"))
  }

  test("mor composes with evolution eras and existing sidecars") {
    val wh = useWarehouse("morevo")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, val STRING, amt DECIMAL(10,2)) " +
      "TBLPROPERTIES('graft.merge.mode'='mor','graft.key'='k')")
    spark.sql(s"INSERT INTO $cat.t SELECT id, concat('v', id), " +
      "CAST(id AS DECIMAL(10,2)) FROM range(1, 21)")                 // v1 era 0
    spark.sql(s"ALTER TABLE $cat.t RENAME COLUMN val TO label")      // v2
    val dir = s"$wh/t"
    Versioned.deleteKeysMor(spark, dir, "k", Seq(5L).toDF("k"))      // v3
    // MOR update of an old-era row next to a pre-existing sidecar:
    // the scan applies the old sidecar (k=5 must not resurrect), the
    // new sidecar tombstones the updated row's old copy
    spark.sql(s"UPDATE $cat.t SET label = upper(label) WHERE k IN (4, 5)") // v4
    val rows = spark.sql(s"SELECT k, label FROM $cat.t WHERE k <= 6 ORDER BY k")
      .as[(Long, String)].collect().toSeq
    assert(rows == Seq((1L, "v1"), (2L, "v2"), (3L, "v3"), (4L, "V4"), (6L, "v6")),
      s"k=5 is dv-deleted (must not resurrect or update): $rows")
    assert(Versioned.history(spark, dir).last._3 == 19L)
    // decimal survives the delta insert path
    assert(spark.sql(s"SELECT CAST(amt AS STRING) FROM $cat.t WHERE k = 4")
      .as[String].head() == "4.00")
  }

  test("widen AFTER a MOR delete: the COW rewrite's dv sets coerce to the current type") {
    val wh = useWarehouse("widendv")
    // INT key, sidecar written under the NARROW physical type, THEN the
    // widen: the rewrite decodes data rows as BIGINT, so the sidecar's
    // key set must be cast to the same runtime type — an un-cast
    // Integer set member would contains()-miss every Long and silently
    // resurrect the deleted rows
    spark.sql(s"CREATE TABLE $cat.t (k INT, v STRING)")
    spark.sql(s"INSERT INTO $cat.t SELECT CAST(id AS INT), concat('v', id) " +
      "FROM range(1, 21)")                                           // v1
    val dir = s"$wh/t"
    Versioned.deleteKeysMor(spark, dir, "k", Seq(5, 6).toDF("k"))    // v2
    spark.sql(s"ALTER TABLE $cat.t ALTER COLUMN k TYPE BIGINT")      // v3
    spark.sql(s"UPDATE $cat.t SET v = upper(v) WHERE k <= 10")       // v4
    val rows = spark.sql(s"SELECT k, v FROM $cat.t WHERE k BETWEEN 4 AND 7 ORDER BY k")
      .as[(Long, String)].collect().toSeq
    assert(rows == Seq((4L, "V4"), (7L, "V7")),
      s"k=5,6 were MOR-deleted pre-widen and must stay deleted: $rows")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").as[Long].head() == 18L)
  }

  test("ALTER TABLE SET TBLPROPERTIES closes the key-rename loop; CALL purge erases") {
    val wh = useWarehouse("props")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v STRING) " +
      "TBLPROPERTIES('graft.merge.mode'='mor','graft.key'='k')")
    spark.sql(s"INSERT INTO $cat.t SELECT id, concat('v', id) FROM range(1, 21)")
    // rename the key, repoint graft.key, and mor writes work again
    spark.sql(s"ALTER TABLE $cat.t RENAME COLUMN k TO id")
    intercept[Exception](spark.sql(s"UPDATE $cat.t SET v = 'x' WHERE id = 1"))
    spark.sql(s"ALTER TABLE $cat.t SET TBLPROPERTIES('graft.key'='id')")
    spark.sql(s"UPDATE $cat.t SET v = upper(v) WHERE id = 3")
    assert(spark.sql(s"SELECT v FROM $cat.t WHERE id = 3").as[String].head() == "V3")
    val dir = s"$wh/t"
    assert(Versioned.manifestOf(spark, dir,
      Versioned.latestVersion(spark, dir).get).dvs.nonEmpty,
      "the post-repoint UPDATE must have taken the mor path")
    // SET validates like CREATE: a key outside the schema is rejected
    val e = intercept[Exception](
      spark.sql(s"ALTER TABLE $cat.t SET TBLPROPERTIES('graft.key'='nope')"))
    assert(e.getMessage.contains("not in the schema"))
    // UNSET merge.mode demotes... removing the mode while keeping the
    // key is legal; removing the KEY under mor mode is not
    val e2 = intercept[Exception](
      spark.sql(s"ALTER TABLE $cat.t UNSET TBLPROPERTIES('graft.key')"))
    assert(e2.getMessage.contains("graft.key"))
    spark.sql(s"ALTER TABLE $cat.t UNSET TBLPROPERTIES('graft.merge.mode')")
    spark.sql(s"ALTER TABLE $cat.t UNSET TBLPROPERTIES('graft.key')")
    // now COW: the next update rewrites instead of adding sidecars
    spark.sql(s"CALL $cat.system.optimize('t', 1)") // compact old dvs first
    val mPre = Versioned.latestVersion(spark, dir).get
    spark.sql(s"UPDATE $cat.t SET v = 'cow' WHERE id = 4")
    assert(Versioned.manifestOf(spark, dir, mPre + 1).dvs.isEmpty,
      "without mor properties the UPDATE must take the COW path")
    // RTBF from SQL: CALL purge removes keys from EVERY version
    val out = spark.sql(s"CALL $cat.system.purge('t', 'id', '3, 4')")
      .as[(Int, Int)].head()
    assert(out._1 >= 1 && out._2 >= 1)
    (1L to Versioned.latestVersion(spark, dir).get).foreach { v =>
      // the key column is 'k' in v1-era logical schemas and 'id' later;
      // count the purged keys via the version's own schema
      val df = Versioned.readVersion(spark, dir, v)
      val keyName = if (df.columns.contains("id")) "id" else "k"
      assert(df.filter(org.apache.spark.sql.functions.col(keyName)
        .isin(3L, 4L)).count() == 0, s"purged keys resurrect in version $v")
    }
    // a key that does not parse as the column type fails the CALL
    // (ANSI cast raises first; the require is the non-ANSI backstop)
    val e3 = intercept[Exception](
      spark.sql(s"CALL $cat.system.purge('t', 'id', 'abc')"))
    assert(e3.getMessage.contains("do not parse") ||
      e3.getMessage.contains("CAST_INVALID_INPUT"))
  }

  test("replaceWhere: constraint, untranslatable condition, null partition") {
    val wh = useWarehouse("rwhere")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, cat STRING) " +
      "PARTITIONED BY (cat)")
    spark.sql(s"INSERT INTO $cat.t SELECT id, 'c' || CAST(id % 2 AS STRING) " +
      "FROM range(10)")
    // new rows violating the replace condition fail LOUDLY before any
    // commit (Delta's replaceWhere constraint): a backfill leaking
    // outside its declared region is silent corruption otherwise
    val e1 = intercept[Exception](
      Seq((50L, "c1")).toDF("k", "cat").writeTo(s"$cat.t")
        .overwrite($"cat" === "c0"))
    assert(e1.getMessage.contains("do NOT satisfy"), e1.getMessage)
    assert(Versioned.versions(spark, s"$wh/t") == Seq(1L),
      "the violating overwrite must not have committed anything")
    // an untranslatable replace condition fails at planning (Spark's
    // own loud fallback), never a silent whole-table overwrite
    val e2 = intercept[Exception](
      Seq((1L, "c0")).toDF("k", "cat").writeTo(s"$cat.t")
        .overwrite(org.apache.spark.sql.functions.expr("k % 2 = 0")))
    assert(e2.getMessage != null)
    val before = spark.sql(s"SELECT count(*) FROM $cat.t").as[Long].head()
    assert(before > 0, "the failed overwrite must not have truncated")
    // NULL partition values are rejected by the partitioned writer on
    // the overwrite path too
    val e3 = intercept[Exception](spark.sql(
      s"INSERT OVERWRITE $cat.t SELECT id, CAST(NULL AS STRING) " +
        "FROM range(3)"))
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e3).exists(_.contains("NULL partition")),
      msgs(e3).mkString(" | "))
  }

  test("replaceWhere on a mor table reconciles targeted sidecar rows") {
    val wh = useWarehouse("rwheremor")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, cat STRING) " +
      "TBLPROPERTIES('graft.key'='k','graft.merge.mode'='mor')")
    spark.sql(s"INSERT INTO $cat.t SELECT id, 'c' || CAST(id % 2 AS STRING) " +
      "FROM range(10)")                                               // v1
    spark.sql(s"DELETE FROM $cat.t WHERE k IN (0, 1)")                // v2 (dv)
    // overwrite the c0 slice: the dv rows targeting rewritten/retired
    // files must reconcile so history stays exact
    spark.sql(s"SELECT id AS k, 'c0' AS cat FROM range(100, 103)")
      .writeTo(s"$cat.t").overwrite($"cat" === "c0")                  // v3
    val got = spark.sql(s"SELECT k FROM $cat.t ORDER BY k")
      .as[Long].collect().toSeq
    assert(got == Seq(3L, 5L, 7L, 9L) ++ Seq(100L, 101L, 102L), s"got $got")
    // pushed COUNT(*) and history agree post-reconcile
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").as[Long].head() == 7L)
    assert(Versioned.history(spark, s"$wh/t").last._3 == 7L)
  }

  test("MERGE WITH SCHEMA EVOLUTION: COW path, widening, guards") {
    val wh = useWarehouse("mergevo")
    // COW table: evolution commit + COW merge commit
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v INT)")
    spark.sql(s"INSERT INTO $cat.t SELECT id, CAST(id AS INT) FROM range(10)")
    Seq((5L, 500L, "x"), (20L, 2000L, "y"))
      .toDF("k", "v", "tag").createOrReplaceTempView("evo_src")
    // the source WIDENS v (int → bigint) AND adds a column — both
    // evolve through alterTable before the rewrite plans
    spark.sql(s"""MERGE WITH SCHEMA EVOLUTION INTO $cat.t t
      |USING evo_src s ON t.k = s.k
      |WHEN MATCHED THEN UPDATE SET *
      |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val dir = s"$wh/t"
    assert(spark.table(s"$cat.t").schema("v").dataType ==
      org.apache.spark.sql.types.LongType, "v must have widened to bigint")
    assert(spark.table(s"$cat.t").columns.toSeq == Seq("k", "v", "tag"))
    val got = spark.sql(s"SELECT k, v, tag FROM $cat.t ORDER BY k")
      .as[(Long, Long, Option[String])].collect().toSeq
    assert(got == (0L to 9L).map(i =>
      if (i == 5L) (5L, 500L, Some("x")) else (i, i, None)) :+
      (20L, 2000L, Some("y")), s"got $got")
    // time travel to the pre-merge version keeps the narrow schema
    assert(spark.sql(s"SELECT v FROM $cat.t VERSION AS OF 1").schema("v")
      .dataType == org.apache.spark.sql.types.IntegerType)
    // WITHOUT the keyword, no evolution happens — a gaining source's
    // extra column never silently lands in the table schema
    spark.sql(
      s"""MERGE INTO $cat.t t USING
        |(SELECT 100L AS k, 1L AS v, 'z' AS tag, 2.0 AS extra) s ON t.k = s.k
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(spark.table(s"$cat.t").columns.toSeq == Seq("k", "v", "tag"),
      "evolution is opt-in per statement — no keyword, no new column")
  }

  test("_file metadata column is selectable and matches manifest entries") {
    val wh = useWarehouse("filecol")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT)")
    spark.sql(s"INSERT INTO $cat.t SELECT id FROM range(10)")
    val names = spark.sql(s"SELECT DISTINCT _file FROM $cat.t")
      .as[String].collect().toSet
    val entries = Versioned.manifestOf(spark, s"$wh/t", 1)
      .entries.filter(_._2 > 0).map(_._1).toSet
    assert(names == entries)
  }
}

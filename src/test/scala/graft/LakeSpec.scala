package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Lake

/** Partitioned-lake semantics (config.py:61-99): partitionBy layout,
  * pruned latest-snapshot reads, and the reference's ddmmyyyy ordering
  * bug fixed by a real DateType (FIXTURES.md §3: a month-boundary pair
  * must resolve to September).
  */
class LakeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("latestSnapshot picks the true latest across a month boundary") {
    val dir = Files.createTempDirectory("graft-lake").toString
    val df = Seq(
      ("ppl", "gd", "j", "2026-08-31", "aug"),
      ("ppl", "gd", "j", "2026-09-01", "sep"),
      ("ppl", "waw", "j", "2026-08-30", "waw-aug"))
      .toDF("site", "region", "experience", "d", "payload")
      .withColumn("snapshot_date", to_date(col("d")))
      .drop("d")
    Lake.writeSnapshot(df, dir)

    val latest = Lake.latestSnapshot(Lake.read(spark, dir), "ppl", "gd", "j")
      .select("payload").as[String].collect().toSeq
    // ddmmyyyy lexicographic ordering would pick 31082026 ("aug"); the
    // engine must pick September.
    assert(latest == Seq("sep"))

    val all = Lake.latestSnapshot(Lake.read(spark, dir))
      .select("payload").as[String].collect().toSet
    assert(all == Set("sep", "waw-aug"))
  }

  test("compact rewrites many small files into one per leaf, data intact") {
    val dir = Files.createTempDirectory("graft-lake-c").toString
    val out = Files.createTempDirectory("graft-lake-cout").toString
    // simulate incremental appends: 6 tiny writes into the same leaf
    (1 to 6).foreach { i =>
      Lake.writeSnapshot(
        Seq(("ppl", "gd", "j", "2026-08-01", s"row$i"))
          .toDF("site", "region", "experience", "d", "payload")
          .withColumn("snapshot_date", to_date(col("d"))).drop("d")
          .repartition(2), // 2 files per append -> 12 small files
        dir)
    }
    def leafFiles(base: String): Int = {
      val leaf = new java.io.File(
        s"$base/site=ppl/region=gd/experience=j/snapshot_date=2026-08-01")
      leaf.listFiles().count(_.getName.endsWith(".parquet"))
    }
    assert(leafFiles(dir) >= 6, "precondition: appends left many small files")
    Lake.compact(spark, dir, out, filesPerPartition = 1)
    assert(leafFiles(out) == 1, "compaction must leave one file per leaf")
    val before = Lake.read(spark, dir).select("payload").as[String].collect().sorted.toSeq
    val after = Lake.read(spark, out).select("payload").as[String].collect().sorted.toSeq
    assert(after == before, "compaction must preserve the data exactly")
  }

  test("staging CSV round-trips: write → read-back is row-identical") {
    val dir = Files.createTempDirectory("graft-staging-rt").toString + "/out"
    // exercise the hard cases: nulls (must come back as ""), embedded
    // commas/quotes (must survive CSV quoting), all-digit salary fields
    // (must stay STRINGS — inference would promote them), and unicode.
    val df = Seq(
      ("Senior Scala Dev", "Acme, Inc.", "15000", "22000", "PLN", "month"),
      ("Data \"Wrangler\"", null, "", "9000", "zł", "hour"),
      ("Inżynier ML", "Łódź Soft", null, null, "", ""))
      .toDF("position", "company_name", "minimum", "maximum", "currency", "pay_period")
    Lake.writeCsv(df, dir)
    val back = Lake.readCsv(spark, dir)
    assert(back.schema.map(f => (f.name, f.dataType)) ===
      Lake.stagingSchema.map(f => (f.name, f.dataType)),
      "read-back must carry the declared all-string schema, not inference")
    // the fill makes the empty-string contract visible in the schema too
    assert(back.schema.forall(!_.nullable))
    val expected = df.na.fill("").collect().map(_.toSeq).toSet
    val got = back.collect().map(_.toSeq).toSet
    assert(got === expected)
    // empty-string-not-null contract (transform_data.py:49-54)
    assert(back.filter(col("company_name").isNull || col("minimum").isNull).count() === 0)
  }

  test("vacuum keeps the newest snapshots per leaf and reports deletions") {
    val base = java.nio.file.Files.createTempDirectory("graft-vacuum").toString + "/lake"
    def snap(date: String, rows: Seq[(String, String)]) =
      Lake.writeSnapshot(rows.toDF("position", "company_name")
        .withColumn("site", org.apache.spark.sql.functions.lit("pracujplit"))
        .withColumn("region", org.apache.spark.sql.functions.lit("waw"))
        .withColumn("experience", org.apache.spark.sql.functions.lit("senior"))
        .withColumn("snapshot_date",
          org.apache.spark.sql.functions.lit(java.sql.Date.valueOf(date))), base)
    snap("2026-08-10", Seq(("Old1", "A")))
    snap("2026-08-11", Seq(("Old2", "B")))
    snap("2026-08-12", Seq(("Mid", "C")))
    snap("2026-08-13", Seq(("New", "D")))
    val deleted = Lake.vacuumSnapshots(spark, base, keep = 2)
    assert(deleted.size == 2 &&
      deleted.forall(p => p.contains("2026-08-10") || p.contains("2026-08-11")))
    val dates = Lake.read(spark, base)
      .select("snapshot_date").distinct().as[java.sql.Date].collect().map(_.toString).sorted
    assert(dates.toSeq == Seq("2026-08-12", "2026-08-13"))
    // latest-snapshot resolution still works on the vacuumed lake
    val latest = Lake.latestSnapshot(Lake.read(spark, base), "pracujplit", "waw", "senior")
    assert(latest.select("position").as[String].collect().toSeq == Seq("New"))
  }

  test("compaction merges small files per leaf without changing the data") {
    val base = java.nio.file.Files.createTempDirectory("graft-compact").toString + "/lake"
    val rows = (1 to 200).map(i => (s"Pos$i", s"Co${i % 7}"))
    Lake.writeSnapshot(rows.toDF("position", "company_name")
      .repartition(6) // simulate many small writer-task files
      .withColumn("site", org.apache.spark.sql.functions.lit("jjit"))
      .withColumn("region", org.apache.spark.sql.functions.lit("waw"))
      .withColumn("experience", org.apache.spark.sql.functions.lit("mid"))
      .withColumn("snapshot_date",
        org.apache.spark.sql.functions.lit(java.sql.Date.valueOf("2026-08-13"))), base)
    val before = Lake.read(spark, base).select("position", "company_name")
      .collect().map(r => (r.getString(0), r.getString(1))).sorted
    val report = Lake.compactSnapshots(spark, base) // default target >> data size
    assert(report.size == 1)
    val (leaf, nBefore, nAfter) = report.head
    assert(nBefore == 6 && nAfter == 1, s"expected 6 -> 1 files, got $nBefore -> $nAfter")
    val leafFiles = new java.io.File(new java.net.URI(
      if (leaf.startsWith("file:")) leaf else "file:" + leaf))
      .listFiles.filter(_.getName.endsWith(".parquet"))
    assert(leafFiles.length == 1, s"leaf should hold 1 parquet file, saw ${leafFiles.length}")
    val after = Lake.read(spark, base).select("position", "company_name")
      .collect().map(r => (r.getString(0), r.getString(1))).sorted
    assert(after.toSeq == before.toSeq, "compaction changed row contents")
    // partition columns still recovered from directory names
    val parts = Lake.read(spark, base).select("site", "region", "experience")
      .distinct().collect()
    assert(parts.length == 1 && parts.head.getString(0) == "jjit")
    // an already-compact leaf is left alone
    assert(Lake.compactSnapshots(spark, base).isEmpty)
  }

  test("z-order write clusters BOTH dimensions (per-file spans shrink)") {
    import org.apache.spark.sql.functions.{max => smax, min => smin}
    // two independent uniform dimensions: a 1-D sort would cluster one
    // and leave the other at full span per file
    val rnd = new scala.util.Random(3)
    val df = Seq.fill(20000)((rnd.nextInt(100000).toLong, rnd.nextInt(100000).toLong))
      .toDF("a", "b")
    val dir = java.nio.file.Files.createTempDirectory("graft-zorder").toString + "/z"
    Lake.zorderWrite(df, dir, "a", "b", nFiles = 16)
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet") && f.length > 0).map(_.toString)
    // repartitionByRange SAMPLES to pick bounds (seed varies per run), so
    // duplicate candidates can merge adjacent ranges — assert "many
    // files", not exactly nFiles
    assert(files.length >= 8 && files.length <= 16, s"got ${files.length} files")
    def avgSpan(colName: String): Double = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(smin(col(colName)), smax(col(colName))).head()
      (r.getLong(1) - r.getLong(0)).toDouble
    }.sum / files.length
    // 16 files ≈ 2 interleaved bits per dimension → each file covers
    // ~1/4 of each dimension's range; assert well under the 100k global
    // span with margin (a 1-D layout would leave one dimension ~100k)
    assert(avgSpan("a") < 60000.0, s"a span ${avgSpan("a")}")
    assert(avgSpan("b") < 60000.0, s"b span ${avgSpan("b")}")
    // and nothing was lost or duplicated by the rewrite
    assert(spark.read.parquet(dir).count() == 20000)
  }

  test("z-order write keeps a user column named __z") {
    // the temp sort key must pick a name no input column holds, or
    // withColumn would overwrite __z and the trailing drop erase it
    val df = (1L to 64L).map(k => (k, k % 8, s"z$k")).toDF("a", "b", "__z")
    val dir = java.nio.file.Files.createTempDirectory("graft-zorder-col").toString + "/z"
    Lake.zorderWrite(df, dir, "a", "b", nFiles = 4)
    val back = spark.read.parquet(dir)
    assert(back.columns.toSeq === Seq("a", "b", "__z"))
    assert(back.as[(Long, Long, String)].collect().toSet ===
      df.as[(Long, Long, String)].collect().toSet)
  }

  test("quantile z-order clusters both dimensions under heavy skew") {
    import org.apache.spark.sql.functions.{max => smax, min => smin}
    // dimension a is heavy-tailed (linear buckets would collapse), b uniform
    val rnd = new scala.util.Random(9)
    val rows = Seq.fill(20000)(
      (math.pow(10, rnd.nextDouble() * 6), rnd.nextInt(100000).toLong))
    val df = rows.toDF("a", "b")
    val dir = java.nio.file.Files.createTempDirectory("graft-zq").toString + "/z"
    Lake.zorderWriteByQuantile(df, dir, "a", "b", nFiles = 16)
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet") && f.length > 0).map(_.toString)
    // sampled range bounds (see above): quantile z-keys have ≤2^16
    // distinct values, so merged bounds are likelier here
    assert(files.length >= 8 && files.length <= 16, s"got ${files.length} files")
    // measure spans in RANK space (the ECDF of each dimension): under
    // skew, value-space spans are meaningless but rank-space spans show
    // whether files really cluster
    val sortedA = rows.map(_._1).sorted
    val sortedB = rows.map(_._2).sorted
    def rankA(v: Double) = {
      val i = java.util.Arrays.binarySearch(sortedA.toArray, v)
      (if (i < 0) -i - 1 else i).toDouble / sortedA.size
    }
    def rankB(v: Long) = {
      val i = java.util.Arrays.binarySearch(sortedB.map(_.toDouble).toArray, v.toDouble)
      (if (i < 0) -i - 1 else i).toDouble / sortedB.size
    }
    val spans = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(smin(col("a")), smax(col("a")), smin(col("b")), smax(col("b"))).head()
      (rankA(r.getDouble(1)) - rankA(r.getDouble(0)),
        rankB(r.getLong(3)) - rankB(r.getLong(2)))
    }
    val avgA = spans.map(_._1).sum / spans.length
    val avgB = spans.map(_._2).sum / spans.length
    assert(avgA < 0.6, s"skewed dim rank span $avgA")
    assert(avgB < 0.6, s"uniform dim rank span $avgB")
    assert(spark.read.parquet(dir).count() == 20000)
  }

  /** Read-modify-write of an (id, v) table at `data`: read every row,
    * apply `rows` on the driver, overwrite the table with the result.
    * Two writers running it unprotected can both read the same state,
    * and the later overwrite then loses the earlier one's rows.
    */
  private def rewriteWith(data: String, rows: Seq[(Long, Long)]): Unit = {
    val state = spark.read.parquet(data).as[(Long, Long)].collect().toMap
    (state ++ rows).toSeq.toDF("id", "v").coalesce(1)
      .write.mode("overwrite").parquet(data)
  }

  test("withCommit: two concurrent writers serialize, loser retries, no lost rows") {
    val s = spark
    val dir = Files.createTempDirectory("graft-occ").toString + "/table"
    val data = dir + "/data"
    (1L to 50L).toDF("id").withColumn("v", col("id") * 10)
      .repartition(2, col("id")).write.parquet(data)
    // two writers rewrite the table with DISJOINT key sets concurrently;
    // without the commit protocol both can read the same state and the
    // second overwrite drops the first writer's rows — with it, one wins
    // each slot and the loser re-runs against the winner's committed state
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val writers = Seq(
      Seq((1L, 111L), (2L, 222L), (60L, 600L)),
      Seq((3L, 333L), (4L, 444L), (61L, 610L)))
    val fut = Future.traverse(writers) { rows =>
      Future {
        Lake.withCommit(s, dir) {
          rewriteWith(data, rows)
        }
      }
    }
    Await.result(fut, 120.seconds)
    val state = s.read.parquet(data).as[(Long, Long)].collect().toMap
    val expected = (1L to 50L).map(i => i -> i * 10).toMap ++
      writers.flatten.toMap
    assert(state == expected, "both writers' changes present, none lost")
    // the ledger records exactly two commits and no leftover claims
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val ledger = fs.listStatus(new org.apache.hadoop.fs.Path(dir, "_graft_txn"))
      .map(_.getPath.getName).sorted
    assert(ledger.toSeq == Seq("v000000001.commit", "v000000002.commit"), ledger.mkString(","))
  }

  test("withCommit: a crashed writer's stale claim is reclaimed; vacuumCommits bounds the ledger") {
    val s = spark
    val dir = Files.createTempDirectory("graft-occ2").toString + "/table"
    val data = dir + "/data"
    Seq((1L, 10L)).toDF("id", "v").write.parquet(data)
    val txn = new org.apache.hadoop.fs.Path(dir, "_graft_txn")
    val fs = txn.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.mkdirs(txn)
    // simulate a crashed writer: an orphaned claim on the next slot
    val orphan = new org.apache.hadoop.fs.Path(txn, "v000000001.inprogress")
    fs.create(orphan, false).close()
    // a fresh claim blocks (slot busy) until it crosses the stale age;
    // with staleClaimMs = 0 it is reclaimed immediately and the writer
    // proceeds
    Lake.withCommit(s, dir, staleClaimMs = 0L) {
      rewriteWith(data, Seq((2L, 20L)))
    }
    assert(s.read.parquet(data).count() == 2)
    assert(!fs.exists(orphan), "stale claim reclaimed")
    // grow the ledger, then vacuum down to the newest `keep`
    for (k <- 3L to 12L) Lake.withCommit(s, dir, staleClaimMs = 0L) { () }
    val removed = Lake.vacuumCommits(s, dir, keep = 3)
    val left = fs.listStatus(txn).map(_.getPath.getName).count(_.endsWith(".commit"))
    assert(left == 3 && removed == 8, s"kept $left, removed $removed")
    // the protocol continues from the surviving max, not from 1
    Lake.withCommit(s, dir, staleClaimMs = 0L) { () }
    val names = fs.listStatus(txn).map(_.getPath.getName).sorted
    assert(names.contains("v000000012.commit"), names.mkString(","))
  }

  test("evolved lake read unions schemas; old snapshots surface NULLs") {
    val s = spark
    val base = Files.createTempDirectory("graft-evolve").toString + "/lake"
    // epoch 1: the scraper didn't capture salary yet
    Lake.writeSnapshot(Seq(("Dev", "jjit"), ("QA", "jjit"))
      .toDF("position", "site")
      .withColumn("region", lit("waw")).withColumn("experience", lit("mid"))
      .withColumn("snapshot_date", lit(java.sql.Date.valueOf("2026-08-01"))), base)
    // epoch 2: schema grew a salary column
    Lake.writeSnapshot(Seq(("Dev", "jjit", 15000L), ("PM", "jjit", 18000L))
      .toDF("position", "site", "salary")
      .withColumn("region", lit("waw")).withColumn("experience", lit("mid"))
      .withColumn("snapshot_date", lit(java.sql.Date.valueOf("2026-08-02"))), base)
    val lake = Lake.readEvolved(s, base)
    assert(lake.columns.contains("salary"), "union schema must include the new column")
    val rows = lake.select(col("position"), col("snapshot_date").cast("string"),
      col("salary")).as[(String, String, Option[Long])].collect().toSet
    assert(rows == Set(
      ("Dev", "2026-08-01", None), ("QA", "2026-08-01", None),
      ("Dev", "2026-08-02", Some(15000L)), ("PM", "2026-08-02", Some(18000L))))
    // the default (non-merging) read still works for vintage-free queries
    assert(Lake.read(s, base).count() == 4)
  }

  test("asOfSnapshot time-travels to the newest snapshot at the date") {
    val dir = Files.createTempDirectory("graft-asof").toString
    val df = Seq(
      ("ppl", "gd", "j", "2026-08-01", "v1"),
      ("ppl", "gd", "j", "2026-08-10", "v2"),
      ("ppl", "gd", "j", "2026-08-20", "v3"))
      .toDF("site", "region", "experience", "d", "payload")
      .withColumn("snapshot_date", col("d").cast("date")).drop("d")
    Lake.writeSnapshot(df, dir)
    val lake = Lake.read(spark, dir)
    def at(d: String) = Lake.asOfSnapshot(lake, java.sql.Date.valueOf(d))
      .select("payload").as[String].collect().toSeq
    assert(at("2026-08-15") == Seq("v2"), "mid-history date sees v2")
    assert(at("2026-08-01") == Seq("v1"), "exact boundary is inclusive")
    assert(at("2026-08-25") == Seq("v3") &&
      at("2026-08-25") == Lake.latestSnapshot(lake).select("payload")
        .as[String].collect().toSeq, "future date degenerates to latest")
    assert(at("2026-07-01").isEmpty, "before history: nothing existed")
  }

  test("jsonl export round-trips the documents table value-identically") {
    val dir = java.nio.file.Files.createTempDirectory("graft-jsonl").toString
    val docs = graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")
    Lake.writeJsonl(docs, dir, shards = 4)
    // shard count is the writer's contract, not an accident of the plan
    val shardFiles = new java.io.File(dir).listFiles()
      .count(f => f.getName.startsWith("part-"))
    assert(shardFiles === 4)
    val back = Lake.readJsonl(spark, dir, docs.schema)
    assert(back.schema === docs.schema)
    val key = (r: org.apache.spark.sql.Row) => r.getLong(0)
    val a = docs.collect().map(r => key(r) -> r).toMap
    val b = back.collect().map(r => key(r) -> r).toMap
    assert(a.keySet === b.keySet)
    a.foreach { case (k, r) => assert(r === b(k), s"doc $k") }
  }

  test("abbreviation lookup matches config.py including fallbacks") {
    val df = Seq(
      ("pracujplit", "Warszawa", "junior"),
      ("justjoinit", "gdansk", "17"),
      ("weirdsite", "Xyzville", "guru"),
      ("pracujplit", null, "senior"))
      .toDF("site", "city", "experience")
    val got = Lake.withAbbreviations(df)
      .select("site_abbr", "region_abbr", "exp_abbr")
      .as[(String, String, String)].collect().toSeq
    assert(got == Seq(
      ("ppl", "waw", "j"),
      ("jjit", "gd", "j"),
      ("weir", "Xyz", "g"),
      ("ppl", "all", "s")))
  }
}

package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStream

/** Structured Streaming twins of the reference's incremental ingest:
  * driven synchronously with a parquet directory source + memory sink.
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def ts(m: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 ${m / 60}%02d:${m % 60}%02d:00")

  private def writeEvents(dir: String): Unit =
    Seq(
      (1L, ts(5), 10L, "signup", 1.0, "{}"),
      (1L, ts(5), 10L, "signup", 1.0, "{}"), // duplicate event_id
      (2L, ts(15), 11L, "click", 2.0, "{}"),
      (3L, ts(75), 10L, "click", 3.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(dir)

  test("readEventsAuto adapts to both physical ts layouts (µs timestamp vs raw nanos)") {
    // µs layout: the current driver testdata itself.
    val fromUs = EventStream.readEventsAuto(spark, "/root/testdata/sf0.001/events.parquet")
    assert(fromUs.isStreaming)
    assert(fromUs.schema("ts").dataType.typeName.startsWith("timestamp"))

    // nanos layout: a raw-long ts column stands in for TIMESTAMP(NANOS)
    // parquet read under nanosAsLong (same physical longs on disk).
    val dir = Files.createTempDirectory("graft-stream-nanos").toString
    Seq((1L, 1704085500000000000L, 10L, "signup", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val fromNanos = EventStream.readEventsAuto(spark, dir)
    assert(fromNanos.isStreaming)
    assert(fromNanos.schema("ts").dataType.typeName.startsWith("timestamp"))
    // the inference-peek flag must NOT leak session-wide — a later
    // unrelated nanos-parquet inference keeps its loud failure
    // (getOption yields the conf DEFAULT "false" when unset)
    assert(!spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false").toBoolean,
      "readEventsAuto leaked nanosAsLong into the session")
    val q = fromNanos.writeStream.format("memory").queryName("auto_nanos_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("auto_nanos_out")
        .select(col("ts").cast("string")).as[String].collect().toSeq
      assert(got == Seq("2024-01-01 05:05:00")) // 1704085500 s UTC, µs-truncated
    } finally q.stop()
  }

  test("streaming dedup keeps first-seen per event_id (the jjit seen-dict)") {
    val dir = Files.createTempDirectory("graft-stream").toString
    writeEvents(dir)
    val q = EventStream.dedupStream(EventStream.readEvents(spark, dir))
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("dedup_out").select("event_id").as[Long].collect().sorted
      assert(got.toSeq == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("hourly windowed counts aggregate per tumbling window") {
    val dir = Files.createTempDirectory("graft-stream2").toString
    writeEvents(dir)
    val q = EventStream.hourlyCounts(EventStream.readEvents(spark, dir))
      .writeStream.format("memory").queryName("hourly_out")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = spark.table("hourly_out")
        .select(col("hour_ts").cast("string"), col("event_type"), col("n_events"))
        .as[(String, String, Long)].collect().toSet
      assert(got == Set(
        ("2024-01-01 00:00:00", "signup", 2L),
        ("2024-01-01 00:00:00", "click", 1L),
        ("2024-01-01 01:00:00", "click", 1L)))
    } finally q.stop()
  }

  test("streaming near-dup filter drops same-sketch docs within watermark") {
    graft.functions.GraftFunctions.register(spark)
    val dir = Files.createTempDirectory("graft-stream4").toString
    Seq(
      (1L, "the quick brown fox jumps", ts(1)),
      (2L, "the quick brown fox jumps", ts(2)),   // exact dup -> same sketch
      (3L, "a completely different document text here", ts(3)))
      .toDF("doc_id", "text", "ingest_ts")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("ingest_ts", org.apache.spark.sql.types.TimestampType)))
    val q = EventStream.nearDupFilterStream(
      spark.readStream.schema(schema).parquet(dir))
      .writeStream.format("memory").queryName("neardup_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val kept = spark.table("neardup_out").select("doc_id").as[Long].collect().sorted.toSeq
      assert(kept.size == 2 && kept.contains(3L), s"kept=$kept")
      assert(kept.head == 1L || kept.head == 2L)
    } finally q.stop()
  }

  test("sessionization state machine runs and holds open sessions") {
    val dir = Files.createTempDirectory("graft-stream3").toString
    writeEvents(dir)
    val events = EventStream.readEvents(spark, dir)
      .selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[EventStream.Event]
    val q = EventStream.sessionize(events)
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      // ProcessingTimeTimeout keeps scheduling batches to re-check timers,
      // so processAllAvailable never settles — bounded wait instead.
      q.awaitTermination(8000)
      // 30-minute processing-time timeout hasn't elapsed: sessions stay
      // open (state held), nothing emitted, query healthy.
      assert(q.isActive)
      assert(spark.table("sess_out").count() == 0)
    } finally q.stop()
  }

  test("stream-static enrichment broadcasts the dimension (no stream state)") {
    val dir = Files.createTempDirectory("graft-stream-enrich").toString
    writeEvents(dir)
    val dim = Seq(("signup", "acquisition"), ("click", "engagement"))
      .toDF("event_type", "category")
    val q = EventStream.enrichStream(
      EventStream.readEvents(spark, dir), dim, "event_type")
      .writeStream.format("memory").queryName("enrich_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("enrich_out")
        .select("event_id", "category").as[(Long, String)].collect().toSet
      assert(got == Set((1L, "acquisition"), (1L, "acquisition"),
        (2L, "engagement"), (3L, "engagement")))
    } finally q.stop()
  }

  test("stream-stream interval join pairs purchases to in-window signups") {
    val dir = Files.createTempDirectory("graft-stream-conv").toString
    Seq(
      (1L, ts(5), 10L, "signup", 0.0, "{}"),
      (2L, ts(45), 10L, "purchase", 9.99, "{}"),  // 40 min after signup -> match
      (3L, ts(70), 11L, "purchase", 5.0, "{}"),   // user 11 never signed up
      (4L, ts(100), 10L, "purchase", 1.0, "{}"))  // 95 min after signup -> outside 1h
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val q = EventStream.conversionStream(EventStream.readEvents(spark, dir))
      .writeStream.format("memory").queryName("conv_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("conv_out")
        .select("user_id", "value").as[(Long, Double)].collect().toSeq
      assert(got == Seq((10L, 9.99)))
    } finally q.stop()
  }

  test("left-outer interval join: null emission exactly at watermark expiry") {
    val dir = Files.createTempDirectory("graft-stream-louter").toString
    // watermark delay 10 min, join window 1 h. Final watermark =
    // min(max signup, max purchase) − 10 min = min(200, 210) − 10 = 190.
    // A signup's null row may emit only once its window [ts, ts+1h] is
    // closed by that watermark — the boundary signup D (closes AT 190)
    // pins the strictness the q181 oracle must replay.
    Seq(
      (1L, ts(0), 20L, "signup", 0.0, "{}"),    // closes 60 < 190 -> null row
      (2L, ts(30), 21L, "signup", 0.0, "{}"),   // closes 90 < 190 -> null row
      (3L, ts(50), 22L, "signup", 0.0, "{}"),   // matched -> pair, no null
      (4L, ts(80), 22L, "purchase", 7.5, "{}"),
      (5L, ts(130), 23L, "signup", 0.0, "{}"),  // closes exactly AT 190
      (6L, ts(131), 24L, "signup", 0.0, "{}"),  // closes 191 > 190 -> withheld
      (7L, ts(200), 98L, "signup", 0.0, "{}"),  // drives signup watermark; withheld
      (8L, ts(210), 97L, "purchase", 3.0, "{}")) // drives purchase watermark; right side
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val q = EventStream.conversionStreamOuter(EventStream.readEvents(spark, dir))
      .writeStream.format("memory").queryName("louter_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("louter_out")
        .select("user_id", "purchase_ts")
        .as[(Long, Option[Timestamp])].collect().toSeq.sortBy(_._1)
      val matched = got.filter(_._2.isDefined).map(_._1)
      val nulls = got.filter(_._2.isEmpty).map(_._1)
      assert(matched == Seq(22L), s"matched pairs: $got")
      // the q181 oracle's predicate is signup_ts + 1h < wm (STRICT):
      // the boundary signup (user 23, closes exactly at the watermark)
      // must be WITHHELD along with 24 and 98 for oracle and stream to
      // agree — if this assertion ever fails with 23 present, Spark's
      // eviction is non-strict and the oracle must move to <=
      assert(nulls == Seq(20L, 21L), s"null-padded rows: $got")
    } finally q.stop()
  }

  test("full-outer interval join: purchase-side null emission at watermark expiry") {
    val dir = Files.createTempDirectory("graft-stream-fouter").toString
    // final watermark = min(200, 210) − 10 = 190. A purchase's backward
    // window [ts−1h, ts] can still meet future signups while
    // purchase_ts ≥ wm; the boundary purchase E (ts exactly 190) pins
    // the q209 oracle's STRICT predicate purchase_ts < wm.
    Seq(
      (1L, ts(0), 30L, "purchase", 1.0, "{}"),   // 0 < 190 -> null-signup row
      (2L, ts(50), 31L, "signup", 0.0, "{}"),    // matched pair with 3
      (3L, ts(80), 31L, "purchase", 7.5, "{}"),
      (4L, ts(120), 32L, "purchase", 2.0, "{}"), // 120 < 190 -> null-signup row
      (5L, ts(190), 33L, "purchase", 4.0, "{}"), // AT wm -> withheld
      (6L, ts(200), 98L, "signup", 0.0, "{}"),   // drives signup watermark
      (7L, ts(210), 97L, "purchase", 3.0, "{}")) // drives purchase watermark; withheld
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val q = EventStream.conversionStreamFull(EventStream.readEvents(spark, dir))
      .writeStream.format("memory").queryName("fouter_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("fouter_out")
        .select("user_id", "signup_ts", "purchase_ts")
        .as[(Long, Option[Timestamp], Option[Timestamp])].collect().toSeq.sortBy(_._1)
      val matched = got.filter(r => r._2.isDefined && r._3.isDefined).map(_._1)
      val nullSignup = got.filter(_._2.isEmpty).map(_._1)
      val nullPurchase = got.filter(r => r._2.isDefined && r._3.isEmpty).map(_._1)
      assert(matched == Seq(31L), s"matched pairs: $got")
      // 33 (exactly at wm) and 97 (ahead of it) must be WITHHELD — if 33
      // ever appears, Spark's eviction is non-strict and the q209 oracle
      // must move to <=
      assert(nullSignup == Seq(30L, 32L), s"null-signup rows: $got")
      // signup 31 matched; signups 98's window is open -> no null-purchase rows
      assert(nullPurchase.isEmpty, s"null-purchase rows: $got")
    } finally q.stop()
  }

  test("versioned CDC sink: one commit per batch, restart commits nothing new") {
    val root = java.nio.file.Files.createTempDirectory("graft-stream-vcdc")
    val inDir = root.resolve("in"); java.nio.file.Files.createDirectory(inDir)
    val table = root.resolve("table").toString
    val ck = root.resolve("ck").toString
    def file(n: String, mtime: Long, rows: Seq[(Long, Long, Long, Boolean)]): Unit = {
      val tmp = root.resolve(s"tmp-$n")
      rows.toDF("user_id", "ts_ord", "event_id", "is_delete")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.toFile.listFiles().find(_.getName.endsWith(".parquet")).get
      val dst = inDir.resolve(n).toFile
      assert(part.renameTo(dst)); dst.setLastModified(mtime)
    }
    file("a.parquet", 1000000L, Seq((1L, 10L, 1L, false), (2L, 11L, 2L, false)))
    file("b.parquet", 2000000L, Seq((1L, 20L, 3L, false), (2L, 21L, 4L, true)))
    val schema = Seq((1L, 1L, 1L, false)).toDF("user_id", "ts_ord", "event_id", "is_delete").schema
    def drain(): Unit = {
      val changes = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir.toString)
      EventStream.cdcApplyVersionedStream(changes, table, "user_id",
        "is_delete", orderCols = Seq("ts_ord", "event_id"))
        .option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    }
    drain()
    assert(graft.sources.Versioned.versions(spark, table) == Seq(1L, 2L))
    val after = graft.sources.Versioned.read(spark, table)
      .select("user_id", "ts_ord").as[(Long, Long)].collect().toSet
    assert(after === Set((1L, 20L))) // user 2 deleted by batch 2's latest
    // restart against the same checkpoint: nothing new admitted, nothing committed
    drain()
    assert(graft.sources.Versioned.versions(spark, table) == Seq(1L, 2L))
    // a third file continues the version sequence
    file("c.parquet", 3000000L, Seq((3L, 30L, 5L, false)))
    drain()
    assert(graft.sources.Versioned.versions(spark, table) == Seq(1L, 2L, 3L))
    assert(graft.sources.Versioned.read(spark, table)
      .select("user_id").as[Long].collect().toSet === Set(1L, 3L))
  }

  test("offers ingest stream parses each new snapshot file as a micro-batch") {
    val dir = Files.createTempDirectory("graft-offers-stream")
    val snap1 =
      """<div data-test="default-offer">
        |  <a data-test="link-offer-title">Data Engineer</a>
        |  <h3 data-test="text-company-name">Acme</h3>
        |  <span data-test="offer-salary">10 000 zł / mies.</span>
        |</div>""".stripMargin
    val snap2 = snap1.replace("Data Engineer", "ML Engineer").replace("Acme", "Beta")
    Files.writeString(dir.resolve("round1.html"), snap1)
    val q = EventStream.offersIngestStream(spark, dir.toString, "pracujplit")
      .writeStream.format("memory").queryName("offers_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("offers_out").select("position").as[String].collect().toSet
        == Set("Data Engineer"))
      // a new scrape round lands as a new file -> next micro-batch
      Files.writeString(dir.resolve("round2.html"), snap2)
      q.processAllAvailable()
      val rows = spark.table("offers_out")
        .select("position", "company_name", "minimum", "currency", "pay_period")
        .as[(String, String, String, String, String)].collect().toSet
      assert(rows == Set(
        ("Data Engineer", "Acme", "10000", "PLN", "month"),
        ("ML Engineer", "Beta", "10000", "PLN", "month")))
    } finally q.stop()
  }

  test("milestone state machine continues exactly across micro-batch boundaries") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    def ev(id: Long, m: Int, uid: Long, v: Double) =
      (id, ts(m), uid, "click", v, "{}")
    val q = EventStream.milestoneStream(
      mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
      every = 3)
      .toDF()
      .writeStream.format("memory").queryName("milestone_out")
      .outputMode("append").start()
    try {
      // batch 1: user 10 gets 2 events (below the milestone), user 11
      // gets 3 (milestone at its 3rd event, cum 1.10+2.20+3.30)
      mem.addData(ev(1, 1, 10, 5.00), ev(2, 2, 10, 1.25),
        ev(3, 1, 11, 1.10), ev(4, 2, 11, 2.20), ev(5, 3, 11, 3.30))
      q.processAllAvailable()
      // batch 2: user 10's 3rd event arrives — the milestone must fire
      // with state carried over (count 2, cum 6.25 from batch 1)
      mem.addData(ev(6, 4, 10, 0.75))
      q.processAllAvailable()
      val got = spark.table("milestone_out")
        .select("user_id", "milestone", "cum_value")
        .as[(Long, Long, Double)].collect().toSet
      assert(got == Set((11L, 3L, 6.60), (10L, 3L, 7.00)), s"got $got")
    } finally q.stop()
  }

  test("transformWithState expiry digest: timers fire on watermark, state clears, re-burst starts fresh") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val pKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = spark.conf.getOption(pKey)
    spark.conf.set(pKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    def ev(id: Long, m: Int, uid: Long, v: Double) =
      (id, ts(m), uid, "click", v, "{}")
    val q = EventStream.expiryDigestStream(
      mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
      .toDF()
      .writeStream.format("memory").queryName("expiry_out")
      .outputMode("append").start()
    try {
      // burst 1: user 10 across TWO batches (state must continue), user 11
      // with a single event (top2/top3 stay null)
      mem.addData(ev(1, 5, 10, 5.00), ev(2, 10, 10, 1.25), ev(3, 5, 11, 9.99))
      q.processAllAvailable()
      mem.addData(ev(4, 20, 10, 0.75))
      q.processAllAvailable()
      // watermark mover: user 12 at 3:00 → wm becomes 2:50 after this
      // batch; the NEXT batch fires user 10 (1:20 < 2:50) and 11 (1:05)
      mem.addData(ev(5, 180, 12, 4.00))
      q.processAllAvailable()
      mem.addData(ev(6, 185, 12, 3.00))
      q.processAllAvailable()
      def digests = spark.table("expiry_out")
        .select("user_id", "n_events", "total_value", "last_ts",
          "top1", "top2", "top3")
        .as[(Long, Long, Double, Timestamp, Option[Double], Option[Double], Option[Double])]
        .collect().toSet
      assert(digests == Set(
        (10L, 3L, 7.00, ts(20), Some(5.00), Some(1.25), Some(0.75)),
        (11L, 1L, 9.99, ts(5), Some(9.99), None, None)), s"got $digests")
      // re-burst: user 10 RETURNS at 4:00 — a fresh state, so the second
      // digest must count only the new burst (clear-on-fire pinned).
      // user 12's burst (3:00, 3:05) expires too; user 13 (last 6:05,
      // timer 7:05 > final wm 5:55) is the withheld-tail assertion.
      mem.addData(ev(7, 240, 10, 2.00))
      q.processAllAvailable()
      mem.addData(ev(8, 360, 13, 1.00))
      q.processAllAvailable()
      mem.addData(ev(9, 365, 13, 1.50))
      q.processAllAvailable()
      val after = digests
      assert(after.contains((10L, 1L, 2.00, ts(240), Some(2.00), None, None)),
        s"re-burst digest missing: $after")
      assert(after.contains((12L, 2L, 7.00, ts(185), Some(4.00), Some(3.00), None)),
        s"user 12 digest missing: $after")
      assert(!after.exists(_._1 == 13L), s"user 13 must be withheld: $after")
    } finally {
      q.stop()
      prevProvider match {
        case Some(p) => spark.conf.set(pKey, p)
        case None => spark.conf.unset(pKey)
      }
    }
  }

  test("corpus ingest stream is equivalent to the batch q92 labeling") {
    // the shared-expression claim (Corpus.dropReason is the ONE cascade
    // both paths run) as a tested invariant: identical rows through the
    // stream and through the batch labeling+sketch must yield identical
    // survivor sets — texts are all distinct so the dedup stage passes
    // everything through and the comparison is exact, not modulo order
    graft.functions.GraftFunctions.register(spark)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = Seq(
      (1L, "the quick brown fox jumps over one lazy dog while seven animals watch quietly", "en", 120L, ts(1)),
      (2L, "tiny text", "en", 9L, ts(2)), // 1_too_short
      (3L, "ein langer deutscher text der alle anderen regeln besteht aber nicht englisch ist", "de", 120L, ts(3)), // 2_non_target_lang
      (4L, "a a a a a a a a a a a a a a a a a a a b", "en", 200L, ts(4)), // 3_too_repetitive
      (5L, "completely different words appear here arranged uniquely so diversity stays rich", "zh", 150L, ts(5)))
    val mem = MemoryStream[(Long, String, String, Long, Timestamp)]
    mem.addData(rows: _*)
    val q = EventStream.corpusIngestStream(
      mem.toDF().toDF("doc_id", "text", "lang", "n_chars", "ingest_ts"))
      .writeStream.format("memory").queryName("equiv_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("equiv_out")
        .select("doc_id", "simhash").as[(Long, Long)].collect().toSet
      val batch = rows.toDF("doc_id", "text", "lang", "n_chars", "ingest_ts")
        .withColumn("drop_reason", graft.operators.Corpus.dropReason(
          col("text"), col("n_chars"), col("lang")))
        .filter(col("drop_reason") === "0_kept")
        .select(col("doc_id"), graft.functions.GraftFunctions.simhash16(
          split(col("text"), " ")).as("simhash"))
        .as[(Long, Long)].collect().toSet
      assert(streamed == batch && streamed.map(_._1) == Set(1L, 5L))
    } finally q.stop()
  }

  test("streaming near-dup probe equals the batch q106 across micro-batch splits") {
    // the probe decision is per-document (row-local signatures vs a
    // static index), so HOW arrivals split into micro-batches must not
    // change the outcome — force one file per trigger and compare the
    // union of all micro-batch outputs to the one-shot batch query
    graft.functions.GraftFunctions.register(spark)
    import graft.operators.Incremental
    val sfDir = "/root/testdata/sf0.001"
    val docs = graft.engine.Tables.widen(graft.engine.Tables.documents(spark, sfDir))
    val expected = Incremental.q106NeardupProbe.run(spark, sfDir)
      .as[(Long, Option[Long], Long)].collect().toSet
    val indexSigs = Incremental.lshSignatures(docs.filter(col("doc_id") % 10 =!= 0))
    val dir = Files.createTempDirectory("graft-probe-stream").toString
    docs.filter(col("doc_id") % 10 === 0).select("doc_id", "text")
      .repartition(3).write.mode("overwrite").parquet(dir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val buf = scala.collection.mutable.Set[(Long, Option[Long], Long)]()
    val q = EventStream.neardupProbeStream(stream, indexSigs) { mb =>
      val rows = mb.as[(Long, Option[Long], Long)].collect()
      buf.synchronized { buf ++= rows }
    }.start()
    try {
      q.processAllAvailable()
      assert(buf.synchronized(buf.toSet) == expected)
    } finally q.stop()
  }

  test("streaming vector probe equals the batch q125 across micro-batch splits") {
    // same invariance argument as the text probe: a vector's banded
    // signature is row-local and the index is static within a batch
    graft.functions.GraftFunctions.register(spark)
    import graft.operators.Similarity
    import graft.functions.VectorOps
    val sfDir = "/root/testdata/sf0.001"
    val v = graft.engine.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), VectorOps.toDouble(col("embedding")).as("e"))
    val expected = Similarity.q125VecProbe.run(spark, sfDir)
      .as[(Long, Option[Long], Long, Option[Double])].collect().toSet
    val indexBands = Similarity.rpSignatures(v.filter(col("vec_id") % 10 =!= 0))
    val dir = Files.createTempDirectory("graft-vecprobe-stream").toString
    v.filter(col("vec_id") % 10 === 0)
      .repartition(3).write.mode("overwrite").parquet(dir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("e",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType))))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val buf = scala.collection.mutable.Set[(Long, Option[Long], Long, Option[Double])]()
    val q = EventStream.vecProbeStream(stream, indexBands, 0.3) { mb =>
      val rows = mb.as[(Long, Option[Long], Long, Option[Double])].collect()
      buf.synchronized { buf ++= rows }
    }.start()
    try {
      q.processAllAvailable()
      assert(buf.synchronized(buf.toSet) == expected)
    } finally q.stop()
  }

  test("session_window stream emits closed sessions matching the batch form") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // user 10: two events 10 min apart (one session), then a third 2 h
    // later — it advances the watermark past the first session's close,
    // forcing its final append emission (and itself stays open)
    val closedRows = Seq((10L, ts(5)), (10L, ts(15)))
    val mem = MemoryStream[(Long, Timestamp)]
    val q = EventStream.sessionWindowStream(mem.toDF().toDF("user_id", "ts"))
      .writeStream.format("memory").queryName("sess_win_out")
      .outputMode("append").start()
    try {
      mem.addData(closedRows: _*); q.processAllAvailable()
      mem.addData((10L, ts(135))); q.processAllAvailable()
      val streamed = spark.table("sess_win_out")
        .select("user_id", "session_start", "n_events")
        .as[(Long, Timestamp, Long)].collect().toSet
      // batch twin over the CLOSED rows — same operator, same answer
      val batch = closedRows.toDF("user_id", "ts")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("session_window.start").as("session_start"),
          col("n_events"))
        .as[(Long, Timestamp, Long)].collect().toSet
      assert(streamed == batch && streamed.head._3 == 2L,
        s"streamed=$streamed batch=$batch")
    } finally q.stop()
  }

  test("refreshing enrichment picks up a dim update at the batch boundary") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dimPath = Files.createTempDirectory("graft-dim").toString + "/dim"
    Seq((1L, "bronze")).toDF("user_id", "tier")
      .write.mode("overwrite").parquet(dimPath)
    val mem = MemoryStream[Long]
    val out = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    val q = EventStream.enrichStreamRefreshing(
      mem.toDF().toDF("user_id"), dimPath, "user_id") { mb =>
      val rows = mb.select("user_id", "tier").as[(Long, String)].collect()
      out.synchronized { out ++= rows }
    }.start()
    try {
      mem.addData(1L); q.processAllAvailable()
      // the dim CHANGES mid-stream — a static join would never see this
      Seq((1L, "gold")).toDF("user_id", "tier")
        .write.mode("overwrite").parquet(dimPath)
      mem.addData(1L); q.processAllAvailable()
      assert(out.synchronized(out.toList) == List((1L, "bronze"), (1L, "gold")),
        s"got $out")
    } finally q.stop()
  }

  test("cdcApplyVersionedStream arbitrates several changes per key inside one batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = Files.createTempDirectory("graft-cdc-latest").toString + "/table"
    // one batch, three keys, each with CONFLICTING changes — the raw
    // form Versioned.upsert's one-row-per-key contract forbids; the
    // keep-latest sink must resolve each key by the highest seq
    val b1 = Seq(
      (1L, 10L, 1L, false), (1L, 11L, 2L, false), // update ∘ update → 11
      (2L, 20L, 1L, false), (2L, 0L, 2L, true),   // delete last → absent
      (3L, 0L, 1L, true), (3L, 30L, 2L, false))   // update last → 30
    // a later batch still applies in arrival order on top
    val b2 = Seq((1L, 0L, 3L, true), (4L, 40L, 1L, false))
    val mem = MemoryStream[(Long, Long, Long, Boolean)]
    val q = EventStream.cdcApplyVersionedStream(
      mem.toDF().toDF("id", "v", "seq", "_deleted"), dir, "id", "_deleted",
      orderCols = Seq("seq"))
      .outputMode("update").start()
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      assert(graft.sources.Versioned.read(spark, dir).select("id", "v")
        .as[(Long, Long)].collect().toMap == Map(1L -> 11L, 3L -> 30L))
      mem.addData(b2: _*); q.processAllAvailable()
      assert(graft.sources.Versioned.read(spark, dir).select("id", "v")
        .as[(Long, Long)].collect().toMap == Map(3L -> 30L, 4L -> 40L))
    } finally q.stop()
  }

  test("cdc apply stream lands the same lake state as a batch merge") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = Files.createTempDirectory("graft-cdc").toString + "/table"
    // change log: batch 1 inserts 3 keys; batch 2 updates one, deletes
    // one, inserts one — the final state exercises all three verbs
    val b1 = Seq((1L, 10L, false), (2L, 20L, false), (3L, 30L, false))
    val b2 = Seq((2L, 222L, false), (3L, 0L, true), (4L, 40L, false))
    val mem = MemoryStream[(Long, Long, Boolean)]
    // one change per key per batch: the order column never arbitrates
    val q = EventStream.cdcApplyVersionedStream(
      mem.toDF().toDF("id", "v", "_deleted"), dir, "id", "_deleted",
      orderCols = Seq("v"))
      .outputMode("update").start()
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      val streamed = graft.sources.Versioned.read(spark, dir).select("id", "v")
        .as[(Long, Long)].collect().toMap
      assert(streamed == Map(1L -> 10L, 2L -> 222L, 4L -> 40L))
      // batch twin: replaying the same log with batch upserts agrees
      val dir2 = Files.createTempDirectory("graft-cdc-b").toString + "/table"
      Seq(b1, b2).foreach(b => graft.sources.Versioned.upsert(
        spark, dir2, "id", b.toDF("id", "v", "_deleted"),
        deleteFlag = Some("_deleted")))
      val batch = graft.sources.Versioned.read(spark, dir2).select("id", "v")
        .as[(Long, Long)].collect().toMap
      assert(batch == streamed)
    } finally q.stop()
  }

  test("streaming quality audit shares the batch rule expressions") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = Seq(
      (1L, 1, 10.0, 0.05, 0.04, "A", Timestamp.valueOf("1995-03-01 00:00:00"), ts(1)), // clean
      (2L, 1, 10.0, 0.09, 0.04, "N", Timestamp.valueOf("1995-03-01 00:00:00"), ts(1)), // discount
      (3L, 1, 99.0, 0.05, 0.04, "R", Timestamp.valueOf("1995-03-01 00:00:00"), ts(1)), // quantity
      (1L, 2, 10.0, 0.05, 0.04, "A", Timestamp.valueOf("2000-06-01 00:00:00"), ts(1)), // shipdate
      (99L, 1, 10.0, 0.05, 0.04, "A", Timestamp.valueOf("1995-03-01 00:00:00"), ts(1))) // fk miss
    val mem = MemoryStream[(Long, Int, Double, Double, Double, String, Timestamp, Timestamp)]
    mem.addData(rows: _*)
    val orderKeys = Seq(1L, 2L, 3L).toDF("o_orderkey")
    val q = EventStream.qualityAuditStream(
      mem.toDF().toDF("l_orderkey", "l_linenumber", "l_quantity", "l_discount",
        "l_tax", "l_returnflag", "l_shipdate", "ingest_ts"),
      orderKeys)
      .writeStream.format("memory").queryName("audit_out")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = spark.table("audit_out")
        .select("rule", "n_rows", "n_violations")
        .as[(String, Long, Long)].collect().toSet
      val expected = Set(
        ("discount_le_8pct", 5L, 1L),
        ("quantity_in_range", 5L, 1L),
        ("returnflag_domain", 5L, 0L),
        ("shipdate_before_1999", 5L, 1L),
        ("tax_in_range", 5L, 0L),
        ("orderkey_fk_exists", 5L, 1L))
      assert(got == expected)
    } finally q.stop()
  }

  test("streaming corpus ingest: quality cascade + near-dup dedup in one pipeline") {
    graft.functions.GraftFunctions.register(spark)
    val dir = Files.createTempDirectory("graft-stream-corpus").toString
    val long_en = "the quick brown fox jumps over one lazy dog while seven other animals watch from a nearby hill every single morning"
    Seq(
      // kept: long, en, diverse
      (1L, long_en, "en", 120L, ts(1)),
      // exact near-dup of doc 1 (same sketch) -> deduped
      (2L, long_en, "en", 120L, ts(2)),
      // dropped: too short
      (3L, "tiny text", "en", 9L, ts(3)),
      // dropped: non-target language
      (4L, long_en, "de", 120L, ts(4)),
      // kept: different content, same gates pass
      (5L, "completely different words appear here nine distinct tokens arranged uniquely so the repetition guard sees rich diversity across this entire sentence today", "en", 150L, ts(5)))
      .toDF("doc_id", "text", "lang", "n_chars", "ingest_ts")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val docsStream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n_chars", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("ingest_ts", org.apache.spark.sql.types.TimestampType))))
      .parquet(dir)
    val q = EventStream.corpusIngestStream(docsStream)
      .writeStream.format("memory").queryName("corpus_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("corpus_out").select("doc_id").as[Long].collect().toSet
      // 3 and 4 fail the cascade; of the near-dup pair (1, 2) exactly one
      // survives (first-seen within the micro-batch); 5 always survives
      assert(got.intersect(Set(3L, 4L)).isEmpty, s"cascade failures leaked: $got")
      assert(got.contains(5L))
      assert(got.intersect(Set(1L, 2L)).size == 1, s"near-dup pair not deduped: $got")
    } finally q.stop()
  }

  test("followVersionedChanges: durable cursor, at-least-once on consumer crash") {
    import graft.sources.Versioned
    import graft.streaming.EventStream
    val root = graft.engine.Staging.scratch("graft-stream-spec", "follow")
    val dir = new java.io.File(root, "table").getAbsolutePath
    val cursor = new java.io.File(root, "cursor").getAbsolutePath
    Versioned.create(Seq((1L, "a")).toDF("k", "p"), dir)   // v1
    Versioned.append(Seq((2L, "b")).toDF("k", "p"), dir)   // v2
    Versioned.append(Seq((3L, "c")).toDF("k", "p"), dir)   // v3
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    // first drain CRASHES while processing pair (2,3): the cursor must
    // hold at 2 — pair (1,2) is committed, (2,3) is not
    intercept[RuntimeException] {
      EventStream.followVersionedChanges(spark, dir, cursor, "k") { (_, a, b) =>
        seen += ((a, b))
        if (a == 2L) throw new RuntimeException("consumer crash")
      }
    }
    assert(seen.toSeq == Seq((1L, 2L), (2L, 3L)))
    // redelivery: ONLY the uncommitted pair replays — at-least-once,
    // never a gap, never a reprocess of committed work
    val n = EventStream.followVersionedChanges(spark, dir, cursor, "k") {
      (_, a, b) => seen += ((a, b))
    }
    assert(n == 1 && seen.toSeq == Seq((1L, 2L), (2L, 3L), (2L, 3L)))
    // fully drained: the next call is a no-op
    assert(EventStream.followVersionedChanges(spark, dir, cursor, "k") {
      (_, _, _) => fail("nothing pending")
    } == 0)
    // a vacuumed cursor version fails loudly (reseed, don't guess)
    Versioned.append(Seq((4L, "d")).toDF("k", "p"), dir)   // v4
    Versioned.vacuum(spark, dir, keepVersions = 1)
    intercept[IllegalArgumentException] {
      EventStream.followVersionedChanges(spark, dir, cursor, "k")((_, _, _) => ())
    }
  }

  test("txn follower: a crash in EITHER window leaves exactly one copy in the sink") {
    import graft.sources.Versioned
    val root = graft.engine.Staging.scratch("graft-stream-spec", "txn_crash")
    val dir = new java.io.File(root, "table").getAbsolutePath
    val consumer = new java.io.File(root, "consumer").getAbsolutePath
    Versioned.create(Seq((1L, "a"), (2L, "b")).toDF("k", "p"), dir) // v1
    var transforms = 0
    def drain(onPublished: (Long, Long) => Unit = (_, _) => ()) =
      EventStream.followVersionedChangesTxn(spark, dir, consumer, "k",
        onPublished) { (df, a, b) =>
        transforms += 1
        df.select(lit(a).as("from_v"), lit(b).as("to_v"), col("change_type"),
          col("k"))
      }
    assert(drain() == ((0, 0)), "seed at v1")
    Versioned.append(Seq((3L, "c")).toDF("k", "p"), dir)            // v2
    // CRASH WINDOW 1: inside the transform, BEFORE publish — the tmp
    // dir is torn, nothing published, the retry reprocesses
    intercept[RuntimeException] {
      EventStream.followVersionedChangesTxn(spark, dir, consumer, "k") {
        (_, _, _) => throw new RuntimeException("pre-publish crash")
      }
    }
    assert(!new java.io.File(s"$consumer/out/v2").exists,
      "a pre-publish crash must not publish")
    assert(drain() == ((1, 0)), "retry reprocesses the torn pair")
    assert(transforms == 1)
    // CRASH WINDOW 2: after publish, before cursor — the replay SKIPS
    Versioned.append(Seq((4L, "d")).toDF("k", "p"), dir)            // v3
    intercept[IllegalStateException] {
      drain(onPublished = (_, _) => throw new IllegalStateException("crash"))
    }
    assert(new java.io.File(s"$consumer/out/v3").exists,
      "the crash landed after the publish rename")
    assert(drain() == ((0, 1)), "replay must skip, not duplicate")
    assert(transforms == 2, "the published pair's transform never re-ran")
    // the sink holds exactly one copy of each pair's effect
    val sink = spark.read.parquet(s"$consumer/out/v*")
      .select("from_v", "to_v", "k").as[(Long, Long, Long)].collect().toSeq
    assert(sink.sorted == Seq((1L, 2L, 3L), (2L, 3L, 4L)))
  }

  test("graft-versioned source: checkpoint resume, era recipes, loud guards") {
    import graft.sources.Versioned
    import org.apache.spark.sql.streaming.Trigger
    val root = graft.engine.Staging.scratch("graft-stream-spec", "vsource")
    val dir = new java.io.File(root, "table").getAbsolutePath
    val ck = new java.io.File(root, "ck").getAbsolutePath
    // a MIXED-ERA history: v1 int files, then widen, rename, add — the
    // stream (started after the evolution) must decode era-0 files
    // through the recipe: renamed physical name, widened int64 view,
    // added column as NULL
    Versioned.create(Seq((1, "a"), (2, "b")).toDF("k", "p")
      .select(col("k").cast("int").as("k"), col("p")), dir)       // v1
    Versioned.widenColumn(spark, dir, "k", "bigint")              // v2
    Versioned.renameColumn(spark, dir, "p", "payload")            // v3
    Versioned.addColumn(spark, dir, "score", "bigint")            // v4
    Versioned.append(Seq((3L, "c", 9L)).toDF("k", "payload", "score"), dir) // v5
    val got = scala.collection.mutable.ArrayBuffer
      .empty[(String, Long, Long, Long, Option[String], Option[Long])]
    def drain(): Unit = {
      val q = spark.readStream.format("graft-versioned")
        .option("path", dir).option("startingVersion", 4).load()
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect().foreach(r => got += ((
            r.getAs[String]("_change_side"), r.getAs[Long]("_from_v"),
            r.getAs[Long]("_to_v"), r.getAs[Long]("k"),
            Option(r.getAs[String]("payload")),
            if (r.isNullAt(r.fieldIndex("score"))) None
            else Some(r.getAs[Long]("score")))))
          ()
        }
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ck).start()
      q.awaitTermination()
    }
    drain() // pair (4,5): the appended file only
    assert(got.toSet == Set(("new", 4L, 5L, 3L, Some("c"), Some(9L))))
    // checkpoint resume: a COW upsert commits v6; ONLY pair (5,6) flows
    got.clear()
    Versioned.upsert(spark, dir, "k",
      Seq((1L, "A", 7L)).toDF("k", "payload", "score"))           // v6
    drain()
    // ONLY the touched file flows (k=1 and k=2 landed in separate
    // files; k=2's is shared between v5 and v6 — scan ∝ changed data),
    // and its old side decodes era-0 bytes through the recipe: int32 k
    // widened to long, physical "p" surfacing as payload, score NULL
    assert(got.toSet == Set(
      ("old", 5L, 6L, 1L, Some("a"), None),
      ("new", 5L, 6L, 1L, Some("A"), Some(7L))))
    // a pair carrying MOR sidecars STREAMS (q318 — previously a loud
    // rejection): the deleted row emits as an old-side event, decoded
    // through its file's own era recipe (era-0 physical "p", score
    // NULL)
    got.clear()
    Versioned.deleteKeysMor(spark, dir, "k", Seq(2L).toDF("k"))   // v7
    drain()
    assert(got.toSet == Set(("old", 6L, 7L, 2L, Some("b"), None)),
      s"a MOR delete is one old-side event: $got")
    // compaction AFTER the MOR delete: the old side applies the OLD
    // side's sidecars, so the already-deleted k=2 never re-emits as a
    // second delete — the pair is pure COW carries
    got.clear()
    Versioned.optimize(spark, dir, nFiles = 1)                    // v8: compacts
    drain()
    assert(got.toSet == Set(
      ("old", 7L, 8L, 1L, Some("A"), Some(7L)),
      ("old", 7L, 8L, 3L, Some("c"), Some(9L)),
      ("new", 7L, 8L, 1L, Some("A"), Some(7L)),
      ("new", 7L, 8L, 3L, Some("c"), Some(9L))),
      s"compaction-after-delete streams as carries, no double delete: $got")
    // guard 2: schema evolution AFTER stream start fails the stream
    val e2 = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val src = spark.readStream.format("graft-versioned")
        .option("path", dir).option("startingVersion", 8).load()
      Versioned.renameColumn(spark, dir, "score", "points")       // v9
      Versioned.append(Seq((4L, "d", 1L)).toDF("k", "payload", "points"), dir)
      val q = src.writeStream.format("noop")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    assert(e2.getMessage.contains("schema evolution") ||
      Option(e2.getCause).exists(_.getMessage.contains("schema evolution")))
  }

  test("graft-versioned sink: per-epoch commits, schema guards, txn idempotence") {
    import graft.sources.Versioned
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types.StructType
    val root = graft.engine.Staging.scratch("graft-stream-spec", "vsink")
    val stage = new java.io.File(root, "stage").getAbsolutePath
    val dir = new java.io.File(root, "table").getAbsolutePath
    val ck = new java.io.File(root, "ck").getAbsolutePath
    val sch = StructType.fromDDL("k BIGINT, v STRING")
    var nFiles = 0
    def putFile(lo: Long, hi: Long): Unit = {
      // one file per slice with a PINNED mtime — the file source
      // admits oldest first, so batch order stays deterministic
      val tmp = new java.io.File(root, s"slice$nFiles").getAbsolutePath
      (lo to hi).map(k => (k, s"v$k")).toDF("k", "v").coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val src = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      new java.io.File(stage).mkdirs()
      val dst = new java.io.File(stage, s"slice$nFiles.parquet")
      assert(src.renameTo(dst))
      assert(dst.setLastModified(1700000000000L + nFiles * 60000L))
      nFiles += 1
    }
    def drain(): Unit = {
      val q = spark.readStream.schema(sch).option("maxFilesPerTrigger", 1)
        .parquet(stage)
        .writeStream.format("graft-versioned").option("path", dir)
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    putFile(1, 10)
    putFile(11, 20)
    drain() // two files, one per trigger → two epoch commits
    assert(Versioned.versions(spark, dir) == Seq(1L, 2L))
    assert(Versioned.read(spark, dir).as[(Long, String)].collect().toSet ==
      (1L to 20L).map(k => (k, s"v$k")).toSet)
    // a drain with nothing new commits nothing
    drain()
    assert(Versioned.versions(spark, dir) == Seq(1L, 2L))
    // CRASH WINDOW replay, for real: make Spark forget epoch 1
    // committed (delete the checkpoint's commit marker) and restart —
    // the re-run epoch 1 must hit the #txn watermark and append NOTHING
    assert(new java.io.File(s"$ck/commits/1").delete())
    new java.io.File(s"$ck/commits/.1.crc").delete() // local-FS checksum sidecar
    drain()
    assert(Versioned.read(spark, dir).count() == 20L,
      "replayed epoch must not double-append")
    assert(Versioned.versions(spark, dir) == Seq(1L, 2L))
    // new data still flows after the replay
    putFile(21, 25)
    drain()
    assert(Versioned.read(spark, dir).count() == 25L)
    // the sink's table interoperates with the whole format: library
    // reads, time travel, and the q280 SOURCE all see the commits
    assert(Versioned.readVersion(spark, dir, 1).count() == 10L)
    // schema mismatch is rejected loudly at write definition
    val e = intercept[Exception] {
      spark.readStream.schema(StructType.fromDDL("k BIGINT, other DOUBLE"))
        .parquet(stage)
        .writeStream.format("graft-versioned").option("path", dir)
        .option("checkpointLocation", s"$root/ck2")
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
    def msgChain(t: Throwable): String =
      if (t == null) "" else t.getMessage + " | " + msgChain(t.getCause)
    assert(msgChain(e).contains("does not match table"))
    // watermark unit contract: an epoch at-or-below the recorded one
    // never commits, whatever the payload
    val before = Versioned.versions(spark, dir).size
    assert(Versioned.commitStreamingEpoch(spark, dir, "probe", 5, Seq.empty).isDefined)
    assert(Versioned.commitStreamingEpoch(spark, dir, "probe", 5, Seq.empty).isEmpty)
    assert(Versioned.commitStreamingEpoch(spark, dir, "probe", 4, Seq.empty).isEmpty)
    assert(Versioned.commitStreamingEpoch(spark, dir, "probe", 6, Seq.empty).isDefined)
    // a DIFFERENT query id keeps its own watermark
    assert(Versioned.commitStreamingEpoch(spark, dir, "other", 5, Seq.empty).isDefined)
    assert(Versioned.versions(spark, dir).size == before + 3)
  }

  test("graft-versioned batch change read: (from, to] pairs, guards shared with the stream") {
    import graft.sources.Versioned
    val root = graft.engine.Staging.scratch("graft-stream-spec", "vbatchcdc")
    val dir = new java.io.File(root, "table").getAbsolutePath
    Versioned.create((1L to 10L).map(k => (k, s"a$k")).toDF("k", "v"), dir) // v1
    Versioned.upsert(spark, dir, "k", Seq((3L, "CH"), (99L, "NEW")).toDF("k", "v")) // v2
    Versioned.deleteKeys(spark, dir, "k", Seq(5L).toDF("k"))                // v3
    def changes(opts: (String, String)*) = {
      val r = spark.read.format("graft-versioned").option("path", dir)
      opts.foldLeft(r) { case (acc, (k, v)) => acc.option(k, v) }.load()
    }
    val full = changes("changesFrom" -> "1")
      .select("_from_v", "_to_v", "_change_side", "k", "v")
      .as[(Long, Long, String, Long, String)].collect().toSet
    // classify per pair the way a consumer does (COW carries — same key,
    // same payload on both sides — drop; the raw row set depends on how
    // keys co-located into files, the classified set never does)
    def classified(fromV: Long) = {
      val p = full.filter(_._1 == fromV)
      val olds = p.filter(_._3 == "old").map(t => t._4 -> t._5).toMap
      val news = p.filter(_._3 == "new").map(t => t._4 -> t._5).toMap
      (news.keySet -- olds.keySet, olds.keySet -- news.keySet,
        (olds.keySet intersect news.keySet).filter(k => olds(k) != news(k)))
    }
    assert(classified(1L) == ((Set(99L), Set.empty[Long], Set(3L))),
      s"pair (1,2): insert 99, update 3 — got ${classified(1L)}")
    assert(classified(2L) == ((Set.empty[Long], Set(5L), Set.empty[Long])),
      s"pair (2,3): delete 5 — got ${classified(2L)}")
    // a subrange reads only its pairs
    assert(changes("changesFrom" -> "1", "changesTo" -> "2")
      .select("_to_v").distinct().as[Long].collect().toSeq == Seq(2L))
    // from == to is a legitimate empty answer with the full schema
    val empty = changes("changesFrom" -> "3", "changesTo" -> "3")
    assert(empty.count() == 0 && empty.columns.contains("_change_side"))
    // guards: missing changesFrom, unknown versions
    val e1 = intercept[Exception](changes().count())
    assert(e1.getMessage.contains("changesFrom"))
    assertThrows[Exception](changes("changesFrom" -> "9").count())
    // a MOR-delete pair reads as a DELETE event (q318 — previously a
    // loud rejection): the deleted row, old-side, nothing else
    Versioned.deleteKeysMor(spark, dir, "k", Seq(2L).toDF("k"))             // v4
    val dvFeed = changes("changesFrom" -> "3", "changesTo" -> "4")
      .select("_change_side", "k", "v").as[(String, Long, String)]
      .collect().toSet
    assert(dvFeed == Set(("old", 2L, "a2")),
      s"MOR delete streams as a delete event: $dvFeed")
  }

  test("graft-versioned batch change read diffs delete sidecars by the rows they delete") {
    import graft.sources.Versioned
    // pair (2, 3) of the batch change read, classified per key the way a
    // consumer does, must equal changesBetween's answer for the pair
    def assertPairMatches(dir: String): Unit = {
      val feed = spark.read.format("graft-versioned").option("path", dir)
        .option("changesFrom", "2").option("changesTo", "3").load()
        .select("_change_side", "k", "v").as[(String, Long, String)].collect()
      val olds = feed.filter(_._1 == "old").map(t => t._2 -> t._3).toMap
      val news = feed.filter(_._1 == "new").map(t => t._2 -> t._3).toMap
      val classified = (news.keySet -- olds.keySet).map("insert" -> _) ++
        (olds.keySet -- news.keySet).map("delete" -> _) ++
        (olds.keySet intersect news.keySet).filter(k => olds(k) != news(k))
          .map("update" -> _)
      val expected = Versioned.changesBetween(spark, dir, "k", 2L, 3L)
        .select("change_type", "k").as[(String, Long)].collect().toSet
      assert(classified == expected, s"feed ${feed.toSeq} vs changesBetween $expected")
    }
    val root = graft.engine.Staging.scratch("graft-stream-spec", "vdvdiff")
    val rows = (1L to 8L).map(k => (k, s"a$k")).toDF("k", "v")
    // a restore drops the MOR sidecar: its deleted rows come back as inserts
    val restored = new java.io.File(root, "restore").getAbsolutePath
    Versioned.create(rows, restored)                                        // v1
    Versioned.deleteKeysMor(spark, restored, "k", Seq(2L, 7L).toDF("k"))     // v2
    Versioned.restore(spark, restored, 1)                                   // v3
    assertPairMatches(restored)
    // a COW upsert rewrites the sidecar without its retired file's rows:
    // the other file's deleted key stays deleted, no second delete
    val rewritten = new java.io.File(root, "rewrite").getAbsolutePath
    Versioned.create(rows.repartitionByRange(2, col("k")), rewritten)       // v1
    Versioned.deleteKeysMor(spark, rewritten, "k", Seq(2L, 7L).toDF("k"))    // v2
    Versioned.upsert(spark, rewritten, "k", Seq((3L, "CH")).toDF("k", "v"))  // v3
    assert(Versioned.manifestOf(spark, rewritten, 3).dvs !=
      Versioned.manifestOf(spark, rewritten, 2).dvs, "the sidecar is rewritten")
    assertPairMatches(rewritten)
  }

  test("graft-versioned source: maxVersionsPerTrigger bounds each micro-batch") {
    import graft.sources.Versioned
    import org.apache.spark.sql.streaming.Trigger
    val root = graft.engine.Staging.scratch("graft-stream-spec", "vthrottle")
    val dir = new java.io.File(root, "table").getAbsolutePath
    // a 7-commit backlog: v1 create + six appends of one key each
    Versioned.create(Seq((0L, "v0")).toDF("k", "p"), dir)
    (1L to 6L).foreach(i => Versioned.append(Seq((i, s"v$i")).toDF("k", "p"), dir))
    val batches = scala.collection.mutable.ArrayBuffer.empty[(Long, Set[Long])]
    def drain(ck: String, maxV: Int): Unit = {
      val q = spark.readStream.format("graft-versioned")
        .option("path", dir).option("startingVersion", 1)
        .option("maxVersionsPerTrigger", maxV).load()
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          batches += ((id, b.collect().map(_.getAs[Long]("k")).toSet)); ()
        }
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$root/$ck").start()
      q.awaitTermination()
    }
    // backlog of 6 pairs, 2 per trigger → exactly 3 bounded batches,
    // in order, covering every appended key exactly once
    drain("ck2", maxV = 2)
    val nonEmpty = batches.filter(_._2.nonEmpty)
    assert(nonEmpty.size == 3, s"expected 3 bounded batches, got $batches")
    assert(nonEmpty.map(_._2) == Seq(Set(1L, 2L), Set(3L, 4L), Set(5L, 6L)))
    // checkpoint resume composes with the bound: two more commits, one
    // per batch this time
    batches.clear()
    (7L to 8L).foreach(i => Versioned.append(Seq((i, s"v$i")).toDF("k", "p"), dir))
    drain("ck2", maxV = 1)
    assert(batches.filter(_._2.nonEmpty).map(_._2) == Seq(Set(7L), Set(8L)))
    // a non-positive bound is rejected loudly at definition
    val e = intercept[Exception] {
      spark.readStream.format("graft-versioned")
        .option("path", dir).option("maxVersionsPerTrigger", 0).load()
        .writeStream.format("noop").trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
    }
    assert(e.getMessage.contains("maxVersionsPerTrigger") ||
      Option(e.getCause).exists(_.getMessage.contains("maxVersionsPerTrigger")))
  }

  test("throttled source walks committed versions across vacuum gaps") {
    import graft.sources.Versioned
    import org.apache.spark.sql.streaming.Trigger
    val root = graft.engine.Staging.scratch("graft-stream-spec", "vgap")
    val dir = new java.io.File(root, "table").getAbsolutePath
    Versioned.create(Seq((1L, "v1")).toDF("k", "p"), dir)              // v1
    (2L to 5L).foreach(i => Versioned.append(Seq((i, s"v$i")).toDF("k", "p"), dir))
    // tag-pinned vacuum leaves a GAP: versions [1, 4, 5]
    Versioned.tagVersion(spark, dir, "pin", 1L)
    Versioned.vacuum(spark, dir, keepVersions = 2)
    assert(Versioned.versions(spark, dir) == Seq(1L, 4L, 5L))
    // maxVersionsPerTrigger=1 from v1: a start+m arithmetic offset
    // would checkpoint v2 (inside the gap) and wedge on a missing
    // manifest; the walk lands each batch end on a committed version
    val batches = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    val q = spark.readStream.format("graft-versioned")
      .option("path", dir).option("startingVersion", 1)
      .option("maxVersionsPerTrigger", 1).load()
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        batches += b.filter(org.apache.spark.sql.functions
          .col("_change_side") === "new")
          .collect().map(_.getAs[Long]("k")).toSet; ()
      }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$root/ck").start()
    q.awaitTermination()
    val nonEmpty = batches.filter(_.nonEmpty)
    // pair (1,4] carries v4's new files (k=2,3,4 relative to v1),
    // pair (4,5] carries k=5 — two bounded batches, nothing skipped
    assert(nonEmpty == Seq(Set(2L, 3L, 4L), Set(5L)),
      s"got $batches (versions ${Versioned.versions(spark, dir)})")
  }

  test("readStream.table: the catalog table streams appends by name") {
    import graft.sources.Versioned
    import org.apache.spark.sql.streaming.Trigger
    val root = graft.engine.Staging.scratch("graft-stream-spec", "vtable")
    val cat = "graft_stream_cat"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.v2.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", root.getAbsolutePath)
    spark.sql(s"CREATE TABLE $cat.st (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $cat.st VALUES (1, 'a'), (2, 'b')")       // v1
    spark.sql(s"INSERT INTO $cat.st VALUES (3, 'c')")                 // v2
    val dir = s"$root/st"
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    def drain(start: Option[Int]): Unit = {
      val r = spark.readStream
      start.foreach(s0 => r.option("startingVersion", s0))
      val q = r.table(s"$cat.st")
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          // bare mode: the table's OWN schema, no _change_* columns
          assert(b.columns.toSeq == Seq("k", "v"))
          got ++= b.collect().map(r0 => (r0.getLong(0), r0.getString(1))); ()
        }
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$root/ck").start()
      q.awaitTermination()
    }
    // the DEFAULT start is the initial snapshot (startingVersion=0,
    // the Delta/Iceberg readStream.table convention): a fresh
    // checkpoint with no option must emit the table's EXISTING rows,
    // never silently start from the head
    val ck0 = s"$root/ck_default"
    val r0 = spark.readStream.table(s"$cat.st")
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= b.collect().map(r0 => (r0.getLong(0), r0.getString(1))); ()
      }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ck0).start()
    r0.awaitTermination()
    assert(got.toSet == Set((1L, "a"), (2L, "b"), (3L, "c")),
      s"bare default must replay the initial snapshot, got $got")
    got.clear()
    // explicit startingVersion=0 replays from before the first commit
    drain(Some(0))
    assert(got.toSet == Set((1L, "a"), (2L, "b"), (3L, "c")), s"got $got")
    // resume BY NAME through the same checkpoint: only the new commit
    got.clear()
    spark.sql(s"INSERT INTO $cat.st VALUES (4, 'd')")                 // v3
    drain(None)
    assert(got.toSeq == Seq((4L, "d")), s"got $got")
    // a file-REMOVING pair (compaction) fails the append-only stream
    spark.sql(s"CALL $cat.system.optimize('st', 1)")                  // v4
    spark.sql(s"INSERT INTO $cat.st VALUES (5, 'e')")                 // v5
    val e = intercept[Exception] { drain(None) }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("appends only")), msgs(e).mkString(" | "))
    // time travel cannot stream
    val e2 = intercept[Exception] {
      spark.readStream.table(s"$cat.st VERSION AS OF 1")
        .writeStream.format("noop")
        .option("checkpointLocation", s"$root/ck_tt")
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
    assert(e2 != null)
  }

  test("writeStream.toTable: declared-schema guard and Complete-mode rejection") {
    import org.apache.spark.sql.streaming.Trigger
    val root = graft.engine.Staging.scratch("graft-stream-spec", "vtotable")
    val cat = "graft_stream_cat2"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.v2.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", root.getAbsolutePath)
    spark.sql(s"CREATE TABLE $cat.wt (k BIGINT, v STRING)")
    val stage = new java.io.File(root, "stage")
    stage.mkdirs()
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1)
      .write.mode("overwrite").parquet(s"$root/slice")
    new java.io.File(s"$root/slice").listFiles()
      .find(_.getName.endsWith(".parquet"))
      .foreach(f => f.renameTo(new java.io.File(stage, "s0.parquet")))
    def stream(sel: String, mode: String, ck: String): Unit = {
      val q = spark.readStream
        .schema(org.apache.spark.sql.types.StructType.fromDDL(
          "k BIGINT, v STRING"))
        .parquet(stage.getAbsolutePath)
        .selectExpr(sel.split(",").toIndexedSeq: _*)
        .writeStream
        .outputMode(mode)
        .option("checkpointLocation", s"$root/$ck")
        .trigger(Trigger.AvailableNow())
        .toTable(s"$cat.wt")
      q.awaitTermination()
    }
    // the happy path commits through the q286 sink machinery, by name
    stream("k,v", "append", "ck1")
    assert(spark.sql(s"SELECT count(*) FROM $cat.wt").as[Long].head() == 2L)
    // a stream not matching the DECLARED schema fails before any commit
    // (the empty-table case the sink's manifest check cannot see)
    spark.sql(s"CREATE TABLE $cat.wt2 (k BIGINT, v STRING)")
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    val e1 = intercept[Exception] {
      val q = spark.readStream
        .schema(org.apache.spark.sql.types.StructType.fromDDL(
          "k BIGINT, v STRING"))
        .parquet(stage.getAbsolutePath)
        .select(col("k"))
        .writeStream
        .option("checkpointLocation", s"$root/ck2")
        .trigger(Trigger.AvailableNow())
        .toTable(s"$cat.wt2")
      q.awaitTermination()
    }
    assert(msgs(e1).exists(_.contains("does not match table")),
      msgs(e1).mkString(" | "))
    assert(graft.sources.Versioned.versions(spark, s"$root/wt2").isEmpty)
    // Complete mode = per-epoch truncate: rejected loudly
    val e2 = intercept[Exception] {
      val q = spark.readStream
        .schema(org.apache.spark.sql.types.StructType.fromDDL(
          "k BIGINT, v STRING"))
        .parquet(stage.getAbsolutePath)
        .groupBy("v").agg(org.apache.spark.sql.functions.count(lit(1)).as("k"))
        .select(col("k"), col("v"))
        .writeStream
        .outputMode("complete")
        .option("checkpointLocation", s"$root/ck3")
        .trigger(Trigger.AvailableNow())
        .toTable(s"$cat.wt2")
      q.awaitTermination()
    }
    assert(msgs(e2).exists(m => m.contains("APPEND only") ||
      m.contains("Complete") || m.contains("complete")),
      msgs(e2).mkString(" | "))
    // a PARTITIONED BY table routes streamed epochs through the
    // partitioned writer (q308): one tagged file per partition value
    // per epoch, so pruning holds for streamed-in files
    spark.sql(s"CREATE TABLE $cat.wt3 (k BIGINT, v STRING) " +
      "PARTITIONED BY (v)")
    val q = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "k BIGINT, v STRING"))
      .parquet(stage.getAbsolutePath)
      .writeStream
      .option("checkpointLocation", s"$root/ck4")
      .trigger(Trigger.AvailableNow())
      .toTable(s"$cat.wt3")
    q.awaitTermination()
    val m = graft.sources.Versioned.manifestOf(spark, s"$root/wt3", 1)
    assert(m.entries.size == 2 && m.ptags.size == 2 &&
      m.ptags.forall(_._2 == "v") &&
      m.ptags.map(_._3).toSet == Set("a", "b"),
      s"streamed epoch must land one v-tagged file per value: " +
        s"${m.entries} / ${m.ptags}")
    assert(spark.sql(s"SELECT count(*) FROM $cat.wt3 WHERE v = 'a'")
      .as[Long].head() == 1L)
    // no raw epoch staging survives the commit: every data/ file is a
    // manifest entry
    val dataFiles = new java.io.File(s"$root/wt3/data").listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).toSet
    assert(dataFiles == m.entries.map(_._1).toSet,
      s"raw task files must be deleted after the clustered commit: " +
        s"$dataFiles vs ${m.entries.map(_._1).toSet}")
  }

  test("q308: partitioned epoch replay (crash between sink commit and checkpoint) commits nothing and deletes both staging copies") {
    import graft.sources.Versioned
    import graft.sources.v2.{ParquetFileCommit, VersionedStreamingWrite}
    val root = graft.engine.Staging.scratch("graft-stream-spec", "vpartreplay")
    val dir = new java.io.File(root, "table").getAbsolutePath
    val spec = Seq(Versioned.PartField.Identity("cat"))
    Versioned.create(
      Seq((1L, "x"), (2L, "y")).toDF("k", "cat"), dir, spec)           // v1
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "k BIGINT, cat STRING")
    def stageRaw(name: String): ParquetFileCommit = {
      val tmp = new java.io.File(root, "slice")
      Seq((3L, "x"), (4L, "z")).toDF("k", "cat").coalesce(1)
        .write.mode("overwrite").parquet(tmp.getAbsolutePath)
      val src = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(s"$dir/data", name)
      assert(src.renameTo(dst), s"staging move failed for $src")
      ParquetFileCommit(name, 2L)
    }
    val w = new VersionedStreamingWrite(dir, schema, "q308probe", spec)
    w.commit(7L, Array(stageRaw("raw-e7.parquet")))
    assert(Versioned.versions(spark, dir) == Seq(1L, 2L))
    val m2 = Versioned.manifestOf(spark, dir, 2)
    val v1Files = Versioned.manifestOf(spark, dir, 1).entries.map(_._1).toSet
    val fresh = m2.entries.map(_._1).filterNot(v1Files).toSet
    assert(fresh.size == 2 &&
      m2.ptags.filter(t => fresh(t._1)).map(_._3).toSet == Set("x", "z"),
      s"epoch must land clustered cat-tagged files: ${m2.ptags}")
    // the crash window: Spark re-runs the epoch with FRESH raw task
    // files before the checkpoint advanced — the watermark pre-check
    // (and, against a zombie, the OCC re-check) commits nothing, and
    // both the raw replay staging and any clustered duplicate vanish
    w.commit(7L, Array(stageRaw("raw-e7-replay.parquet")))
    assert(Versioned.versions(spark, dir) == Seq(1L, 2L),
      "a replayed epoch must commit nothing")
    val dataFiles = new java.io.File(s"$dir/data").listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).toSet
    assert(dataFiles == m2.entries.map(_._1).toSet,
      s"replay staging must be deleted: $dataFiles")
    assert(spark.read.parquet(m2.entries.map(e => s"$dir/data/${e._1}"): _*)
      .count() == 4L, "no duplicate rows after the replay")
  }
}

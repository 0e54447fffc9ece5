package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampNTZType
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.engine.{CatalogGate, QueryDef, ScopedConf, Tables}

/** Structured Streaming paths on the driver's DuckDB correctness gate.
  *
  * Every streaming twin in [[graft.streaming.EventStream]] shares its
  * expressions with a batch query, so batch/stream agreement holds by
  * construction and is pinned by StreamingSpec — but until round 10 no
  * streaming execution was ever hash-compared against an independent
  * engine (VERDICT r9 gap #2: "DuckDB cannot oracle a stream"). It can,
  * when the streamed RESULT is deterministic: these queries run a real
  * streaming job end-to-end (file-stream source → stateful operator →
  * parquet sink, `Trigger.AvailableNow`), read the sink back, and emit a
  * result DuckDB replays in closed form — the signature SET for the
  * dedup path (arrival-order independent), the FINALIZED window set for
  * the watermarked aggregation (emission = window end ≤ final watermark
  * = max event time − delay, all deterministic on bounded input).
  *
  * Scale shape: identical to a production deployment — nothing collects
  * to the driver (the sink is a parquet directory), state is keyed and
  * watermark-bounded, and AvailableNow drains backlogs in
  * admission-controlled batches.
  */
object StreamQueries {

  /** Stage a single-file testdata table as a DIRECTORY the file-stream
    * source can use as its basePath (one symlink — a production lake is
    * already a directory and streams as-is), plus fresh sink/checkpoint
    * dirs for one run. The staging root is FIXED per (process, query)
    * and wiped at the start of each run, so repeated Verify/Bench
    * rounds leave at most one sink+checkpoint tree per query behind — a
    * fresh temp dir per execution would accumulate one forever
    * (hundreds of rounds in, that is a full disk). The PID scope keeps
    * two concurrent gate runs on the same machine (parallel CI jobs)
    * from wiping each other's LIVE checkpoint mid-stream — a purely
    * fixed path could; dead processes' roots are garbage-collected by
    * age instead (far above any gate run's minutes-long lifetime), so
    * the bounded-accumulation property survives the scoping.
    */
  private def stage(table: String, d: String, qname: String): (String, String, String) = {
    // wipe/GC/PID discipline lives in engine.Staging (shared with the
    // layout gate queries)
    val tmp = graft.engine.Staging.scratch("graft-stream-gate", qname)
    val inDir = new java.io.File(tmp, "in")
    inDir.mkdirs()
    java.nio.file.Files.createSymbolicLink(
      new java.io.File(inDir, s"$table.parquet").toPath,
      java.nio.file.Paths.get(d, s"$table.parquet").toAbsolutePath)
    (inDir.getAbsolutePath,
      new java.io.File(tmp, "out").getAbsolutePath,
      new java.io.File(tmp, "ck").getAbsolutePath)
  }

  /** Stage `df` as `n` one-file parquet slices (`slice<i>.parquet`,
    * mtime-pinned admission order) in ONE pass: a single scan +
    * partitioned write lands every slice (each slice id lives in
    * exactly one task after the keyed repartition, so each `__b=`
    * directory holds exactly one file), replacing the previous n
    * filtered re-scans + coalesce(1) writes — guide §1.2/§2.4, the
    * same data read once instead of n times. The synthetic `__b`
    * column lives only in directory names; file contents are exactly
    * `df`'s columns, as before. Contract: every slice id in
    * `0 until n` matches at least one row of `df`.
    */
  private def stageSliced(df: DataFrame, slice: org.apache.spark.sql.Column,
      n: Int, stageDir: java.io.File, root: java.io.File,
      mtime: Int => Long): Unit = {
    val tmp = new java.io.File(root, "slices")
    df.withColumn("__b", slice.cast("int"))
      .repartition(n, col("__b"))
      .write.mode("overwrite").partitionBy("__b")
      .parquet(tmp.getAbsolutePath)
    stageDir.mkdirs()
    (0 until n).foreach { b =>
      val dirB = new java.io.File(tmp, s"__b=$b")
      val found = Option(dirB.listFiles())
        .flatMap(_.find(_.getName.endsWith(".parquet")))
      // an empty slice writes no __b= directory at all
      require(found.isDefined, s"slice $b matched no row: stageSliced " +
        "needs every slice predicate to match at least one row")
      val src = found.get
      val dst = new java.io.File(stageDir, s"slice$b.parquet")
      require(src.renameTo(dst), s"staging move failed for $src")
      require(dst.setLastModified(mtime(b)), s"mtime pin failed for $dst")
    }
  }

  /** Run `body` (a gate stream's start→drain lifecycle) with streaming
    * checkpoint FILE CHECKSUMS off. Every gate checkpoint lives in a
    * per-run scratch dir (engine.Staging — wiped at the next run), so
    * the checksum sidecars Spark 4.1 writes next to every state/offset
    * checkpoint file buy nothing here while tasks BLOCK on their async
    * writes (executor thread dumps: ChecksumCheckpointFileManager
    * .awaitResult was the dominant task stack in the stream-stream join
    * gates). A production deployment with durable checkpoints keeps the
    * default — this scopes the trade to the ephemeral gate dirs and
    * restores the conf either way.
    */
  private[operators] def withEphemeralCheckpoint[A](
      s: org.apache.spark.sql.SparkSession)(body: => A): A =
    ScopedConf(s, "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false")(body)

  private def runToParquet(df: DataFrame, outDir: String, ckDir: String,
      rocksDb: Boolean = false): Unit = {
    val spark = df.sparkSession
    // transformWithState (q194) is RocksDB-only by Spark's design (the
    // multi-variable state + timer layout is a RocksDB column-family
    // schema); every other gate stream stays on the default HDFS-backed
    // provider, so the flag scopes the conf to the one query and the
    // scope restores it either way.
    val provider = "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    // Stateful operators allocate one state-store instance per shuffle
    // partition, pinned at the checkpoint's first run — with a
    // single-file source that is pure fixed setup cost per query (a
    // stream-stream join pays it on BOTH sides). 8 keeps the gate
    // streams parallel while cutting instance setup 4×; a production
    // deployment sizes this to its real key cardinality instead. The
    // batch read-back below does not depend on the conf, which is
    // restored by the scope (the readEventsAuto lesson: never leak a
    // conf change out of a query).
    ScopedConf(spark, Seq("spark.sql.shuffle.partitions" -> "8") ++
        Option.when(rocksDb)(provider): _*)(
      withEphemeralCheckpoint(spark)(df.writeStream
        .format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckDir)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
        .awaitTermination()))
  }

  // q150 — the continuous curation front door
  // ([[graft.streaming.EventStream.corpusIngestStream]] — quality
  // cascade, native simhash sketch, watermark-bounded near-dup dedup)
  // as a real streaming query. The emitted column is the surviving
  // SIGNATURE SET: dropDuplicatesWithinWatermark keeps an
  // arrival-order-dependent row per signature, but the signature set
  // itself is deterministic, so DuckDB replays it exactly (q92's kept
  // predicate ∘ q23's simhash arithmetic).
  val q150StreamCurate: QueryDef = QueryDef.sql(
    "q150_stream_curate",
    s"""WITH kept AS (
       |  SELECT doc_id, text FROM documents
       |  WHERE n_chars >= 80
       |    AND lang IN ('en', 'zh')
       |    AND len(list_distinct(string_split(text, ' '))) * 10
       |        >= len(string_split(text, ' ')) * 4),
       |t AS (SELECT DISTINCT doc_id, tok
       |      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM kept)
       |      WHERE tok <> ''),
       |h AS (SELECT doc_id, (1000003 * (${Dedup.md5IdSql("tok")}) + 12345) % 2147483647 AS h
       |      FROM t),
       |bits AS (SELECT doc_id, j, SUM(2 * ((h // CAST(pow(2, j) AS BIGINT)) % 2) - 1) AS c
       |         FROM h, generate_series(0, 15) g(j) GROUP BY 1, 2),
       |sigs AS (SELECT doc_id,
       |                CAST(SUM(CASE WHEN c > 0 THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
       |         FROM bits GROUP BY doc_id)
       |SELECT DISTINCT simhash FROM sigs ORDER BY simhash""".stripMargin) { (s, d) =>
    val docSchema = Tables.documents(s, d).schema
    val (inDir, outDir, ckDir) = stage("documents", d, "q150_stream_curate")
    val docsStream = s.readStream.schema(docSchema).parquet(inDir)
      .withColumn("ingest_ts", lit("2026-01-01 00:00:00").cast("timestamp"))
    runToParquet(
      graft.streaming.EventStream.corpusIngestStream(docsStream).select("simhash"),
      outDir, ckDir)
    s.read.parquet(outDir).select("simhash").distinct().orderBy("simhash")
  }

  // q151 — a WATERMARKED WINDOWED AGGREGATION on the oracle gate: the
  // q17 hourly rollup as a continuous query (event-time watermark,
  // append mode — a window emits exactly once, when the watermark
  // passes its end; the reference's stale-round close as declarative
  // state eviction). On bounded input the emitted set is closed-form:
  // windows whose end ≤ max(ts) − 10 minutes (the final watermark) —
  // which is precisely what the oracle's WHERE clause replays. The
  // withheld tail windows are not missing data; they are the
  // watermark's contract, and the oracle asserting their ABSENCE pins
  // that semantics too.
  val q151StreamWindow: QueryDef = QueryDef.sql(
    "q151_stream_window",
    """WITH b AS (SELECT date_trunc('hour', ts) AS hour_ts, event_type,
      |                  COUNT(*) AS n_events
      |           FROM events GROUP BY 1, 2),
      |m AS (SELECT max(ts) AS mx FROM events)
      |SELECT hour_ts, event_type, n_events
      |FROM b, m
      |WHERE hour_ts + INTERVAL 1 HOUR <= mx - INTERVAL 10 MINUTE
      |ORDER BY hour_ts, event_type""".stripMargin) { (s, d) =>
    val (inDir, outDir, ckDir) = stage("events", d, "q151_stream_window")
    val ev = graft.streaming.EventStream.readEventsAuto(s, inDir)
    val agg = ev
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").cast(TimestampNTZType).as("hour_ts"),
        col("event_type"), col("n_events"))
    runToParquet(agg, outDir, ckDir)
    s.read.parquet(outDir).orderBy("hour_ts", "event_type")
  }

  // q156 — a STREAM-STREAM interval join on the oracle gate
  // ([[graft.streaming.EventStream.conversionStream]] — purchases
  // attributed to the same user's signup within one hour, both sides
  // watermarked so state evicts as time advances). An INNER interval
  // join in append mode emits every matched pair exactly once, so on
  // bounded input the emitted set IS the batch interval join — which is
  // what the oracle replays; the watermark only bounds state, never the
  // result. `value` passes through as a base column (never recomputed),
  // so the double hashes identically in both engines.
  val q156StreamJoin: QueryDef = QueryDef.sql(
    "q156_stream_join",
    """SELECT s.user_id AS user_id, s.ts AS signup_ts, p.ts AS purchase_ts,
      |       p.value AS value
      |FROM events s JOIN events p ON s.user_id = p.user_id
      |WHERE s.event_type = 'signup' AND p.event_type = 'purchase'
      |  AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 1 HOUR
      |ORDER BY user_id, signup_ts, purchase_ts, value""".stripMargin) { (s, d) =>
    val (inDir, outDir, ckDir) = stage("events", d, "q156_stream_join")
    val ev = graft.streaming.EventStream.readEventsAuto(s, inDir)
    runToParquet(graft.streaming.EventStream.conversionStream(ev), outDir, ckDir)
    s.read.parquet(outDir)
      .select(col("user_id"),
        col("signup_ts").cast(TimestampNTZType).as("signup_ts"),
        col("purchase_ts").cast(TimestampNTZType).as("purchase_ts"),
        col("value"))
      .orderBy("user_id", "signup_ts", "purchase_ts", "value")
  }

  // q164 — event-time SESSION windows on the oracle gate
  // ([[graft.streaming.EventStream.sessionWindowStream]] — q46's
  // `session_window` operator with a 10-minute watermark, append mode):
  // a session APPEND-emits only once the watermark passes its close
  // (last event + the 30-minute gap), so on bounded input the emitted
  // set is closed-form — sessions with close ≤ max(ts) − 10 min — and
  // the oracle replays it as the classic gaps-and-islands SQL
  // (lag-break + running sum) plus that same watermark predicate. The
  // withheld tail sessions are the watermark contract, asserted absent.
  val q164StreamSessions: QueryDef = QueryDef.sql(
    "q164_stream_sessions",
    """WITH o AS (SELECT user_id, ts,
      |        CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
      |               OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
      |                  > INTERVAL 30 MINUTE
      |             THEN 1 ELSE 0 END AS brk
      |      FROM events),
      |s AS (SELECT user_id, ts,
      |        SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
      |                       ROWS UNBOUNDED PRECEDING) AS sid
      |      FROM o),
      |g AS (SELECT user_id, sid, MIN(ts) AS session_start, MAX(ts) AS session_end,
      |             COUNT(*) AS n_events
      |      FROM s GROUP BY 1, 2),
      |m AS (SELECT MAX(ts) AS mx FROM events)
      |SELECT user_id, session_start, CAST(n_events AS BIGINT) AS n_events
      |FROM g, m
      |WHERE session_end + INTERVAL 30 MINUTE <= mx - INTERVAL 10 MINUTE
      |ORDER BY user_id, session_start""".stripMargin) { (s, d) =>
    val (inDir, outDir, ckDir) = stage("events", d, "q164_stream_sessions")
    val ev = graft.streaming.EventStream.readEventsAuto(s, inDir)
    runToParquet(
      graft.streaming.EventStream.sessionWindowStream(ev), outDir, ckDir)
    s.read.parquet(outDir)
      .select(col("user_id"),
        col("session_start").cast(TimestampNTZType).as("session_start"),
        col("n_events"))
      .orderBy("user_id", "session_start")
  }

  // q165 — STREAM-STATIC broadcast enrichment on the gate
  // ([[graft.streaming.EventStream.enrichStream]]): the stateless
  // pattern every ingest pipeline starts with — each micro-batch joins
  // against the bound dimension snapshot, so on bounded input the
  // emitted set IS the batch left join, which the oracle replays
  // directly. Broadcast is explicit in the operator; no state store, no
  // watermark — the gate here verifies the dispatch/plumbing, not
  // eviction semantics.
  val q165StreamEnrich: QueryDef = QueryDef.sql(
    "q165_stream_enrich",
    """SELECT e.event_id, e.user_id, c.c_name, e.event_type
      |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
      |ORDER BY e.event_id""".stripMargin) { (s, d) =>
    val (inDir, outDir, ckDir) = stage("events", d, "q165_stream_enrich")
    val ev = graft.streaming.EventStream.readEventsAuto(s, inDir)
      .select(col("event_id"), col("user_id").as("c_custkey"), col("event_type"))
    val dim = Tables.customer(s, d).select(col("c_custkey"), col("c_name"))
    runToParquet(
      graft.streaming.EventStream.enrichStream(ev, dim, "c_custkey"),
      outDir, ckDir)
    s.read.parquet(outDir)
      .select(col("event_id"), col("c_custkey").as("user_id"), col("c_name"),
        col("event_type"))
      .orderBy("event_id")
  }

  // q166 — streaming CDC APPLY on the gate: the change-log sink
  // ([[graft.streaming.EventStream.cdcApplyVersionedStream]] — per-key
  // keep-latest arbitration inside foreachBatch, then the SAME
  // copy-on-write `Versioned.upsert` commit the batch path runs).
  // Events are read as a change feed (key = user, payload = value,
  // 'error' events are delete markers); the final TABLE STATE after the
  // stream drains is deterministic on bounded input — last change per
  // key wins, keys whose last change is a delete are absent — which is
  // exactly the latest-row-per-user SQL the oracle replays. This
  // verifies the sink's end state (merge + delete + arbitration), not
  // just emitted rows — the one streaming surface q150/q151/q156/q164
  // could not cover; q219 reads the same sink's per-batch versions.
  val q166StreamCdc: QueryDef = QueryDef.sql(
    "q166_stream_cdc",
    """WITH r AS (SELECT user_id, value, event_type,
      |             row_number() OVER (PARTITION BY user_id
      |                                ORDER BY ts DESC, event_id DESC) AS rn
      |           FROM events)
      |SELECT user_id, value FROM r WHERE rn = 1 AND event_type <> 'error'
      |ORDER BY user_id""".stripMargin) { (s, d) =>
    val (inDir, outDir, ckDir) = stage("events", d, "q166_stream_cdc")
    val changes = graft.streaming.EventStream.readEventsAuto(s, inDir)
      .select(col("user_id"), col("value"), col("ts"), col("event_id"),
        (col("event_type") === "error").as("is_delete"))
    withEphemeralCheckpoint(s)(graft.streaming.EventStream
      .cdcApplyVersionedStream(changes, outDir, "user_id", "is_delete",
        orderCols = Seq("ts", "event_id"))
      .option("checkpointLocation", ckDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
      .awaitTermination())
    graft.sources.Versioned.read(s, outDir)
      .select("user_id", "value").orderBy("user_id")
  }

  // q219 — streaming CDC into the VERSIONED TABLE, version by version:
  // q166's keep-latest apply sink commits every micro-batch as one
  // manifest COMMIT, so the table's version history is the stream's
  // batch history — `readVersion(k)` is the exact state after batch k.
  // The gate splits events into three files admitted one
  // per batch (mtime-ordered, `maxFilesPerTrigger=1`), drains with
  // AvailableNow, then reads ALL THREE versions back and aggregates
  // each. Closed form: version v's state is, per user over batches ≤ v,
  // the row winning (batch DESC, ts DESC, event_id DESC) — upsert
  // recency is BATCH order first (a later batch's older-ts row still
  // wins; the sequential-apply semantics an out-of-order change feed
  // actually produces), deletes drop the user. The oracle replays that
  // rank over the same event_id%3 slices. Money in DECIMAL cents.
  val q219StreamVersioned: QueryDef = QueryDef.sql(
    "q219_stream_versioned",
    """WITH e AS (SELECT user_id, ts, event_id, event_type,
      |             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
      |             event_id % 3 AS b
      |           FROM events),
      |w AS (SELECT v.v, e.user_id, e.event_type, e.cents,
      |             row_number() OVER (PARTITION BY v.v, e.user_id
      |                                ORDER BY e.b DESC, e.ts DESC,
      |                                         e.event_id DESC) AS rn
      |      FROM e JOIN generate_series(1, 3) v(v) ON e.b < v.v)
      |SELECT CAST(v AS BIGINT) AS version,
      |       COUNT(*) AS n_users,
      |       CAST(SUM(cents) AS BIGINT) AS sum_cents
      |FROM w WHERE rn = 1 AND event_type <> 'error'
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    val root = graft.engine.Staging.scratch("graft-stream-gate", "q219_stream_versioned")
    val (inDir, tableDir, ckDir) = (new java.io.File(root, "in"),
      new java.io.File(root, "table"), new java.io.File(root, "ck"))
    val ev = Tables.events(s, d)
      .select("event_id", "ts", "user_id", "event_type", "value")
    // admission order = (mtime, path): pinned by stageSliced
    stageSliced(ev, col("event_id") % 3, 3, inDir, root,
      b => (b + 1) * 1000000L)
    val changes = s.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir.getAbsolutePath)
      .select(col("user_id"), col("ts"), col("event_id"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"),
        (col("event_type") === "error").as("is_delete"))
    withEphemeralCheckpoint(s)(graft.streaming.EventStream
      .cdcApplyVersionedStream(changes, tableDir.getAbsolutePath, "user_id",
        "is_delete", orderCols = Seq("ts", "event_id"))
      .option("checkpointLocation", ckDir.getAbsolutePath)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
      .awaitTermination())
    val vs = graft.sources.Versioned.versions(s, tableDir.getAbsolutePath)
    require(vs == Seq(1L, 2L, 3L), s"expected 3 batch commits, got $vs")
    vs.map { v =>
      graft.sources.Versioned.readVersion(s, tableDir.getAbsolutePath, v)
        .agg(count(lit(1)).as("n_users"), sum("cents").cast("long").as("sum_cents"))
        .select(lit(v).as("version"), col("n_users"), col("sum_cents"))
    }.reduce(_ unionByName _).orderBy("version")
  }

  // q181 — the stream-stream LEFT OUTER interval join on the gate
  // ([[graft.streaming.EventStream.conversionStreamOuter]]): q156's
  // matched pairs PLUS null-padded rows for signups whose one-hour
  // window the watermark has closed without a purchase. On bounded
  // input both sets are closed-form: matches = the batch interval
  // join; null rows = unmatched signups with
  // signup_ts + 1 h < final watermark (min of the two streams' maxes
  // − the 10-min delay — Spark's multipleWatermarkPolicy=min), which
  // the oracle replays as a batch left join plus that predicate. The
  // WITHHELD tail — unmatched signups whose window is still open — is
  // the outer-join watermark contract, asserted absent by the same
  // compare (StreamingSpec pins it explicitly).
  val q181StreamOuterJoin: QueryDef = QueryDef.sql(
    "q181_stream_outer_join",
    """WITH s AS (SELECT user_id, ts AS signup_ts FROM events
      |           WHERE event_type = 'signup'),
      |p AS (SELECT user_id, ts AS purchase_ts, value FROM events
      |      WHERE event_type = 'purchase'),
      |m AS (SELECT LEAST((SELECT MAX(signup_ts) FROM s),
      |                   (SELECT MAX(purchase_ts) FROM p))
      |             - INTERVAL 10 MINUTE AS wm),
      |j AS (SELECT s.user_id, s.signup_ts, p.purchase_ts, p.value
      |      FROM s LEFT JOIN p ON s.user_id = p.user_id
      |        AND p.purchase_ts >= s.signup_ts
      |        AND p.purchase_ts <= s.signup_ts + INTERVAL 1 HOUR)
      |SELECT user_id, signup_ts, purchase_ts, value FROM j, m
      |WHERE purchase_ts IS NOT NULL OR signup_ts + INTERVAL 1 HOUR < wm
      |ORDER BY user_id, signup_ts, purchase_ts, value""".stripMargin) { (s, d) =>
    val (inDir, outDir, ckDir) = stage("events", d, "q181_stream_outer_join")
    val ev = graft.streaming.EventStream.readEventsAuto(s, inDir)
    runToParquet(graft.streaming.EventStream.conversionStreamOuter(ev), outDir, ckDir)
    s.read.parquet(outDir)
      .select(col("user_id"),
        col("signup_ts").cast(TimestampNTZType).as("signup_ts"),
        col("purchase_ts").cast(TimestampNTZType).as("purchase_ts"),
        col("value"))
      .orderBy("user_id", "signup_ts", "purchase_ts", "value")
  }

  // q209 — the stream-stream FULL OUTER interval join, completing the
  // family (q156 inner, q181 left outer): BOTH sides null-emit on
  // watermark expiry. The purchase side's eviction mirror-images the
  // signup side's: its match window looks BACKWARD
  // (signup_ts ∈ [purchase_ts − 1 h, purchase_ts]), so an unmatched
  // purchase null-emits once the watermark passes purchase_ts itself —
  // the oracle replays both closed-form sets (signup nulls:
  // signup_ts + 1 h < wm; purchase nulls: purchase_ts < wm) over a
  // batch FULL JOIN. Both withheld tails are the q181 contract,
  // bidirectional; StreamingSpec pins the purchase-side strictness.
  val q209StreamFullJoin: QueryDef = QueryDef.sql(
    "q209_stream_full_join",
    """WITH s AS (SELECT user_id, ts AS signup_ts FROM events
      |           WHERE event_type = 'signup'),
      |p AS (SELECT user_id, ts AS purchase_ts, value FROM events
      |      WHERE event_type = 'purchase'),
      |m AS (SELECT LEAST((SELECT MAX(signup_ts) FROM s),
      |                   (SELECT MAX(purchase_ts) FROM p))
      |             - INTERVAL 10 MINUTE AS wm),
      |j AS (SELECT COALESCE(s.user_id, p.user_id) AS user_id,
      |             s.signup_ts, p.purchase_ts, p.value
      |      FROM s FULL JOIN p ON s.user_id = p.user_id
      |        AND p.purchase_ts >= s.signup_ts
      |        AND p.purchase_ts <= s.signup_ts + INTERVAL 1 HOUR)
      |SELECT user_id, signup_ts, purchase_ts, value FROM j, m
      |WHERE (signup_ts IS NOT NULL AND purchase_ts IS NOT NULL)
      |   OR (purchase_ts IS NULL AND signup_ts + INTERVAL 1 HOUR < wm)
      |   OR (signup_ts IS NULL AND purchase_ts < wm)
      |ORDER BY user_id, signup_ts, purchase_ts, value""".stripMargin) { (s, d) =>
    val (inDir, outDir, ckDir) = stage("events", d, "q209_stream_full_join")
    val ev = graft.streaming.EventStream.readEventsAuto(s, inDir)
    runToParquet(graft.streaming.EventStream.conversionStreamFull(ev), outDir, ckDir)
    s.read.parquet(outDir)
      .select(col("user_id"),
        col("signup_ts").cast(TimestampNTZType).as("signup_ts"),
        col("purchase_ts").cast(TimestampNTZType).as("purchase_ts"),
        col("value"))
      .orderBy("user_id", "signup_ts", "purchase_ts", "value")
  }

  // q188 — a CUSTOM flatMapGroupsWithState operator on the gate
  // ([[graft.streaming.EventStream.milestoneStream]] — per-user
  // milestone alerts every 5th event, arbitrary keyed state the
  // built-ins can't express). The operator's determinism contract
  // (µs-event-time fold order, integer-cents accumulation — see its
  // doc) makes the emitted set closed-form on bounded input, so DuckDB
  // replays it as a windowed row_number + running DECIMAL sum — the
  // first custom-state operator whose SEMANTICS (not just plumbing) an
  // independent engine hash-verifies every round. Scale: state is two
  // longs per user, event-time-timeout-bounded; emission adds no
  // shuffle beyond the groupByKey itself.
  val q188StreamMilestones: QueryDef = QueryDef.sql(
    "q188_stream_milestones",
    """WITH o AS (SELECT user_id, ts, event_id,
      |             row_number() OVER (PARTITION BY user_id
      |                                ORDER BY ts, event_id) AS rn,
      |             SUM(CAST(value AS DECIMAL(18,2)))
      |               OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                     ROWS UNBOUNDED PRECEDING) AS cum
      |           FROM events)
      |SELECT user_id, CAST(rn AS BIGINT) AS milestone, ts AS milestone_ts,
      |       CAST(cum AS DOUBLE) AS cum_value
      |FROM o WHERE rn % 5 = 0
      |ORDER BY user_id, milestone""".stripMargin) { (s, d) =>
    val (inDir, outDir, ckDir) = stage("events", d, "q188_stream_milestones")
    val ev = graft.streaming.EventStream.readEventsAuto(s, inDir)
    runToParquet(
      graft.streaming.EventStream.milestoneStream(ev).toDF(), outDir, ckDir)
    s.read.parquet(outDir)
      .select(col("user_id"), col("milestone"),
        col("milestone_ts").cast(TimestampNTZType).as("milestone_ts"),
        col("cum_value"))
      .orderBy("user_id", "milestone")
  }

  // q194 — Spark 4's transformWithState on the gate
  // ([[graft.streaming.EventStream.ExpiryDigestProcessor]] — ValueState
  // aggregate + ListState top-k + per-key EVENT-TIME TIMERS, the state
  // surface flatMapGroupsWithState's single fused timeout cannot
  // express). A user's timer fires once the watermark passes their last
  // activity + 1 h and emits one inactivity digest (count, exact cents
  // total, last-activity time, top-3 values). Every per-key quantity is
  // an order-independent fold, and timers are MILLISECOND-grained, so on
  // bounded input the emitted set is closed-form in ms epoch arithmetic
  // (floor_ms(last_ts) + 1 h < floor_ms(max ts) − 10 min) — exactly what
  // the oracle replays below. Runs on the RocksDB state-store provider
  // (a transformWithState requirement).
  val q194StreamExpiryDigest: QueryDef = QueryDef.sql(
    "q194_stream_expiry_digest",
    """WITH cents AS (
      |  SELECT user_id, event_id, ts,
      |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
      |  FROM events),
      |w AS (SELECT (epoch_us(max(ts)) // 1000) - 600000 AS wm_ms
      |      FROM events),
      |agg AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
      |         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
      |           AS total_value,
      |         max(ts) AS last_ts
      |  FROM events GROUP BY 1),
      |ranked AS (
      |  SELECT user_id, c,
      |         row_number() OVER (PARTITION BY user_id
      |                            ORDER BY c DESC, event_id) AS rk
      |  FROM cents),
      |tops AS (
      |  SELECT user_id,
      |         CAST(max(CASE WHEN rk = 1 THEN c END) AS DOUBLE)
      |           / CAST(100 AS DOUBLE) AS top1,
      |         CAST(max(CASE WHEN rk = 2 THEN c END) AS DOUBLE)
      |           / CAST(100 AS DOUBLE) AS top2,
      |         CAST(max(CASE WHEN rk = 3 THEN c END) AS DOUBLE)
      |           / CAST(100 AS DOUBLE) AS top3
      |  FROM ranked WHERE rk <= 3 GROUP BY 1)
      |SELECT a.user_id, n_events, total_value, last_ts, top1, top2, top3
      |FROM agg a JOIN tops USING (user_id), w
      |WHERE (epoch_us(last_ts) // 1000) + 3600000 < wm_ms
      |ORDER BY user_id""".stripMargin) { (s, d) =>
    val (inDir, outDir, ckDir) = stage("events", d, "q194_stream_expiry_digest")
    val ev = graft.streaming.EventStream.readEventsAuto(s, inDir)
    runToParquet(
      graft.streaming.EventStream.expiryDigestStream(ev).toDF(),
      outDir, ckDir, rocksDb = true)
    s.read.parquet(outDir)
      .select(col("user_id"), col("n_events"), col("total_value"),
        col("last_ts").cast(TimestampNTZType).as("last_ts"),
        col("top1"), col("top2"), col("top3"))
      .orderBy("user_id")
  }

  // The closed-form oracle of the q211 history's change feed — the
  // per-pair insert/update/delete aggregates q273, q279, q280 and q289
  // all hash-match (one history, four consumption surfaces).
  private val CdcHistoryOracle =
    """WITH p AS (SELECT p_partkey AS k,
      |             CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100 AS BIGINT)
      |               AS cents
      |           FROM part),
      |d12 AS (SELECT 1 AS from_v, 2 AS to_v, 'insert' AS change_type,
      |               count(*) AS n, CAST(0 AS BIGINT) AS sum_old,
      |               CAST(sum(cents) AS BIGINT) AS sum_new
      |        FROM p WHERE k % 3 = 0
      |        UNION ALL
      |        SELECT 1, 2, 'update', count(*),
      |               CAST(sum(cents) AS BIGINT),
      |               CAST(sum(cents + 100000) AS BIGINT)
      |        FROM p WHERE k % 3 <> 0 AND k % 5 = 0),
      |d23 AS (SELECT 2, 3, 'delete', count(*),
      |               CAST(sum(CASE WHEN k % 3 <> 0 AND k % 5 = 0
      |                             THEN cents + 100000 ELSE cents END) AS BIGINT),
      |               CAST(0 AS BIGINT)
      |        FROM p WHERE k % 7 = 0)
      |SELECT CAST(from_v AS BIGINT) AS from_v, CAST(to_v AS BIGINT) AS to_v,
      |       change_type, CAST(n AS BIGINT) AS n, sum_old, sum_new
      |FROM (SELECT * FROM d12 UNION ALL SELECT * FROM d23)
      |WHERE n > 0
      |ORDER BY from_v, to_v, change_type""".stripMargin

  // The closed-form oracle of three range-sliced versions (k % 3 = 0,
  // k % 3 <= 1, every k) — the q286 sink's and q297's stream-to-table
  // versions alike.
  private val PhaseSlicesOracle =
    """WITH p AS (SELECT p_partkey AS k,
      |             CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100 AS BIGINT)
      |               AS cents
      |           FROM part),
      |u AS (
      |  SELECT 'v1' AS phase, COUNT(*) AS n, SUM(cents) AS s FROM p WHERE k % 3 = 0
      |  UNION ALL SELECT 'v2', COUNT(*), SUM(cents) FROM p WHERE k % 3 <= 1
      |  UNION ALL SELECT 'v3', COUNT(*), SUM(cents) FROM p)
      |SELECT phase, CAST(n AS BIGINT) AS n, CAST(s AS BIGINT) AS sum_cents
      |FROM u ORDER BY phase""".stripMargin

  // q273 — INCREMENTAL CDC CONSUMPTION of the versioned table
  // (`EventStream.followVersionedChanges` — the read half of q219's
  // stream→table write; Delta's streaming readChangeFeed in
  // AvailableNow form): a durable cursor file remembers the consumer's
  // last version; each drain processes every newer version pair via
  // changesBetween (scan cost ∝ changed files) and advances the cursor
  // only AFTER the consumer returns (at-least-once; idempotent
  // consumers get exactly-once). The gate replays the q211 history
  // with a drain BETWEEN commits — the second drain must RESUME from
  // the durable cursor, not reprocess pair (1,2) — and accumulates
  // per-pair change-type aggregates; the closed-form oracle hash-fails
  // on a reprocessed, skipped, or misclassified pair. (The empty
  // first drain also exercises the fresh-consumer seed: the initial
  // state is not a change, the Delta convention.)
  val q273CdcFollow: QueryDef = QueryDef.sql("q273_cdc_follow", CdcHistoryOracle) { (s, d) =>
    val root = graft.engine.Staging.scratch("graft-stream-gate", "q273_follow")
    val dir = new java.io.File(root, "table").getAbsolutePath
    val cursor = new java.io.File(root, "cursor").getAbsolutePath
    val part = CatalogGate.partCents(s, d).toDF("p_partkey", "cents")
    val buf = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, String, Long, Long, Long)]
    def drain(): Int = graft.streaming.EventStream.followVersionedChanges(
      s, dir, cursor, "p_partkey") { (df, a, b) =>
      df.groupBy("change_type")
        .agg(count(lit(1)).as("n"),
          coalesce(sum("old_cents"), lit(0L)).cast("long").as("sum_old"),
          coalesce(sum("new_cents"), lit(0L)).cast("long").as("sum_new"))
        .collect() // ≤ 3 rows per pair — the consumer's own report
        .foreach(r => buf += ((a, b, r.getString(0), r.getLong(1),
          r.getLong(2), r.getLong(3))))
    }
    graft.sources.Versioned.create(
      part.filter(col("p_partkey") % 3 =!= 0), dir)            // v1
    require(drain() == 0, "fresh consumer must seed at v1 with no changes")
    graft.sources.Versioned.upsert(s, dir, "p_partkey",
      part.filter(col("p_partkey") % 3 =!= 0 && col("p_partkey") % 5 === 0)
        .withColumn("cents", col("cents") + 100000)
        .unionByName(part.filter(col("p_partkey") % 3 === 0))) // v2
    require(drain() == 1, "one pending pair after the upsert")
    graft.sources.Versioned.deleteKeys(s, dir, "p_partkey",
      part.filter(col("p_partkey") % 7 === 0).select("p_partkey")) // v3
    require(drain() == 1, "resume must process ONLY the new pair")
    import s.implicits._
    buf.toSeq
      .toDF("from_v", "to_v", "change_type", "n", "sum_old", "sum_new")
      .orderBy("from_v", "to_v", "change_type")
  }

  // q279 — EXACTLY-ONCE CDC CONSUMPTION (round-13 item #4, upgrading
  // q273's at-least-once contract): the transactional follower
  // (`EventStream.followVersionedChangesTxn`) publishes each version
  // pair's output by ONE atomic rename and advances the cursor only
  // after — so the publish IS the commit point, and a crash in the
  // worst window (after publish, before cursor) replays as a SKIP, not
  // a duplicate. The gate drives exactly that window: the q273 history
  // with a crash INJECTED between pair (1,2)'s publish and its cursor
  // advance; the recovery drain must skip (1,2) (REQUIRE skipped==1,
  // ran==1) and the final answer is read from the SINK itself — a
  // duplicated pair would double n/sums and hash-fail against the same
  // closed-form oracle as q273. No idempotence is demanded of the
  // transform; the sink's version-keyed dirs carry the arbitration
  // (the Delta/Kafka txn-id pattern).
  val q279CdcExactlyOnce: QueryDef =
    QueryDef.sql("q279_cdc_exactly_once", CdcHistoryOracle) { (s, d) =>
    val root = graft.engine.Staging.scratch("graft-stream-gate", "q279_txn")
    val dir = new java.io.File(root, "table").getAbsolutePath
    val consumer = new java.io.File(root, "consumer").getAbsolutePath
    val part = CatalogGate.partCents(s, d).toDF("p_partkey", "cents")
    def transform(df: DataFrame, a: Long, b: Long): DataFrame =
      df.groupBy("change_type")
        .agg(count(lit(1)).as("n"),
          coalesce(sum("old_cents"), lit(0L)).cast("long").as("sum_old"),
          coalesce(sum("new_cents"), lit(0L)).cast("long").as("sum_new"))
        .select(lit(a).as("from_v"), lit(b).as("to_v"), col("change_type"),
          col("n"), col("sum_old"), col("sum_new"))
    def drain(onPublished: (Long, Long) => Unit = (_, _) => ()): (Int, Int) =
      graft.streaming.EventStream.followVersionedChangesTxn(
        s, dir, consumer, "p_partkey", onPublished)(transform)
    graft.sources.Versioned.create(
      part.filter(col("p_partkey") % 3 =!= 0), dir)               // v1
    require(drain() == ((0, 0)), "fresh consumer seeds at v1, no changes")
    graft.sources.Versioned.upsert(s, dir, "p_partkey",
      part.filter(col("p_partkey") % 3 =!= 0 && col("p_partkey") % 5 === 0)
        .withColumn("cents", col("cents") + 100000)
        .unionByName(part.filter(col("p_partkey") % 3 === 0)))    // v2
    // CRASH in the worst window: pair (1,2) is published, the cursor
    // is not yet advanced — the exact interleaving that duplicates an
    // at-least-once consumer's effect
    val crashed = try {
      drain(onPublished = (_, _) => throw new IllegalStateException("crash"))
      false
    } catch { case e: IllegalStateException if e.getMessage == "crash" => true }
    require(crashed, "the injected crash must fire")
    graft.sources.Versioned.deleteKeys(s, dir, "p_partkey",
      part.filter(col("p_partkey") % 7 === 0).select("p_partkey")) // v3
    // recovery: (1,2) must SKIP (already published), (2,3) must run
    val (ran, skipped) = drain()
    require(ran == 1 && skipped == 1,
      s"recovery must skip the published pair and run the new one " +
        s"(got ran=$ran skipped=$skipped)")
    // the answer comes from the SINK — a duplicate pair doubles it. The
    // published `out/v<to>` dirs are listed and read as explicit paths:
    // a glob path sends FileStreamSink's metadata probe after the
    // literal glob, which logs a FileNotFoundException on every run
    val out = new org.apache.hadoop.fs.Path(consumer, "out")
    val published = out.getFileSystem(s.sparkContext.hadoopConfiguration)
      .listStatus(out).map(_.getPath).filter(_.getName.startsWith("v"))
    s.read.parquet(published.map(_.toString).sorted.toIndexedSeq: _*)
      .filter(col("n") > 0)
      .orderBy("from_v", "to_v", "change_type")
  }

  /** The CDC consumer's classification of a q211-history change feed
    * (q280's micro-batches, q289's batch read): old and new rows
    * full-outer joined per (pair, p_partkey) — old-only = delete,
    * new-only = insert, differing cents = update, identical COW carries
    * dropped — then (from_v, to_v, change_type, n, sum_old, sum_new)
    * per pair and type.
    */
  private def cdcPairCounts(feed: DataFrame): DataFrame = {
    val keys = Seq("_from_v", "_to_v", "p_partkey")
    def side(name: String) = feed.filter(col("_change_side") === name)
      .select(keys.map(col) :+ col("cents").as(s"${name}_cents"): _*)
      .withColumn(s"_in_$name", lit(true))
    side("old").join(side("new"), keys, "full_outer")
      .withColumn("change_type",
        when(col("_in_old").isNull, "insert")
          .when(col("_in_new").isNull, "delete")
          .when(!(col("old_cents") <=> col("new_cents")), "update"))
      .filter(col("change_type").isNotNull) // identical carries drop
      .groupBy(col("_from_v").as("from_v"), col("_to_v").as("to_v"),
        col("change_type"))
      .agg(count(lit(1)).as("n"),
        coalesce(sum("old_cents"), lit(0L)).cast("long").as("sum_old"),
        coalesce(sum("new_cents"), lit(0L)).cast("long").as("sum_new"))
  }

  // q280 — THE VERSIONED TABLE AS A STREAMING SOURCE (round-13 item
  // #5, completing the table format's streaming story end-to-end): a
  // real `MicroBatchStream` over the manifest log
  // (`format("graft-versioned")`, sources/VersionedStream.scala)
  // replaces q273's hand-rolled drain loop — offsets are version
  // numbers, a micro-batch carries one partition PER CHANGED FILE
  // (rows tagged _change_side/_from_v/_to_v; scan cost ∝ changed
  // data), and the executor readers decode parquet through the public
  // Group API with driver-computed era recipes. The gate replays
  // q273's exact history, drains with Trigger.AvailableNow from
  // startingVersion 1, classifies per (pair, key) in foreachBatch
  // (old-only=delete, new-only=insert, differing=update, identical
  // carries dropped — changesBetween's arbitration, distributed), and
  // hash-matches q273's closed-form oracle.
  val q280VersionedStreamSource: QueryDef =
    QueryDef.sql("q280_versioned_stream_source", CdcHistoryOracle) { (s, d) =>
    val root = graft.engine.Staging.scratch("graft-stream-gate", "q280_source")
    val dir = new java.io.File(root, "table").getAbsolutePath
    val ck = new java.io.File(root, "ck").getAbsolutePath
    CatalogGate.q211History(s, d, dir)
    val buf = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, String, Long, Long, Long)]
    val q = withEphemeralCheckpoint(s)(s.readStream.format("graft-versioned")
      .option("path", dir).option("startingVersion", 1).load()
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        cdcPairCounts(batch)
          .collect() // ≤ 3 rows per pair — the consumer's own report
          .foreach(r => buf += ((r.getLong(0), r.getLong(1), r.getString(2),
            r.getLong(3), r.getLong(4), r.getLong(5))))
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", ck)
      .start())
    q.awaitTermination()
    import s.implicits._
    buf.toSeq
      .toDF("from_v", "to_v", "change_type", "n", "sum_old", "sum_new")
      .orderBy("from_v", "to_v", "change_type")
  }

  // q286 — THE VERSIONED TABLE AS A STREAMING SINK (the write half of
  // q280's source — `writeStream.format("graft-versioned")` replaces
  // q219's hand-rolled foreachBatch+upsert for plain appends): each
  // micro-batch appends as ONE manifest commit through the OCC ledger,
  // executors streaming rows straight into parquet (the q283 writer —
  // no staging copy), EXACTLY-ONCE by the `#txn (queryId, epoch)`
  // watermark checked inside the commit (the Delta txnAppId pattern;
  // StreamingSpec drives the real crash window by deleting the
  // checkpoint's commit marker and REQUIRE-ing no double-append). The
  // first commit to a fresh dir CREATES the table. Gate: three
  // range-sliced files drained one per trigger (maxFilesPerTrigger=1)
  // → exactly three versions, REQUIREd; a second drain commits
  // nothing; every version then hash-checks against the closed-form
  // slices — through the SAME catalog/library read path as any table.
  val q286StreamSink: QueryDef = QueryDef.sql("q286_stream_sink", PhaseSlicesOracle) { (s, d) =>
    val root = graft.engine.Staging.scratch("graft-stream-gate", "q286_sink")
    val stage = new java.io.File(root, "stage").getAbsolutePath
    val dir = new java.io.File(root, "table").getAbsolutePath
    val ck = new java.io.File(root, "ck").getAbsolutePath
    val part = CatalogGate.partCents(s, d)
    // three deterministic slices, one parquet file each — with
    // maxFilesPerTrigger=1 each becomes its own epoch commit; the file
    // source admits oldest-mtime first, so mtimes are pinned
    // explicitly (sequential writes can share a millisecond)
    new java.io.File(stage).mkdirs()
    stageSliced(part, col("k") % 3, 3, new java.io.File(stage), root,
      m => 1700000000000L + m * 60000L)
    def drain(): Unit = {
      val q = withEphemeralCheckpoint(s)(s.readStream
        .schema(org.apache.spark.sql.types.StructType.fromDDL(
          "k BIGINT, cents BIGINT"))
        .option("maxFilesPerTrigger", 1).parquet(stage)
        .writeStream.format("graft-versioned").option("path", dir)
        .option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start())
      q.awaitTermination()
    }
    drain()
    val vs = graft.sources.Versioned.versions(s, dir)
    require(vs == Seq(1L, 2L, 3L),
      s"three one-file epochs must land as three commits, got $vs")
    drain() // nothing new → no commit
    require(graft.sources.Versioned.versions(s, dir) == Seq(1L, 2L, 3L),
      "a drain with no new data must commit nothing")
    CatalogGate.phases((1L to 3L).map(v =>
      CatalogGate.phaseOf(s"v$v", graft.sources.Versioned.readVersion(s, dir, v))): _*)
  }

  // q289 — BATCH CHANGE READ of the versioned table (Delta's batch
  // readChangeFeed, completing the CDC matrix: changesBetween is the
  // library surface, q280 the streaming surface, this the bounded SQL
  // read): `spark.read.format("graft-versioned").option("changesFrom",
  // 1).option("changesTo", 3)` plans the SAME one-partition-per-changed-
  // file pair walk as the stream (scan ∝ changed data) through a DSv2
  // Batch, with the same loud guards (dv pairs, post-definition
  // evolution, unknown versions) — the machinery is shared code, not a
  // parallel implementation. The gate replays q280's exact scenario and
  // hash-matches the SAME oracle, pinning batch/stream agreement.
  val q289BatchChangeRead: QueryDef =
    QueryDef.sql("q289_batch_change_read", CdcHistoryOracle) { (s, d) =>
    val root = graft.engine.Staging.scratch("graft-stream-gate", "q289_batch")
    val dir = new java.io.File(root, "table").getAbsolutePath
    CatalogGate.q211History(s, d, dir)
    cdcPairCounts(s.read.format("graft-versioned").option("path", dir)
      .option("changesFrom", 1).option("changesTo", 3).load())
      .orderBy("from_v", "to_v", "change_type")
  }

  // q295 — `readStream.table` ON THE CATALOG TABLE (composing the two
  // flagship round-13 surfaces: the SQL catalog, q276, and the
  // versioned stream source, q280 — which previously did not compose:
  // streaming a table created in SQL meant abandoning the catalog and
  // re-deriving its path). `VersionedSqlTable` now advertises
  // MICRO_BATCH_READ and its scan routes `toMicroBatchStream` to the
  // q280 pair-walk in BARE mode: APPEND-ONLY rows under the table's
  // own schema (the Delta `readStream.table` semantics — no change
  // metadata columns; a file-REMOVING pair fails loudly, the
  // path-based CDC source being the surface for those),
  // `startingVersion = 0` replaying from before the first commit, and
  // `maxVersionsPerTrigger` admission control walking COMMITTED
  // versions (gap-safe under tag-pinned vacuum). The gate drains three
  // committed slices one version per trigger, REQUIREs exactly three
  // bounded micro-batches in version order, and hash-matches each
  // slice closed-form. Scale: per-batch scan cost ∝ the versions
  // drained, never table size — the q280 argument, now by table NAME.
  val q295StreamTable: QueryDef = QueryDef.sql(
    "q295_stream_table",
    """WITH p AS (SELECT p_partkey AS k,
      |             CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100 AS BIGINT)
      |               AS cents
      |           FROM part),
      |u AS (
      |  SELECT 'v1' AS phase, COUNT(*) AS n, SUM(cents) AS s FROM p WHERE k % 3 = 0
      |  UNION ALL SELECT 'v2', COUNT(*), SUM(cents) FROM p WHERE k % 3 = 1
      |  UNION ALL SELECT 'v3', COUNT(*), SUM(cents) FROM p WHERE k % 3 = 2)
      |SELECT phase, CAST(n AS BIGINT) AS n, CAST(s AS BIGINT) AS sum_cents
      |FROM u ORDER BY phase""".stripMargin) { (s, d) =>
    val g = CatalogGate(s, "q295_table", "graft-stream-gate")
    CatalogGate.partCents(s, d).createOrReplaceTempView("q295_src")
    s.sql("CREATE TABLE graft_cat.sx (k BIGINT, cents BIGINT)")
    (0 to 2).foreach(i => s.sql(
      s"INSERT INTO graft_cat.sx SELECT k, cents FROM q295_src WHERE k % 3 = $i"))
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = withEphemeralCheckpoint(s)(s.readStream
      .option("startingVersion", 0)
      .option("maxVersionsPerTrigger", 1)
      .table("graft_cat.sx")
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // bare mode: the table's own schema, no _change_* columns
        require(batch.columns.toSeq == Seq("k", "cents"),
          s"readStream.table must stream the table schema: ${batch.columns.toSeq}")
        val agg = batch.agg(count(lit(1)), coalesce(sum("cents"), lit(0L)))
          .head()
        if (agg.getLong(0) > 0) buf += ((agg.getLong(0), agg.getLong(1)))
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", new java.io.File(g.root, "ck").getAbsolutePath)
      .start())
    q.awaitTermination()
    require(buf.size == 3,
      s"three committed versions at one per trigger must drain as three " +
        s"bounded micro-batches, got ${buf.size}")
    CatalogGate.phases(g.local(buf.toSeq.zipWithIndex
      .map { case ((n, sum), i) => (s"v${i + 1}", n, sum) }: _*))
  }

  // q297 — STREAMING WRITE BY TABLE NAME (`writeStream.toTable`, the
  // write-side twin of q295's `readStream.table`; with both, a SQL
  // user's whole streaming loop runs by NAME — create in SQL, stream
  // in, stream out, inspect via t.history — without ever deriving a
  // path): `VersionedSqlTable` advertises STREAMING_WRITE and its
  // write builder's `toStreaming` routes to the q286 sink machinery —
  // one manifest commit per micro-batch through the OCC ledger,
  // EXACTLY-ONCE by the `#txn` (queryId, epoch) watermark, executors
  // streaming rows straight into parquet. The stream is additionally
  // held to the table's DECLARED schema (a CREATE'd-but-empty table
  // has no manifest for the sink's own check to see — the first
  // commit must not silently diverge from the CREATE statement), and
  // Complete output mode is rejected loudly (truncate-per-epoch is
  // not a thing a log-structured table should fake — Delta's stance).
  // Gate: three one-file epochs → exactly three versions by name, a
  // re-drain commits nothing, every version hash-checks closed-form
  // THROUGH THE CATALOG (time travel over a streamed-in table).
  val q297StreamToTable: QueryDef =
    QueryDef.sql("q297_stream_to_table", PhaseSlicesOracle) { (s, d) =>
    val g = CatalogGate(s, "q297_totable", "graft-stream-gate")
    val stage = new java.io.File(g.root, "stage").getAbsolutePath
    val ck = new java.io.File(g.root, "ck").getAbsolutePath
    new java.io.File(stage).mkdirs()
    stageSliced(CatalogGate.partCents(s, d), col("k") % 3, 3,
      new java.io.File(stage), g.root, m => 1700000000000L + m * 60000L)
    s.sql("CREATE TABLE graft_cat.ws (k BIGINT, cents BIGINT)")
    def drain(): Unit = {
      val q = withEphemeralCheckpoint(s)(s.readStream
        .schema(org.apache.spark.sql.types.StructType.fromDDL(
          "k BIGINT, cents BIGINT"))
        .option("maxFilesPerTrigger", 1).parquet(stage)
        .writeStream
        .option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable("graft_cat.ws"))
      q.awaitTermination()
    }
    drain()
    val dir = s"${g.wh}/ws"
    val vs = graft.sources.Versioned.versions(s, dir)
    require(vs == Seq(1L, 2L, 3L),
      s"three one-file epochs must land as three commits, got $vs")
    drain() // nothing new → no commit (the #txn watermark)
    require(graft.sources.Versioned.versions(s, dir) == Seq(1L, 2L, 3L),
      "a drain with no new data must commit nothing")
    CatalogGate.phases((1L to 3L).map(v =>
      g.read(s"v$v", s"graft_cat.ws VERSION AS OF $v")): _*)
  }

  // q308 — STREAMING WRITES INTO A `PARTITIONED BY` TABLE (closing the
  // loud rejection q297 shipped with: `writeStream.toTable` into a
  // partitioned table — the single most common streaming-lake shape —
  // previously required hand-rolled foreachBatch): each epoch's raw
  // task files are read back through the PARTITIONED WRITER at commit
  // (cluster per partition value + `#pfile` tag per spec field), and
  // the clustered files commit as ONE manifest version carrying the
  // `#txn` (queryId, epoch) watermark — so streamed-in files hold the
  // exact layout invariant batch INSERTs do (one file per value per
  // commit, every file tagged) and partition pruning never degrades.
  // The epoch pays one extra read+write OF ITSELF (MBs, never the
  // table) — the price of the invariant; the fanout-writer alternative
  // multiplies file count by tasks × values and unsorts the layout.
  // Gate: three one-file epochs into PARTITIONED BY (days(ts)) → three
  // versions, each new file tagged days(ts), one file per day per
  // epoch; a one-day range query reads exactly one file per epoch
  // (COUNT(DISTINCT _file) REQUIREd); a re-drain commits NOTHING (the
  // watermark, exactly-once); every version hash-checks closed-form
  // through VERSION AS OF. StreamingSpec pins the crash-between-
  // epochs replay (same epoch re-committed → no duplicate rows, raw
  // and clustered duplicates deleted). At 100 TB: a day-repair query
  // on a streamed-in table reads O(day), not O(table).
  val q308StreamPartitioned: QueryDef = QueryDef.sql(
    "q308_stream_partitioned",
    """WITH p AS (SELECT p_partkey AS k,
      |    CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
      |    make_timestamp((p_partkey % 4) * 86400000000 +
      |                   p_partkey * 1000000) AS ts
      |  FROM part),
      |u AS (
      |  SELECT 'v1' AS phase, COUNT(*) AS n, SUM(cents) AS s FROM p
      |  WHERE k % 3 = 0
      |  UNION ALL SELECT 'v2', COUNT(*), SUM(cents) FROM p WHERE k % 3 <= 1
      |  UNION ALL SELECT 'v3', COUNT(*), SUM(cents) FROM p
      |  UNION ALL SELECT 'day1', COUNT(*), SUM(cents) FROM p
      |  WHERE ts BETWEEN TIMESTAMP '1970-01-02 00:00:00'
      |    AND TIMESTAMP '1970-01-02 23:59:59')
      |SELECT phase, CAST(n AS BIGINT) AS n, CAST(s AS BIGINT) AS sum_cents
      |FROM u ORDER BY phase""".stripMargin) { (s, d) =>
    val g = CatalogGate(s, "q308_part", "graft-stream-gate")
    val stage = new java.io.File(g.root, "stage").getAbsolutePath
    val ck = new java.io.File(g.root, "ck").getAbsolutePath
    val part = CatalogGate.partCents(s, d,
      timestamp_micros((col("p_partkey") % 4) * lit(86400000000L) +
        col("p_partkey") * lit(1000000L)).as("ts"))
    new java.io.File(stage).mkdirs()
    stageSliced(part, col("k") % 3, 3, new java.io.File(stage), g.root,
      m => 1700000000000L + m * 60000L)
    s.sql("CREATE TABLE graft_cat.sp (k BIGINT, cents BIGINT, ts TIMESTAMP) " +
      "PARTITIONED BY (days(ts))")
    def drain(): Unit = {
      val q = withEphemeralCheckpoint(s)(s.readStream
        .schema(org.apache.spark.sql.types.StructType.fromDDL(
          "k BIGINT, cents BIGINT, ts TIMESTAMP"))
        .option("maxFilesPerTrigger", 1).parquet(stage)
        .writeStream
        .option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable("graft_cat.sp"))
      q.awaitTermination()
    }
    drain()
    val dir = s"${g.wh}/sp"
    val vs = graft.sources.Versioned.versions(s, dir)
    require(vs == Seq(1L, 2L, 3L),
      s"three one-file epochs must land as three commits, got $vs")
    // every streamed-in file carries the partitioned writer's layout:
    // one file per day VALUE per epoch, each tagged days(ts)
    (1L to 3L).foreach { v =>
      val m = graft.sources.Versioned.manifestOf(s, dir, v)
      val prev = if (v == 1) Set.empty[String]
        else graft.sources.Versioned.manifestOf(s, dir, v - 1)
          .entries.map(_._1).toSet
      val fresh = m.entries.map(_._1).filterNot(prev)
      val freshTags = m.ptags.filter(t => fresh.contains(t._1))
      require(fresh.size == 4 && freshTags.size == 4 &&
        freshTags.forall(_._2 == "days(ts)") &&
        freshTags.map(_._3).toSet == (0 to 3).map(_.toString).toSet,
        s"epoch $v must land one days(ts)-tagged file per day 0..3, " +
          s"got files=$fresh tags=$freshTags")
    }
    // a one-day range reads exactly one file per epoch — the pruning
    // the clustered commit exists to preserve
    val day1 = "ts BETWEEN TIMESTAMP '1970-01-02 00:00:00' " +
      "AND TIMESTAMP '1970-01-02 23:59:59'"
    g.requireFiles("graft_cat.sp", day1, 3L,
      "a 1-day range must read 1 file per epoch (3 of 12)")
    drain() // nothing new → no commit (the #txn watermark)
    require(graft.sources.Versioned.versions(s, dir) == Seq(1L, 2L, 3L),
      "a drain with no new data must commit nothing")
    CatalogGate.phases((1L to 3L).map(v =>
      g.read(s"v$v", s"graft_cat.sp VERSION AS OF $v")) :+
      g.read("day1", "graft_cat.sp", day1): _*)
  }

  // q318 — MOR-AWARE CHANGE FEED (closing the change stream's last
  // documented limitation: a version pair carrying `#dv` sidecar
  // rows failed loudly — "not readable as file diffs" — so the CDC
  // surface went dark exactly when a table used its cheapest delete
  // path): a pair that ADDS sidecar rows now emits exactly the
  // deleted rows as `old`-side DELETE events — one executor partition
  // per targeted live file, reading the file + the new sidecars
  // ([[VersionedFileReader]], the decode the row-level scan shares) and
  // keeping ONLY the keys the pair deleted; file-diff partitions emit
  // each side's LIVE rows (the side's own sidecars applied), so a
  // compaction after deletes streams as pure carries and an
  // already-deleted row never re-emits as a second delete
  // (spec-pinned). A MOR UPDATE (sidecar + insert rows, ONE commit)
  // therefore streams as old+new per key — the classified UPDATE.
  // Cost stays ∝ changed data: dv-free pairs attach nothing; a dv
  // pair costs the targeted files + deleted-keys-sized sidecar reads.
  // Gate: a MOR table takes a SQL DELETE (sidecar-only commit) and a
  // MOR UPDATE, and the BATCH change read classifies both pairs
  // closed-form against DuckDB — delete events, update old/new
  // sides, and the head all hash-matched. At 100 TB: downstream CDC
  // consumers survive the table's cheapest write path instead of
  // forcing every producer back to COW.
  val q318MorCdc: QueryDef = QueryDef.sql(
    "q318_mor_cdc",
    """WITH p AS (SELECT p_partkey AS k,
      |    CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      |  FROM part),
      |u AS (
      |  SELECT 'del' AS phase, COUNT(*) AS n, SUM(cents) AS s FROM p
      |  WHERE k % 9 = 0
      |  UNION ALL SELECT 'upd_old', COUNT(*), SUM(cents) FROM p
      |  WHERE k % 9 = 3
      |  UNION ALL SELECT 'upd_new', COUNT(*), SUM(cents * 2) FROM p
      |  WHERE k % 9 = 3
      |  UNION ALL SELECT 'head', COUNT(*),
      |    SUM(cents * CASE WHEN k % 9 = 3 THEN 2 ELSE 1 END) FROM p
      |  WHERE k % 3 = 0 AND k % 9 <> 0)
      |SELECT phase, CAST(n AS BIGINT) AS n, CAST(s AS BIGINT) AS sum_cents
      |FROM u ORDER BY phase""".stripMargin) { (s, d) =>
    val g = CatalogGate(s, "q318_morcdc", "graft-stream-gate")
    CatalogGate.partCents(s, d).createOrReplaceTempView("q318_src")
    s.sql("CREATE TABLE graft_cat.mc (k BIGINT, cents BIGINT) " +
      "TBLPROPERTIES('graft.key'='k','graft.merge.mode'='mor')")
    s.sql("INSERT INTO graft_cat.mc SELECT k, cents FROM q318_src " +
      "WHERE k % 3 = 0")                                                 // v1
    val dir = s"${g.wh}/mc"
    s.sql("DELETE FROM graft_cat.mc WHERE k % 9 = 0")                    // v2
    val m2 = graft.sources.Versioned.manifestOf(s, dir, 2)
    require(m2.dvs.nonEmpty && m2.entries ==
      graft.sources.Versioned.manifestOf(s, dir, 1).entries,
      "the MOR delete must commit sidecar-only")
    s.sql("UPDATE graft_cat.mc SET cents = cents * 2 WHERE k % 9 = 3")   // v3
    def feed(from: Int, to: Int) = s.read.format("graft-versioned")
      .option("path", dir).option("changesFrom", from)
      .option("changesTo", to).load()
    val p12 = feed(1, 2).collect()
    require(p12.forall(_.getAs[String]("_change_side") == "old"),
      "a sidecar-only pair is pure delete events")
    val p23 = feed(2, 3)
    import CatalogGate.{collectPhase, phaseOf}
    CatalogGate.phases(g.local(collectPhase(phaseOf("del", feed(1, 2))),
      collectPhase(phaseOf("upd_old", p23.filter(col("_change_side") === "old"))),
      collectPhase(phaseOf("upd_new", p23.filter(col("_change_side") === "new"))),
      g.collect("head", "graft_cat.mc")))
  }

  val all: Seq[QueryDef] = Seq(q150StreamCurate, q151StreamWindow,
    q156StreamJoin, q164StreamSessions, q165StreamEnrich, q166StreamCdc,
    q181StreamOuterJoin, q188StreamMilestones, q194StreamExpiryDigest,
    q209StreamFullJoin, q219StreamVersioned, q273CdcFollow,
    q279CdcExactlyOnce, q280VersionedStreamSource, q286StreamSink,
    q289BatchChangeRead, q295StreamTable, q297StreamToTable,
    q308StreamPartitioned, q318MorCdc)
}

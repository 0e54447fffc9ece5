package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Structured Streaming twins of the reference's incremental-ingest loop
  * (`/root/reference/DataExtract/extract_data.py:199-246`): the scroll
  * loop is a micro-batch source, the `seen` dict is streaming dedup
  * state, and the stale-round stop (`:232-237` — "no progress ⇒ close")
  * is the watermark. Batch queries q07/q17 are the one-shot forms; these
  * run continuously over an events directory.
  *
  * 100 TB notes: state is keyed (event_id / user_id), so it shards across
  * executors via the state store; the watermark bounds state size — late
  * data past it is dropped, exactly like the reference closing a stale
  * scroll window.
  */
object EventStream {

  /** The events schema as Structured Streaming reads it (ts already µs). */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** U1 streaming dedup: first-seen-wins per event_id with bounded state
    * (the jjit `seen` dict, with the watermark as its eviction policy).
    */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark(Seq("event_id"))

  /** q17's streaming twin: tumbling 1-hour windows, append mode —
    * each window emits once its watermark passes (the "stale round"
    * trigger).
    */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_value"))
      .select(col("window.start").as("hour_ts"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Event-time session windows — the streaming twin of batch q46,
    * through the SAME `session_window` operator (where [[sessionize]] is
    * the custom-state formulation with processing-time timeouts). The
    * watermark both bounds state and drives emission: a session is
    * APPEND-emitted only once the watermark passes its close (end + gap),
    * so results are final — identical to what the batch form computes
    * over the same closed rows (StreamingSpec-pinned).
    */
  def sessionWindowStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("n_events"))

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)

  final case class SessionState(n: Long, lastMs: Long)

  final case class Session(user_id: Long, n_events: Long, closed_at_ms: Long)

  /** Custom state machine: per-user sessionization with a processing-time
    * idle timeout — the general form the built-ins can't express
    * (`flatMapGroupsWithState`). A session closes after 30 min of
    * inactivity and emits one summary row.
    */
  def sessionize(events: Dataset[Event]): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout)(
        (userId: Long, batch: Iterator[Event], state: GroupState[SessionState]) => {
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Session(userId, s.n, s.lastMs))
          } else {
            val events = batch.toSeq
            val prev = state.getOption.getOrElse(SessionState(0L, 0L))
            val next = SessionState(
              prev.n + events.size,
              events.map(_.ts.getTime).foldLeft(prev.lastMs)(math.max))
            state.update(next)
            state.setTimeoutDuration("30 minutes")
            Iterator.empty
          }
        })
  }

  final case class Milestone(user_id: Long, milestone: Long,
      milestone_ts: java.sql.Timestamp, cum_value: Double)

  /** Custom EVENT-TIME state machine on the deterministic path (where
    * [[sessionize]] is the processing-time form no oracle can replay):
    * per user, emit one row each time the running event count crosses a
    * multiple of `every`, carrying the event time and the exact running
    * value at that point. Determinism contract: within each micro-batch
    * a user's events are folded in (event time µs, event_id) order, and
    * the running value accumulates in integer CENTS (the decimal-cast
    * discipline — a double fold would be batch-boundary-dependent), so
    * on bounded input the emitted set is a pure function of the data —
    * the closed form q188's DuckDB oracle replays as a windowed
    * row_number + running decimal sum. State is two Longs per user,
    * dropped via the event-time timeout once the watermark passes the
    * user's last activity + 1 h.
    */
  def milestoneStream(events: DataFrame, every: Int = 5): Dataset[Milestone] = {
    import events.sparkSession.implicits._
    val typed = events
      .withWatermark("ts", "10 minutes")
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("us"),
        col("event_id"),
        (col("value").cast(DecimalType(18, 2)) * 100).cast(LongType).as("cents"))
      .as[(Long, java.sql.Timestamp, Long, Long, Long)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (uid: Long, batch: Iterator[(Long, java.sql.Timestamp, Long, Long, Long)],
            state: GroupState[(Long, Long)]) => {
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            // µs-precision event-time order, event_id tiebreak — the
            // same total order the oracle's window uses (ms-precision
            // getTime would mis-order sub-millisecond neighbors)
            val rows = batch.toArray.sortBy(e => (e._3, e._4))
            var (n, cum) = state.getOption.getOrElse((0L, 0L))
            val out = Array.newBuilder[Milestone]
            var maxMs = Long.MinValue
            rows.foreach { e =>
              n += 1
              cum += e._5
              maxMs = math.max(maxMs, e._2.getTime)
              if (n % every == 0) out += Milestone(uid, n, e._2, cum / 100.0)
            }
            state.update((n, cum))
            if (rows.nonEmpty) state.setTimeoutTimestamp(maxMs + 3600L * 1000)
            out.result().iterator
          }
        })
  }

  final case class ExpiryDigest(user_id: Long, n_events: Long,
      total_value: Double, last_ts: java.sql.Timestamp,
      top1: Option[Double], top2: Option[Double], top3: Option[Double])

  /** Spark 4's `transformWithState` operator surface — the successor API
    * to [[milestoneStream]]'s `flatMapGroupsWithState`, exercised for the
    * one thing the old API cannot express: MULTIPLE independent state
    * variables per key (a ValueState aggregate + a ListState top-k) plus
    * explicitly-managed EVENT-TIME TIMERS (register/delete per key, fire
    * on watermark advance) instead of the single fused timeout. Per user:
    * when the watermark passes the user's last activity + `idleMs`, the
    * timer fires and emits ONE inactivity digest — event count, exact
    * total (integer-cents accumulation), last-activity time, and the
    * top-`topK` purchase values — then clears both state variables, so a
    * user who reappears later starts a fresh burst (a second digest).
    *
    * Determinism contract (the same discipline as [[milestoneStream]]):
    * every per-key quantity is an ORDER-INDEPENDENT fold — count, cents
    * sum, (µs, event_id)-max for last_ts, and a top-k set under the total
    * order (cents DESC, event_id ASC) — so the emitted digest is a pure
    * function of the data regardless of micro-batch boundaries, and the
    * firing predicate is closed-form in MILLISECONDS (timers are ms:
    * floor_ms(last_ts) + idleMs < floor_ms(max ts) − delay) — which is
    * exactly what q194's DuckDB oracle replays via epoch arithmetic.
    *
    * Scale: state is two small variables per ACTIVE user (the timer
    * evicts both), sharded by the state store across executors; requires
    * the RocksDB state-store provider (a transformWithState constraint —
    * see StreamQueries.runToParquet's rocksDb flag).
    */
  class ExpiryDigestProcessor(idleMs: Long, topK: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, java.sql.Timestamp, Long, Long, Long), ExpiryDigest] {
    import implicits._
    // (n_events, cents, maxUs, last_ts) — lastUs orders µs-precision
    // neighbours; the Timestamp itself is kept so the digest emits the
    // exact value the oracle's max(ts) produces
    @transient private var agg: org.apache.spark.sql.streaming.ValueState[
      (Long, Long, Long, java.sql.Timestamp)] = _
    // (cents, event_id) — the top-k candidates under (cents DESC, id ASC)
    @transient private var tops: org.apache.spark.sql.streaming.ListState[
      (Long, Long)] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      agg = getHandle.getValueState("agg",
        implicitly[org.apache.spark.sql.Encoder[
          (Long, Long, Long, java.sql.Timestamp)]],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      tops = getHandle.getListState("tops",
        implicitly[org.apache.spark.sql.Encoder[(Long, Long)]],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    override def handleInputRows(uid: Long,
        rows: Iterator[(Long, java.sql.Timestamp, Long, Long, Long)],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[ExpiryDigest] = {
      val batch = rows.toArray.sortBy(e => (e._3, e._4))
      if (batch.isEmpty) Iterator.empty
      else {
        val prev = if (agg.exists()) Some(agg.get()) else None
        // one live timer per key: re-arm by delete + register (the API
        // has no "update"; a stale timer left behind would double-fire)
        prev.foreach(p => getHandle.deleteTimer(p._4.getTime + idleMs))
        var (n, cents, maxUs, lastTs) =
          prev.getOrElse((0L, 0L, Long.MinValue, null: java.sql.Timestamp))
        batch.foreach { e =>
          n += 1
          cents += e._5
          if (e._3 > maxUs) { maxUs = e._3; lastTs = e._2 }
        }
        val merged = (tops.get().toArray ++ batch.map(e => (e._5, e._4)))
          .sortBy(t => (-t._1, t._2)).take(topK)
        agg.update((n, cents, maxUs, lastTs))
        tops.put(merged)
        getHandle.registerTimer(lastTs.getTime + idleMs)
        Iterator.empty
      }
    }

    override def handleExpiredTimer(uid: Long,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[ExpiryDigest] = {
      val (n, cents, _, lastTs) = agg.get()
      val top = tops.get().toArray.sortBy(t => (-t._1, t._2)).map(_._1 / 100.0)
      agg.clear()
      tops.clear()
      Iterator.single(ExpiryDigest(uid, n, cents / 100.0, lastTs,
        top.lift(0), top.lift(1), top.lift(2)))
    }
  }

  /** q194's stream: [[ExpiryDigestProcessor]] over the events feed. */
  def expiryDigestStream(events: DataFrame, idleMs: Long = 3600L * 1000,
      topK: Int = 3): Dataset[ExpiryDigest] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("us"),
        col("event_id"),
        (col("value").cast(DecimalType(18, 2)) * 100).cast(LongType).as("cents"))
      .as[(Long, java.sql.Timestamp, Long, Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new ExpiryDigestProcessor(idleMs, topK),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
  }

  /** Streaming near-dup filter: incoming documents are sketched with the
    * native `graft_simhash16` expression (one projection, no state) and
    * deduplicated on the signature within the watermark — the streaming
    * form of the batch q23/q22 near-dup pass, with state bounded exactly
    * like the reference's `seen` dict is bounded by its stale-round stop.
    * Expects columns (doc_id, text, ingest_ts); emits the first document
    * seen per signature. Requires GraftFunctions.register on the session.
    */
  def nearDupFilterStream(docs: DataFrame): DataFrame =
    docs
      .withColumn("simhash",
        graft.functions.GraftFunctions.simhash16(split(col("text"), " ")))
      .withWatermark("ingest_ts", "10 minutes")
      .dropDuplicatesWithinWatermark(Seq("simhash"))

  /** Streaming corpus ingest — the curation front door as ONE continuous
    * pipeline: incoming documents pass the quality cascade
    * ([[graft.operators.Corpus.dropReason]] — the SAME expression the
    * batch q92 audit runs, so stream and batch agree by construction),
    * survivors are sketched with the native `graft_simhash16` and
    * near-dup-deduplicated within the watermark. Both stages are
    * projection-time expressions; the only state is the bounded dedup
    * store keyed by signature.
    *
    * Expects columns (doc_id, text, lang, n_chars, ingest_ts); emits the
    * first kept document per signature. Requires
    * GraftFunctions.register on the session.
    */
  def corpusIngestStream(docs: DataFrame): DataFrame =
    docs
      .withColumn("drop_reason",
        graft.operators.Corpus.dropReason(col("text"), col("n_chars"), col("lang")))
      .filter(col("drop_reason") === "0_kept")
      .drop("drop_reason")
      .withColumn("simhash",
        graft.functions.GraftFunctions.simhash16(split(col("text"), " ")))
      .withWatermark("ingest_ts", "10 minutes")
      .dropDuplicatesWithinWatermark(Seq("simhash"))

  /** Streaming data-quality audit: the q104 gate as a continuous
    * monitor. Incoming rows are probed against the broadcast order-key
    * dimension (stream-static, no streaming state for the join) and
    * every row-local rule — the SAME
    * [[graft.operators.Quality.rowRules]] expressions the batch audit
    * aggregates, so batch and stream agree by construction — folds into
    * one windowed conditional aggregation. Emits one row per
    * (window, rule) with violation counts; uniqueness (keyed, unbounded
    * state) is deliberately batch-only.
    */
  def qualityAuditStream(lineitems: DataFrame, orderKeys: DataFrame): DataFrame = {
    import graft.operators.Quality
    val rules = Quality.rowRules :+ ("orderkey_fk_exists" -> Quality.fkViolation)
    val sums = rules.map { case (name, pred) =>
      sum(when(pred, 1L).otherwise(0L)).as(s"v_$name")
    }
    val stacked = rules.map { case (name, _) => s"'$name', v_$name" }
    lineitems
      .join(broadcast(orderKeys), lineitems("l_orderkey") === col("o_orderkey"), "left")
      .withWatermark("ingest_ts", "10 minutes")
      .groupBy(window(col("ingest_ts"), "1 minute"))
      .agg(count(lit(1)).as("n_rows"), sums: _*)
      .select(col("window.start").as("window_start"), col("n_rows"), expr(
        s"stack(${stacked.size}, ${stacked.mkString(", ")}) AS (rule, n_violations)"))
  }

  /** Stream-static enrichment: join a stream against a small static
    * dimension (the D1 abbreviation-lookup shape, continuous). The
    * dimension broadcasts — each micro-batch probes executor-local
    * hashes, no streaming state, no shuffle of the stream side.
    */
  def enrichStream(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  /** [[enrichStream]] against a SLOWLY CHANGING dimension: a stream-static
    * join binds the dim's contents once at query start, so a dim updated
    * mid-stream silently enriches with stale rows forever. The production
    * pattern re-reads the dim path inside `foreachBatch` — each
    * micro-batch plans a fresh scan (and fresh broadcast), so a dim
    * overwrite between batches is picked up at the NEXT batch boundary,
    * with per-batch join consistency (no torn reads within a batch).
    * The refresh cost is one small-dim scan per batch — the price of
    * correctness for reference data that actually changes.
    *
    * Returns the writer; `sink` receives each enriched micro-batch.
    */
  def enrichStreamRefreshing(events: DataFrame, dimPath: String, key: String)(
      sink: DataFrame => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      val dim = batch.sparkSession.read.parquet(dimPath)
      sink(batch.join(broadcast(dim), Seq(key), "left"))
    }

  /** Stream-stream interval join: purchases attributed to the signup of
    * the same user within one hour — the canonical conversion pairing.
    * Both sides carry watermarks and the join condition bounds the event
    * time range, so the state store holds only rows inside
    * watermark + interval and evicts as time advances (unbounded
    * stream-stream joins are rejected by Spark for exactly this reason).
    */
  def conversionStream(events: DataFrame): DataFrame = {
    val signups = events.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts").as("signup_ts"))
      .withWatermark("signup_ts", "10 minutes")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("ts").as("purchase_ts"), col("value"))
      .withWatermark("purchase_ts", "10 minutes")
    signups.join(purchases,
      expr("""user_id = p_user_id AND
              purchase_ts >= signup_ts AND
              purchase_ts <= signup_ts + INTERVAL 1 HOUR"""))
      .select(col("user_id"), col("signup_ts"), col("purchase_ts"), col("value"))
  }

  /** [[conversionStream]]'s LEFT OUTER variant — the semantics users
    * get wrong most: a signup with no purchase in its hour emits a
    * NULL-padded row, but only once the watermark closes its join
    * window (Spark holds the row in state until no future purchase
    * could match — watermark past signup_ts + 1 h — then emits the
    * null result on eviction). Two consequences the gate pins:
    * matched pairs emit exactly as in the inner join, and the
    * null-padded set is exactly the evicted-unmatched signups — rows
    * whose window is still inside the final watermark are WITHHELD,
    * not null-emitted (the tail every at-least-once consumer must
    * expect to see only on the next advance).
    */
  def conversionStreamOuter(events: DataFrame): DataFrame = {
    val signups = events.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts").as("signup_ts"))
      .withWatermark("signup_ts", "10 minutes")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("ts").as("purchase_ts"), col("value"))
      .withWatermark("purchase_ts", "10 minutes")
    signups.join(purchases,
      expr("""user_id = p_user_id AND
              purchase_ts >= signup_ts AND
              purchase_ts <= signup_ts + INTERVAL 1 HOUR"""),
      "left_outer")
      .select(col("user_id"), col("signup_ts"), col("purchase_ts"), col("value"))
  }

  /** [[conversionStream]]'s FULL OUTER variant, completing the
    * interval-join family (q156 inner, q181 left): BOTH unmatched sides
    * null-emit on watermark expiry. The signup side expires as in the
    * left join (watermark past signup_ts + 1 h). The purchase side's
    * window looks BACKWARD — a purchase matches signups with
    * signup_ts ∈ [purchase_ts − 1 h, purchase_ts] — so a purchase can
    * still meet a future signup only while purchase_ts is ahead of the
    * signup watermark; once the watermark passes purchase_ts the row is
    * evicted and null-emits. Rows still inside the final watermark are
    * WITHHELD on both sides (the q181 contract, now bidirectional).
    */
  def conversionStreamFull(events: DataFrame): DataFrame = {
    val signups = events.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts").as("signup_ts"))
      .withWatermark("signup_ts", "10 minutes")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("ts").as("purchase_ts"), col("value"))
      .withWatermark("purchase_ts", "10 minutes")
    signups.join(purchases,
      expr("""user_id = p_user_id AND
              purchase_ts >= signup_ts AND
              purchase_ts <= signup_ts + INTERVAL 1 HOUR"""),
      "full_outer")
      .select(coalesce(col("user_id"), col("p_user_id")).as("user_id"),
        col("signup_ts"), col("purchase_ts"), col("value"))
  }

  /** Streaming offers ingest — the scrape loop (S1/S2) as a continuous
    * query: each NEW snapshot file landing in the lake leaf is a new
    * micro-batch (the reference's per-round `scrape()` call), parsed by
    * the same generator + expression pipeline the batch path runs
    * ([[graft.sources.Offers.offers]] — P1–P3, X1–X7), so batch and
    * stream emit identical offer rows for identical snapshots by
    * construction. `wholetext` keeps one file = one snapshot.
    *
    * 100 TB notes: file-arrival micro-batches need no state at all —
    * parsing is embarrassingly parallel per snapshot; dedup/windowing
    * compose downstream exactly as on the batch DataFrame.
    */
  def offersIngestStream(spark: SparkSession, snapshotDir: String, site: String): DataFrame = {
    import spark.implicits._
    val html = spark.readStream
      .option("wholetext", "true").text(snapshotDir)
      .select("value").as[String]
    graft.sources.Offers.offers(site, html)
  }

  /** Streaming near-dup index probe — q106 as a continuous admission
    * gate. Arriving documents are sketched and probed against the STATIC
    * persisted (band,sig)-bucketed corpus index with the SAME
    * [[graft.operators.Incremental.probeNeardupIndex]] the batch query
    * runs, so stream and batch agree by construction. Resolution (best
    * match per doc) runs inside `foreachBatch`: each document's candidate
    * set is complete once its own micro-batch is sketched (the index is
    * static within a batch and a doc's signatures are row-local), so the
    * per-doc decision is identical no matter how arrivals split across
    * micro-batches — pinned by the StreamingSpec maxFilesPerTrigger=1
    * equivalence test.
    *
    * Returns the writer so the caller owns trigger/checkpoint options;
    * `sink` receives each micro-batch's resolved (doc_id, dup_of,
    * n_bands) frame — in production it appends admitted (dup_of NULL)
    * docs' signatures back to the index table.
    */
  def neardupProbeStream(docs: DataFrame, indexSigs: DataFrame)(
      sink: DataFrame => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      sink(graft.operators.Incremental.probeNeardupIndex(
        graft.operators.Incremental.lshSignatures(batch), indexSigs))
    }

  /** [[neardupProbeStream]] for EMBEDDINGS — a vector stream continuously
    * probed against the persisted (band, bval)-bucketed RP-signature
    * index with the SAME [[graft.operators.Similarity.probeVecNeardupIndex]]
    * the batch query (q125) runs, so stream and batch agree by
    * construction. The same micro-batch-split invariance argument holds:
    * a vector's signatures are row-local and the index is static within
    * a batch, so each vector's admission decision is complete in its own
    * micro-batch. `sink` receives (vec_id, dup_of, n_bands, sim) frames;
    * in production it appends admitted vectors' signatures back to the
    * index table (the q125 lifecycle, continuous form).
    */
  def vecProbeStream(vecs: DataFrame, indexBands: DataFrame, threshold: Double)(
      sink: DataFrame => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vecs.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      sink(graft.operators.Similarity.probeVecNeardupIndex(
        graft.operators.Similarity.rpSignatures(batch), indexBands, threshold))
    }

  /** CDC apply — a change stream (upserts + delete markers)
    * continuously merged into a [[graft.sources.Versioned]] table: each
    * micro-batch reduces to its LAST change per key (greatest
    * `orderCols`, compared in order) and lands as ONE
    * [[graft.sources.Versioned.upsert]] manifest commit, so a raw,
    * non-compacted change feed drives the sink directly, a streamed
    * change log and a batch replay of the same per-batch upserts land
    * the same table state, and the table's version history IS the
    * stream's batch history — `readVersion(k)` is the exact state after
    * batch k (q219 puts that on the oracle gate), replay/audit for free.
    * Batches apply in arrival order (foreachBatch's contract:
    * sequential, never concurrent); the keep-latest reduction is a
    * plain batch window inside foreachBatch (no stream-side state), and
    * a key whose latest change carries `deleteFlag` is removed.
    * Concurrency contract, precisely: the OCC ledger serializes
    * MANIFEST COMMITS (this writer's upserts vs compaction vs vacuum's
    * locked pass), while this writer's data files written BEFORE its
    * commit are protected from a concurrent vacuum by the
    * orphan-retention age window, not by the ledger.
    *
    * Returns the writer so the caller owns trigger/checkpoint options.
    */
  def cdcApplyVersionedStream(changes: DataFrame, dir: String, keyCol: String,
      deleteFlag: String, orderCols: Seq[String])
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    require(orderCols.nonEmpty, "keep-latest arbitration needs at least one order column")
    changes.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keyCol).orderBy(orderCols.map(col(_).desc): _*)
      val latest = batch
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
      graft.sources.Versioned.upsert(batch.sparkSession, dir, keyCol,
        latest, deleteFlag = Some(deleteFlag))
      ()
    }
  }

  /** INCREMENTAL CONSUMPTION of the versioned table's change feed —
    * the read half of [[cdcApplyVersionedStream]] (Delta's streaming
    * `readChangeFeed` in AvailableNow form): a durable CURSOR file
    * remembers the last version this consumer processed; each call
    * drains every newer committed version as one `process` invocation
    * per version pair (the [[graft.sources.Versioned.changesBetween]]
    * frame — scan cost ∝ changed files, never table size), advancing
    * the cursor ONLY AFTER `process` returns.
    *
    * Delivery contract, precisely: AT-LEAST-ONCE. A crash between
    * `process` and the cursor advance replays that version pair on the
    * next call; an idempotent consumer (upsert by key, overwrite by
    * version) therefore gets exactly-once end to end — the same
    * contract Structured Streaming's foreachBatch gives, by the same
    * mechanism. The cursor write is tmp+rename through the Hadoop FS
    * (atomic on the schemes that matter), so a torn write can only
    * lose progress, never invent it. Returns the number of version
    * pairs processed.
    */
  def followVersionedChanges(spark: SparkSession, dir: String,
      cursorPath: String, keyCol: String)(
      process: (DataFrame, Long, Long) => Unit): Int = {
    val (from, pending, writeCursor) = followCursor(spark, dir,
      new org.apache.hadoop.fs.Path(cursorPath))
    var prev = from
    pending.foreach { v =>
      process(graft.sources.Versioned.changesBetween(spark, dir, keyCol, prev, v),
        prev, v)
      writeCursor(v) // only after process returned — at-least-once
      prev = v
    }
    pending.size
  }

  /** The versioned-change followers' shared cursor at `p`: returns
    * (the cursor's version, the versions of `dir` after it, the cursor
    * advance). A fresh consumer starts AT the first version (initial
    * state is not a change — the Delta convention: stream from the
    * cursor on). The advance writes `<p>.tmp` and renames it over `p`.
    */
  private def followCursor(spark: SparkSession, dir: String,
      p: org.apache.hadoop.fs.Path): (Long, Seq[Long], Long => Unit) = {
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def writeCursor(v: Long): Unit = {
      val tmp = new org.apache.hadoop.fs.Path(p.getParent, p.getName + ".tmp")
      val out = fs.create(tmp, true)
      try out.write(v.toString.getBytes("UTF-8")) finally out.close()
      fs.delete(p, false)
      require(fs.rename(tmp, p), s"cursor advance failed for $p")
    }
    val vs = graft.sources.Versioned.versions(spark, dir)
    require(vs.nonEmpty, s"$dir is not a versioned table")
    val from =
      if (!fs.exists(p)) { writeCursor(vs.head); vs.head }
      else {
        val in = fs.open(p)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
        finally in.close()
      }
    require(vs.contains(from),
      s"cursor version $from was vacuumed from $dir — reseed the consumer")
    (from, vs.filter(_ > from), writeCursor)
  }

  /** EXACTLY-ONCE CDC consumption (the transactional upgrade of
    * [[followVersionedChanges]]'s at-least-once contract): the follower
    * OWNS the sink — each pending version pair's `transform` result is
    * written to `<root>/out/.tmp-v<to>` and PUBLISHED by one atomic
    * rename to `<root>/out/v<to>`, and only then does the cursor
    * advance. The publish rename is the commit point:
    *
    *   - crash BEFORE the rename → only a `.tmp-` dir exists (ignored
    *     by readers, overwritten on retry) → the pair reprocesses, the
    *     effect lands once;
    *   - crash AFTER the rename but BEFORE the cursor write → the next
    *     drain sees `out/v<to>` already published and SKIPS the
    *     transform entirely, just advancing the cursor (batch-id
    *     idempotence, keyed by the version number — the same
    *     arbitration a Delta/Kafka sink does with txn ids).
    *
    * Either way the sink holds exactly one copy of every pair's output
    * — EXACTLY-ONCE in effect, with no idempotence demanded of the
    * consumer's transform. `onPublished` is the crash-injection seam
    * the replay spec drives (called between publish and cursor
    * advance); production callers leave it defaulted. Returns
    * (pairs transformed, pairs skipped as already-published).
    */
  def followVersionedChangesTxn(spark: SparkSession, dir: String,
      consumerRoot: String, keyCol: String,
      onPublished: (Long, Long) => Unit = (_, _) => ())(
      transform: (DataFrame, Long, Long) => DataFrame): (Int, Int) = {
    val rootP = new org.apache.hadoop.fs.Path(consumerRoot)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val outP = new org.apache.hadoop.fs.Path(rootP, "out")
    fs.mkdirs(outP)
    val (from, pending, writeCursor) = followCursor(spark, dir,
      new org.apache.hadoop.fs.Path(rootP, "cursor"))
    var prev = from
    var ran = 0
    var skipped = 0
    pending.foreach { v =>
      val published = new org.apache.hadoop.fs.Path(outP, s"v$v")
      if (fs.exists(published)) skipped += 1 // crash landed after publish
      else {
        val tmp = new org.apache.hadoop.fs.Path(outP, s".tmp-v$v")
        fs.delete(tmp, true) // a torn earlier attempt, if any
        transform(graft.sources.Versioned
          .changesBetween(spark, dir, keyCol, prev, v), prev, v)
          .write.mode("overwrite").parquet(tmp.toString)
        require(fs.rename(tmp, published),
          s"publish failed for $published — refusing to advance the cursor")
        ran += 1
      }
      onPublished(prev, v)
      writeCursor(v)
      prev = v
    }
    (ran, skipped)
  }

  /** Wire a parquet-directory stream (the micro-batch form of the scroll
    * loop — new files are new "scroll rounds"). Expects µs timestamps —
    * the engine's own lake format.
    */
  def readEvents(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventSchema).parquet(dir)

  /** Same stream over a TIMESTAMP(NANOS) parquet layout, read as raw
    * nanos via an EXPLICIT LongType schema — converted here to the µs
    * TIMESTAMP the rest of the module expects (the streaming twin of
    * `Tables.events`'s nanos branch; early testdata rounds shipped this
    * layout). No session flag: with the schema declared, Spark's task
    * readers accept the nanos column as INT64 directly, so nothing
    * leaks into later unrelated reads (`nanosAsLong` is only ever
    * needed for driver-side footer INFERENCE — see [[readEventsAuto]]'s
    * peek, which restores it).
    */
  def readEventsNanos(spark: SparkSession, dir: String): DataFrame = {
    val nanosSchema = StructType(eventSchema.map {
      case f if f.name == "ts" => f.copy(dataType = LongType)
      case f => f
    })
    spark.readStream.schema(nanosSchema).parquet(dir)
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
  }

  /** Streaming events reader that adapts to whichever physical `ts`
    * layout the directory holds (raw-nanos long vs µs timestamp), the
    * exact streaming twin of `Tables.events`: a stream must declare its
    * schema up front, so peek at the static footer schema once and pick
    * the matching reader. The peek lists the directory once at stream
    * construction — no per-batch cost.
    */
  def readEventsAuto(spark: SparkSession, dir: String): DataFrame = {
    // The flag must be on for the footer-inference peek itself (a nanos
    // footer throws without it) and ONLY for the peek — both branches
    // restore the caller's setting before returning, since the streams
    // declare explicit schemas and never consult it. Leaking it on
    // would make a later unrelated nanos-parquet inference silently
    // yield raw longs instead of the loud failure the caller expects.
    val isNanos = graft.engine.ScopedConf(spark,
        "spark.sql.legacy.parquet.nanosAsLong" -> "true")(
      spark.read.parquet(dir).schema("ts").dataType == LongType)
    if (isNanos) readEventsNanos(spark, dir) else readEvents(spark, dir)
  }
}

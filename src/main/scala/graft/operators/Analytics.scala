package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.engine.{QueryDef, Tables}

/** Round-3 analytics surface [EXT, north star]: ranking, order statistics,
  * exact statistical moments, pivot, edit-distance near-dup, TF-IDF
  * scoring, n-gram language statistics, non-hierarchical grouping sets,
  * and inverted-index keyword search.
  *
  * Cross-engine determinism rules (see QueryDef): moments are computed
  * from EXACT decimal sums and only the final formula runs in double —
  * both engines then evaluate bit-identical expressions over bit-identical
  * inputs. sqrt is IEEE-correctly-rounded everywhere and therefore safe;
  * ln/exp/pow are not used anywhere on a verified path (libm-dependent).
  */
object Analytics {

  private def dec(c: Column, p: Int, s: Int): Column = c.cast(DecimalType(p, s))

  private def tokensOf(s: SparkSession, d: String): DataFrame =
    Tables.widen(Tables.documents(s, d))
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")

  // q47 — top-k per group: the distributed form is a per-partition partial
  // top-k under AQE + a keyed window; row_number (not rank) keeps output
  // size exactly k·groups with a deterministic orderkey tie-break.
  val q47TopkPerGroup: QueryDef = QueryDef.sql(
    "q47_topk_per_group",
    """SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INTEGER) AS rn
      |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
      |             row_number() OVER (PARTITION BY o_custkey
      |               ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |      FROM orders)
      |WHERE rn <= 3
      |ORDER BY o_custkey, rn""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        row_number().over(w).as("rn"))
      .filter(col("rn") <= 3)
      .orderBy("o_custkey", "rn")
  }

  // q48 — exact order statistics per group. Quantities are integral and
  // the probe points are powers-of-two fractions, so linear interpolation
  // is exact in double in BOTH engines regardless of formula shape. At
  // 100 TB the same API call swaps to approx_percentile (t-digest) — the
  // exact form needs a per-group sort.
  val q48Percentiles: QueryDef = QueryDef.sql(
    "q48_percentiles",
    """SELECT l_returnflag,
      |       quantile_cont(l_quantity, 0.25) AS p25,
      |       quantile_cont(l_quantity, 0.50) AS p50,
      |       quantile_cont(l_quantity, 0.75) AS p75,
      |       MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty
      |FROM lineitem
      |GROUP BY 1
      |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        // one fraction-array call = ONE aggregation buffer (value→count
        // map) and one per-group sort shared by all three probe points;
        // three scalar percentile() calls would build three identical
        // buffers and sort each one (~2.4× slower measured at sf0.1)
        percentile(col("l_quantity"), array(lit(0.25), lit(0.50), lit(0.75))).as("ps"),
        min("l_quantity").as("min_qty"),
        max("l_quantity").as("max_qty"))
      .select(col("l_returnflag"), col("ps")(0).as("p25"), col("ps")(1).as("p50"),
        col("ps")(2).as("p75"), col("min_qty"), col("max_qty"))
      .orderBy("l_returnflag")
  }

  // q85 — the 100 TB twin of q48: approx_percentile (Greenwald-Khanna
  // style quantile summary) instead of exact percentile. The exact form
  // buffers and sorts every group value; the sketch is fixed-size per
  // group and merges associatively, so it map-side combines and never
  // spills a full group — the only percentile shape that survives a
  // billion-row group. accuracy=10000 bounds rank error at n/10000;
  // rows-only (sketch output is engine-specific — DuckDB has no GK
  // twin), spec-guarded against the exact form in AnalyticsSpec.
  val q85ApproxPercentiles: QueryDef = QueryDef.rowsOnly(
    "q85_approx_percentiles") { (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        approx_percentile(col("l_quantity"),
          array(lit(0.25), lit(0.50), lit(0.75)), lit(10000)).as("ps"),
        min("l_quantity").as("min_qty"),
        max("l_quantity").as("max_qty"))
      .select(col("l_returnflag"), col("ps")(0).as("p25"), col("ps")(1).as("p50"),
        col("ps")(2).as("p75"), col("min_qty"), col("max_qty"))
      .orderBy("l_returnflag")
  }

  // q146 — EXACT order statistics at 100 TB scale: distributed
  // quickselect by iterative histogram narrowing — the third percentile
  // form, completing q48 (exact, per-group buffer-and-sort: right when
  // groups fit) and q85 (GK sketch: approximate, any size). This one is
  // EXACT at any size: no buffer ever holds a group, no sketch error.
  // Prices move through DECIMAL(18,2)→cents-BIGINT (the repo's money
  // discipline), so every boundary and rank is integer-exact on both
  // engines.
  //
  // Per round: ONE scan of the (materialized, single-column) frame and a
  // 256-group aggregation; the driver keeps the [lo, hi] bracket, the
  // rows-below count, and recurses into the bucket holding the target
  // rank — O(log₂₅₆(range)) rounds (≤8 for any in-contract slice; the
  // kernel requires span < 2^63 and fails loudly past it).
  // The final step never collects: the k'-th smallest of the narrowed
  // slice is max(TakeOrdered(k')) — a k'-row bounded take, k' ≤ the
  // 10 000-row loop threshold. At full scale the four targets' per-round
  // histograms fold into one conditional-agg scan (same plan shape, one
  // pass per round instead of four); duplicates piling on one value are
  // handled by the lo == hi early exit (the value IS the bracket).
  /** The selection kernel: exact k-th smallest of a single BIGINT column
    * `v` for each requested rank, by histogram narrowing. `threshold` is
    * the slice size below which the loop hands off to the bounded
    * TakeOrdered finish (tunable so tests can force multi-round
    * narrowing on small data). Returns (label, k, value) per target.
    */
  private[graft] def exactSelect(frame: DataFrame,
      targets: Seq[(String, Long)], threshold: Long = 10000L): Seq[(String, Long, Long)] =
    selectCore(frame, targets, ranksArePercentiles = true, threshold)

  /** Same narrowing kernel, but each target carries an explicit 1-based
    * rank k (the k-th smallest, duplicates counted) instead of a
    * percentile fraction — the form equi-depth bucket bounds and ntile
    * cut points need (q264/q265). */
  private[graft] def exactSelectRanks(frame: DataFrame,
      targets: Seq[(String, Long)], threshold: Long = 10000L): Seq[(String, Long, Long)] =
    selectCore(frame, targets, ranksArePercentiles = false, threshold)

  private def selectCore(frame: DataFrame, targets: Seq[(String, Long)],
      ranksArePercentiles: Boolean, threshold: Long): Seq[(String, Long, Long)] = {
    // the batched finish below keys its results by label
    require(targets.map(_._1).distinct.size == targets.size,
      s"selectCore: duplicate target labels in ${targets.map(_._1)}")
    val q = Clustering.truncate(frame)
    val head = q.agg(count(lit(1)), min("v"), max("v")).head
    val (nL, lo0, hi0) = (head.getLong(0), head.getLong(1), head.getLong(2))
    // hi - lo + 1 and v - lo must not wrap: a slice spanning >= 2^63
    // (only possible when min and max straddle zero by more than half
    // the domain) would silently mis-bucket, so it fails loudly instead
    require(hi0 - lo0 >= 0,
      s"exactSelect: [$lo0, $hi0] spans >= 2^63 and cannot be bucketed in Long")
    // Memoize histograms by bracket: every target starts from the same
    // [min, max], so round 1 is ONE scan shared by all targets (and any
    // later bracket collision — adjacent ranks often land in the same
    // bucket — reuses its scan too). This is the driver-side form of the
    // fold-all-targets-into-one-conditional-agg scan the 100 TB note
    // describes.
    val memo = scala.collection.mutable.Map.empty[(Long, Long), Array[(Long, Long)]]
    // Divide-FIRST bucketing: bucket = (v - lo) div step with
    // step = ceil(width / 256) keeps every intermediate inside Long for
    // any in-contract bracket (multiply-first — (v-lo)*256 — wraps once
    // the bracket exceeds 2^55 and mis-buckets silently). At most 256
    // buckets; the last one may be narrower than step.
    // ceil((span+1)/256) computed overflow-free: ceilDiv's a + 255
    // wraps for spans >= 2^63 - 255, which PASS the hi0 - lo0 >= 0
    // contract check above yet would yield a negative step and silent
    // mis-bucketing. (hi - lo) / 256 + 1 is identical for every
    // in-contract span: with span = 256q + r (0 <= r < 256),
    // ceil((span+1)/256) = q + 1 = span/256 + 1 in all cases.
    def stepOf(lo: Long, hi: Long): Long = (hi - lo) / 256L + 1L
    def histogram(lo: Long, hi: Long): Array[(Long, Long)] =
      memo.getOrElseUpdate((lo, hi), {
        val step = stepOf(lo, hi)
        q.filter(col("v") >= lo && col("v") <= hi)
          .groupBy(expr(s"(v - $lo) div $step").as("b"))
          .count().collect()
          .map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
      })
    val narrowed = targets.map { case (stat, frac) =>
      val k = if (ranksArePercentiles) (nL - 1) * frac / 100 + 1 else frac
      require(k >= 1 && k <= nL, s"selectCore: rank $k outside [1, $nL]")
      var lo = lo0; var hi = hi0
      var below = 0L; var inRange = nL
      while (lo < hi && inRange > threshold) {
        val step = stepOf(lo, hi)
        val maxBucket = (hi - lo) / step // last (possibly narrower) bucket id
        val counts = histogram(lo, hi)
        var cum = 0L
        val kIn = k - below
        val (bStar, cStar) = counts.find { case (_, c) =>
          val hit = cum + c >= kIn; if (!hit) cum += c; hit
        }.get
        below += cum
        inRange = cStar
        // for b < maxBucket the end lo + (b+1)·step − 1 is ≤ hi, so no
        // product here can leave the bracket (or overflow, even at
        // hi = Long.MaxValue); the last bucket keeps hi as its end
        val newLo = lo + bStar * step
        if (bStar < maxBucket) hi = lo + (bStar + 1) * step - 1
        lo = newLo
      }
      (stat, k, lo, hi, below)
    }
    // Batched finish (guide §5 — fixed per-job driver cost dominates at
    // small brackets): every target still needing a bounded take runs as
    // one branch of a single union job instead of one Spark job each (a
    // 16-target call used to pay 16 finish jobs; now 1). Branch labels
    // are the target stats, required unique above.
    val need = narrowed.filter { case (_, _, lo, hi, _) => lo != hi }
    val fetched: Map[String, Long] =
      if (need.isEmpty) Map.empty
      else need.map { case (stat, k, lo, hi, below) =>
        q.filter(col("v") >= lo && col("v") <= hi)
          .sort("v").limit((k - below).toInt).agg(max("v").as("v"))
          .select(lit(stat).as("stat"), col("v"))
      }.reduce(_ unionByName _).collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap
    narrowed.map { case (stat, k, lo, hi, _) =>
      (stat, k, if (lo == hi) lo else fetched(stat))
    }
  }

  val q146ExactSelect: QueryDef = QueryDef.sql(
    "q146_exact_select",
    """WITH t AS (SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      |           FROM lineitem),
      |n AS (SELECT COUNT(*) AS n FROM t),
      |ks(stat, frac) AS (VALUES ('p25', 25), ('p50', 50), ('p75', 75), ('p99', 99)),
      |kk AS (SELECT stat, ((n.n - 1) * frac) // 100 + 1 AS k FROM ks, n),
      |r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM t)
      |SELECT kk.stat, CAST(kk.k AS BIGINT) AS k, r.v AS value_cents
      |FROM kk JOIN r ON r.rn = kk.k
      |ORDER BY stat""".stripMargin) { (s, d) =>
    val cents = Tables.widen(Tables.lineitem(s, d)).select(
      (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long").as("v"))
    val rows = exactSelect(cents,
      Seq("p25" -> 25L, "p50" -> 50L, "p75" -> 75L, "p99" -> 99L))
    import s.implicits._
    rows.toDF("stat", "k", "value_cents").orderBy("stat")
  }

  // q49 — statistical moments (mean/variance/stddev/correlation) from
  // exact decimal power sums: one map-side-combinable aggregation carries
  // (n, Σx, Σx², Σy, Σy², Σxy); the closed-form formulas then run in
  // double on both engines with identical parenthesization. Never uses
  // the built-in stddev/corr aggregates on a verified path — their
  // accumulation is partition-order-dependent in any engine.
  val q49StatsMoments: QueryDef = QueryDef.sql(
    "q49_stats_moments",
    """WITH a AS (
      |  SELECT l_returnflag,
      |         COUNT(*) AS n,
      |         SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sx,
      |         SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS sxx,
      |         SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS sy,
      |         SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS syy,
      |         SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS sxy
      |  FROM lineitem GROUP BY 1)
      |SELECT l_returnflag, n,
      |       (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) AS mean_qty,
      |       ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |         / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) AS var_qty,
      |       sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |         / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) AS std_qty,
      |       ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |         / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |            * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))) AS corr_qty_price
      |FROM a
      |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    val x = dec(col("l_quantity"), 12, 2)
    val y = dec(col("l_extendedprice"), 12, 2)
    val a = Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(x).as("sx"), sum(x * x).as("sxx"),
        sum(y).as("sy"), sum(y * y).as("syy"),
        sum(x * y).as("sxy"))
    def D(name: String): Column = col(name).cast(DoubleType)
    val nD = D("n")
    val varQty = (nD * D("sxx") - D("sx") * D("sx")) / (nD * (nD - lit(1.0)))
    val corr = (nD * D("sxy") - D("sx") * D("sy")) /
      (sqrt(nD * D("sxx") - D("sx") * D("sx")) * sqrt(nD * D("syy") - D("sy") * D("sy")))
    a.select(col("l_returnflag"), col("n"),
      (D("sx") / nD).as("mean_qty"),
      varQty.as("var_qty"),
      sqrt(varQty).as("std_qty"),
      corr.as("corr_qty_price"))
      .orderBy("l_returnflag")
  }

  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")

  // q50 — pivot (long → wide): per-day event-type counts as columns. The
  // value list is declared, not discovered — at scale an undeclared pivot
  // needs an extra distinct pass AND breaks column-schema stability.
  val q50Pivot: QueryDef = QueryDef.sql(
    "q50_pivot",
    s"""SELECT date_trunc('day', ts) AS day,
       |${eventTypes.map(t => s"       COUNT(CASE WHEN event_type = '$t' THEN 1 END) AS $t").mkString(",\n")}
       |FROM events
       |GROUP BY 1
       |ORDER BY day""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .groupBy(date_trunc("day", col("ts")).cast(TimestampNTZType).as("day"))
      .pivot("event_type", eventTypes)
      .agg(count(lit(1)))
      .select(col("day") +: eventTypes.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
      .orderBy("day")
  }

  // q51 — edit-distance near-dup on a bounded id range (the exact kernel;
  // at 100 TB this runs only inside LSH/SimHash buckets, never all-pairs).
  // Both engines implement classic Levenshtein; the 80-char prefix bounds
  // the DP cost per pair.
  val q51EditDistance: QueryDef = QueryDef.sql(
    "q51_edit_distance",
    """WITH v AS (SELECT doc_id, substr(text, 1, 80) AS t FROM documents WHERE doc_id < 30)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |       CAST(levenshtein(a.t, b.t) AS INTEGER) AS dist,
      |       (1.0 - CAST(levenshtein(a.t, b.t) AS DOUBLE)
      |              / CAST(greatest(length(a.t), length(b.t)) AS DOUBLE)) AS edit_sim
      |FROM v a JOIN v b ON a.doc_id < b.doc_id
      |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
    val v = Tables.documents(s, d).filter(col("doc_id") < 30)
      .select(col("doc_id"), substring(col("text"), 1, 80).as("t"))
    val a = v.select(col("doc_id").as("doc_a"), col("t").as("ta"))
    val b = v.select(col("doc_id").as("doc_b"), col("t").as("tb"))
    val dist = levenshtein(col("ta"), col("tb"))
    a.join(broadcast(b), col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        dist.as("dist"),
        (lit(1.0) - dist.cast(DoubleType) /
          greatest(length(col("ta")), length(col("tb"))).cast(DoubleType)).as("edit_sim"))
      .orderBy("doc_a", "doc_b")
  }

  // q103 — q51's 100 TB form: BLOCKED edit-distance near-dup join. The
  // all-pairs kernel above is id-bounded because exact Levenshtein over
  // every pair is quadratic; the scale path blocks on a cheap equality
  // key (first two tokens — same family as q89's prefix key) so the
  // self-join is a plain keyed equi-join and the DP runs only inside
  // blocks. Block sizes bound the blowup; dist<=20 splits the corpus's
  // bimodal pair distribution (near-dups <=10, unrelated >=30) cleanly.
  // Same pairing pattern as q25 (exact kernel) / q90 (LSH scale path).
  val q103BlockedEditdist: QueryDef = QueryDef.sql(
    "q103_blocked_editdist",
    """WITH v AS (SELECT doc_id, substr(text, 1, 80) AS t,
      |                  array_to_string(string_split(text, ' ')[1:2], ' ') AS blk
      |           FROM documents)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.blk AS block,
      |       CAST(levenshtein(a.t, b.t) AS INTEGER) AS dist
      |FROM v a JOIN v b ON a.blk = b.blk AND a.doc_id < b.doc_id
      |WHERE levenshtein(a.t, b.t) <= 20
      |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
    val v = Tables.widen(Tables.documents(s, d))
      .select(col("doc_id"), substring(col("text"), 1, 80).as("t"),
        concat_ws(" ", slice(split(col("text"), " "), 1, 2)).as("blk"))
    val a = v.select(col("doc_id").as("doc_a"), col("t").as("ta"), col("blk"))
    val b = v.select(col("doc_id").as("doc_b"), col("t").as("tb"),
      col("blk").as("blk_b"))
    // keyed equi-join on the block — no broadcast dependence: at scale
    // both sides shuffle on blk and the quadratic work stays in-block.
    // THRESHOLD-bounded levenshtein: banded DP with early exit, O(k·n)
    // per pair instead of O(n·m) — returns -1 past the bound, and equals
    // the full distance for every surviving pair (oracle unchanged)
    a.join(b, col("blk") === col("blk_b") && col("doc_a") < col("doc_b"))
      .withColumn("dist", levenshtein(col("ta"), col("tb"), 20))
      .filter(col("dist") >= 0)
      .select(col("doc_a"), col("doc_b"), col("blk").as("block"),
        col("dist").cast(IntegerType).as("dist"))
      .orderBy("doc_a", "doc_b")
  }

  // q52 — TF-IDF term scoring with a rational (BM25-style) idf — no
  // logarithm, so the score is a pure ratio of exact integers and verifies
  // bit-exactly cross-engine. df is a corpus-wide aggregate (shuffle on
  // term); the doc_id<50 projection bounds output, not the scan.
  val q52Tfidf: QueryDef = QueryDef.sql(
    "q52_tfidf",
    """WITH toks AS (SELECT doc_id, tok
      |              FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
      |              WHERE tok <> ''),
      |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
      |df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
      |nd AS (SELECT COUNT(*) AS nd FROM documents),
      |scored AS (
      |  SELECT tf.doc_id, tf.tok AS term, tf.tf, df.df,
      |         CAST(tf.tf AS DOUBLE)
      |           * ((CAST(nd.nd AS DOUBLE) - CAST(df.df AS DOUBLE) + 0.5)
      |              / (CAST(df.df AS DOUBLE) + 0.5)) AS score
      |  FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN nd
      |  WHERE tf.doc_id < 50)
      |SELECT doc_id, term, tf, df, score, CAST(rn AS INTEGER) AS rn
      |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
      |                  ORDER BY score DESC, term) AS rn
      |      FROM scored)
      |WHERE rn <= 5
      |ORDER BY doc_id, rn""".stripMargin) { (s, d) =>
    val tf = tokensOf(s, d).groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    // df from tf, not from a second token scan: each (doc, tok) appears
    // once in tf, so counting rows per tok IS the distinct-doc count —
    // and the shared tf exchange is reused (ReuseExchange), not recomputed.
    val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val nd = Tables.documents(s, d).agg(count(lit(1)).as("nd"))
    val score = col("tf").cast(DoubleType) *
      ((col("nd").cast(DoubleType) - col("df").cast(DoubleType) + lit(0.5)) /
        (col("df").cast(DoubleType) + lit(0.5)))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term"))
    tf.filter(col("doc_id") < 50)
      .join(df, "tok")
      .crossJoin(broadcast(nd))
      .select(col("doc_id"), col("tok").as("term"), col("tf"), col("df"),
        score.as("score"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .orderBy("doc_id", "rn")
  }

  // q53 — corpus bigram statistics: positional 2-grams from the bound
  // token array (same lambda-hygiene rule as Dedup.shinglesOf), one
  // explode, one keyed count, top-100. Language-model-style n-gram counts
  // are this exact plan at any n.
  val q53Bigrams: QueryDef = QueryDef.sql(
    "q53_bigrams",
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |bg AS (SELECT toks[i] || ' ' || toks[i+1] AS bigram
      |       FROM t, generate_series(1, 4001) g(i) WHERE i <= len(toks) - 1)
      |SELECT bigram, COUNT(*) AS n
      |FROM bg
      |GROUP BY 1
      |ORDER BY n DESC, bigram
      |LIMIT 100""".stripMargin) { (s, d) =>
    val bigrams = Tables.widen(Tables.documents(s, d))
      .select(slice(split(col("text"), " "), 1, 4002).as("toks"))
      .select(explode(when(size(col("toks")) >= 2,
        transform(sequence(lit(1), size(col("toks")) - 1),
          i => concat_ws(" ", element_at(col("toks"), i), element_at(col("toks"), i + 1))))
        .otherwise(array().cast("array<string>"))).as("bigram"))
    bigrams.groupBy("bigram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(100)
  }

  // q54 — non-hierarchical GROUPING SETS ((returnflag), (linestatus)):
  // the one grouping shape ROLLUP (q32) and CUBE (q42) cannot express.
  // Spark expands to a union-free Expand node — one scan, both groupings.
  val q54GroupingSets: QueryDef = QueryDef.sql(
    "q54_grouping_sets",
    """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
      |       COALESCE(l_linestatus, 'ALL') AS linestatus,
      |       CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INTEGER) AS gid,
      |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |       COUNT(*) AS n
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
      |ORDER BY gid, returnflag, linestatus""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
        col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec(col("l_quantity"), 18, 2)).cast(DoubleType).as("sum_qty"),
        count(lit(1)).as("n"),
        grouping_id().cast(IntegerType).as("gid"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("gid"), col("sum_qty"), col("n"))
      .orderBy("gid", "returnflag", "linestatus")
  }

  // q55 — inverted-index keyword search, AND semantics: a doc matches iff
  // it contains EVERY query term. The token scan meets only the (tiny,
  // broadcast-able) term list; conjunctive matching is a bit_or over a
  // per-term bitmask — duplicates OR in idempotently, so the aggregate is
  // map-side combinable in ONE keyed shuffle (a distinct-then-count pair
  // costs two: the (doc_id, tok) dedup exchange, then the count). At
  // 100 TB the difference is shuffling one small-int partial per doc vs
  // every distinct hit row twice.
  private val searchTerms = Seq("spark", "join", "window")

  val q55KeywordSearch: QueryDef = QueryDef.sql(
    "q55_keyword_search",
    s"""WITH hits AS (SELECT DISTINCT doc_id, tok
       |              FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
       |              WHERE tok IN (${searchTerms.map(t => s"'$t'").mkString(", ")})),
       |m AS (SELECT doc_id FROM hits GROUP BY doc_id HAVING COUNT(*) = ${searchTerms.size})
       |SELECT d.doc_id, d.lang, d.n_chars
       |FROM documents d JOIN m ON d.doc_id = m.doc_id
       |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
    // chained CASE: the isin filter guarantees a branch matches
    val termBit = searchTerms.zipWithIndex.tail.foldLeft(
      when(col("tok") === searchTerms.head, lit(1))) {
      case (acc, (t, i)) => acc.when(col("tok") === t, lit(1 << i))
    }
    val matches = tokensOf(s, d)
      .filter(col("tok").isin(searchTerms: _*))
      .select(col("doc_id"), termBit.as("bit"))
      .groupBy("doc_id").agg(bit_or(col("bit")).as("mask"))
      .filter(col("mask") === lit((1 << searchTerms.size) - 1))
      .select("doc_id")
    Tables.documents(s, d).select("doc_id", "lang", "n_chars")
      .join(matches, "doc_id")
      .orderBy("doc_id")
  }

  // q57 — range (band) join: every order lands in the one price band
  // whose [lo, hi) interval contains it. The band table is literal and
  // broadcast, so the physical plan is a BroadcastNestedLoopJoin — the
  // right shape for a small interval dimension: the fact side streams
  // once, no shuffle, and the inequality predicate is evaluated inside
  // codegen. (A large interval dimension would instead bucket both sides
  // by interval-aligned keys — the q22 LSH banding trick for ranges.)
  private val priceBands: Seq[(String, Double, Double)] = Seq(
    ("b1_low", 0.0, 100000.0),
    ("b2_mid", 100000.0, 250000.0),
    ("b3_high", 250000.0, 400000.0),
    ("b4_top", 400000.0, 1000000000.0))

  val q57RangeJoin: QueryDef = QueryDef.sql(
    "q57_range_join",
    s"""WITH bands(band, lo, hi) AS (VALUES
       |${priceBands.map { case (b, lo, hi) => s"  ('$b', ${lo}, ${hi})" }.mkString(",\n")}),
       |j AS (SELECT b.band, o.o_totalprice
       |      FROM orders o JOIN bands b ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi)
       |SELECT band, COUNT(*) AS n,
       |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
       |FROM j
       |GROUP BY 1
       |ORDER BY band""".stripMargin) { (s, d) =>
    import s.implicits._
    val bands = priceBands.toDF("band", "lo", "hi")
    Tables.orders(s, d)
      .join(broadcast(bands),
        col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
      .groupBy("band")
      .agg(count(lit(1)).as("n"),
        sum(dec(col("o_totalprice"), 18, 2)).cast(DoubleType).as("sum_price"))
      .orderBy("band")
  }

  // q58 — MapType round-trip: build map<token, count> per document with
  // map_from_entries over one keyed aggregation, then explode it back
  // with map_entries. Typed map columns are how per-record metadata
  // (feature dicts, tag sets) travel through a 100 TB pipeline without
  // schema explosion; the oracle checks the round-trip preserves exactly
  // the underlying (doc_id, token, count) relation.
  val q58MapOps: QueryDef = QueryDef.sql(
    "q58_map_ops",
    """WITH toks AS (SELECT doc_id, tok
      |              FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
      |              WHERE tok <> '' AND doc_id < 20)
      |SELECT doc_id, tok, COUNT(*) AS cnt
      |FROM toks
      |GROUP BY 1, 2
      |ORDER BY doc_id, tok""".stripMargin) { (s, d) =>
    val tokMaps = tokensOf(s, d)
      .filter(col("doc_id") < 20)
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id")
      .agg(map_from_entries(collect_list(struct(col("tok"), col("cnt")))).as("tok_counts"))
    tokMaps
      .select(col("doc_id"), explode(map_entries(col("tok_counts"))).as("e"))
      .select(col("doc_id"), col("e.key").as("tok"), col("e.value").as("cnt"))
      .orderBy("doc_id", "tok")
  }

  // q62 — vector normalization + int8-style quantization summary: the
  // prep step before any ANN index build (unit-normalize, quantize to a
  // byte grid). Emitted as scalars (norm + a position-weighted checksum
  // of the quantized grid) so the full 64-dim result is pinned without
  // array-typed output. floor() (not round — engines disagree on
  // half-away vs half-even) keeps the double→grid mapping bit-identical.
  val q62VectorQuantize: QueryDef = QueryDef.sql(
    "q62_vector_quantize",
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
      |SELECT vec_id,
      |       sqrt(list_dot_product(e, e)) AS l2_norm,
      |       CAST(SUM(i * CAST(floor((e[i] + 1.0) * 127.0) AS BIGINT)) AS BIGINT) AS q_checksum
      |FROM v, generate_series(1, 64) g(i)
      |GROUP BY vec_id, e
      |ORDER BY vec_id""".stripMargin) { (s, d) =>
    import graft.functions.VectorOps
    val v = Tables.embeddings(s, d)
      .select(col("vec_id"), VectorOps.toDouble(col("embedding")).as("e"))
    v.select(col("vec_id"),
      sqrt(VectorOps.dot(col("e"), col("e"))).as("l2_norm"),
      aggregate(
        zip_with(col("e"), sequence(lit(1L), lit(64L)),
          (x, i) => i * floor((x + lit(1.0)) * lit(127.0)).cast(LongType)),
        lit(0L), (acc, x) => acc + x).as("q_checksum"))
      .orderBy("vec_id")
  }

  // q63 — PII scrubbing: email/phone redaction over synthetic contact
  // strings (regex features restricted to the dialect-safe subset both
  // engines implement identically — explicit classes, no \w/\b). The
  // redaction count survives as metadata, the content is masked — the
  // standard shape of a training-data privacy pass.
  val q63PiiScrub: QueryDef = QueryDef.sql(
    "q63_pii_scrub",
    """WITH c AS (SELECT c_custkey,
      |                  c_name || ' <' || lower(replace(c_name, ' ', '.')) || '@example.com> phone +1-' ||
      |                    CAST(10000000 + c_custkey AS VARCHAR) AS contact
      |           FROM customer)
      |SELECT c_custkey, contact,
      |       regexp_replace(regexp_replace(contact, '[A-Za-z0-9.#]+@[A-Za-z0-9.]+', '[EMAIL]', 'g'),
      |                      '\+1-[0-9]+', '[PHONE]', 'g') AS scrubbed,
      |       CAST(len(regexp_extract_all(contact, '[A-Za-z0-9.#]+@[A-Za-z0-9.]+')) AS INTEGER) AS n_emails,
      |       CAST(len(regexp_extract_all(contact, '\+1-[0-9]+')) AS INTEGER) AS n_phones
      |FROM c
      |ORDER BY c_custkey""".stripMargin) { (s, d) =>
    val contact = concat(col("c_name"), lit(" <"),
      lower(regexp_replace(col("c_name"), " ", ".")), lit("@example.com> phone +1-"),
      (lit(10000000) + col("c_custkey")).cast("string"))
    val emailRe = "[A-Za-z0-9.#]+@[A-Za-z0-9.]+"
    val phoneRe = "\\+1-[0-9]+"
    Tables.customer(s, d)
      .select(col("c_custkey"), contact.as("contact"))
      .select(col("c_custkey"), col("contact"),
        regexp_replace(regexp_replace(col("contact"), emailRe, "[EMAIL]"),
          phoneRe, "[PHONE]").as("scrubbed"),
        size(regexp_extract_all(col("contact"), lit(emailRe), lit(0))).as("n_emails"),
        size(regexp_extract_all(col("contact"), lit(phoneRe), lit(0))).as("n_phones"))
      .orderBy("c_custkey")
  }

  // q65 — unpivot (wide → long, the inverse of q50): three measure
  // columns melt into (metric, value) rows, then one keyed aggregate.
  // Spark's unpivot is an Expand node — one scan, no join, no shuffle
  // before the aggregate.
  val q65Unpivot: QueryDef = QueryDef.sql(
    "q65_unpivot",
    """WITH m AS (
      |  SELECT l_orderkey, 'l_quantity' AS metric, l_quantity AS value FROM lineitem
      |  UNION ALL
      |  SELECT l_orderkey, 'l_extendedprice', l_extendedprice FROM lineitem
      |  UNION ALL
      |  SELECT l_orderkey, 'l_discount', l_discount FROM lineitem)
      |SELECT metric, COUNT(*) AS n,
      |       MIN(value) AS min_v, MAX(value) AS max_v,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
      |FROM m
      |GROUP BY metric
      |ORDER BY metric""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .unpivot(
        Array(col("l_orderkey")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
        "metric", "value")
      .groupBy("metric")
      .agg(count(lit(1)).as("n"),
        min("value").as("min_v"), max("value").as("max_v"),
        sum(dec(col("value"), 18, 2)).cast(DoubleType).as("sum_v"))
      .orderBy("metric")
  }

  // q66 — last-observation-carried-forward: each event carries the most
  // recent purchase value of its user (IGNORE NULLS window). The running
  // state is O(1) per partition — the distributed form of a time-series
  // fill.
  val q66CarryForward: QueryDef = QueryDef.sql(
    "q66_carry_forward",
    """SELECT user_id, event_id, event_type,
      |       COALESCE(last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
      |                  OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0)
      |         AS last_purchase_value
      |FROM events
      |ORDER BY user_id, event_id""".stripMargin) { (s, d) =>
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"),
        coalesce(
          last(when(col("event_type") === "purchase", col("value")), ignoreNulls = true)
            .over(w),
          lit(0.0)).as("last_purchase_value"))
      .orderBy("user_id", "event_id")
  }

  // q67 — deterministic hash sampling: the ONLY sampling that behaves at
  // 100 TB (reproducible across runs/engines, no seed state, pushes into
  // any scan): keep rows whose key hash lands under the rate cutoff.
  val q67HashSample: QueryDef = QueryDef.sql(
    "q67_hash_sample",
    """WITH s AS (
      |  SELECT * FROM lineitem
      |  WHERE CAST(concat('0x', substr(md5(CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 5)
      |SELECT l_returnflag, COUNT(*) AS n,
      |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM s
      |GROUP BY 1
      |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    val key = concat(col("l_orderkey").cast("string"), lit("-"),
      col("l_linenumber").cast("string"))
    val bucket = conv(substring(md5(key.cast("binary")), 1, 15), 16, 10)
      .cast("long") % 100
    Tables.lineitem(s, d)
      .filter(bucket < 5)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(dec(col("l_quantity"), 18, 2)).cast(DoubleType).as("sum_qty"))
      .orderBy("l_returnflag")
  }

  // q68 — top-k per group via a bounded typed Aggregator: the buffer
  // holds at most k entries, so partials are k-sized heaps merged
  // map-side and the shuffle carries k rows per group — where the window
  // formulation (q47) shuffles and sorts EVERY group member. Same oracle
  // as q47: the two plans must agree row-for-row.
  val q68TopkAggregator: QueryDef = QueryDef.sql(
    "q68_topk_aggregator",
    """SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INTEGER) AS rn
      |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
      |             row_number() OVER (PARTITION BY o_custkey
      |               ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |      FROM orders)
      |WHERE rn <= 3
      |ORDER BY o_custkey, rn""".stripMargin) { (s, d) =>
    import graft.functions.VectorAggregators
    val topk = udaf(new VectorAggregators.TopK(3),
      org.apache.spark.sql.Encoders.product[VectorAggregators.Scored])
    Tables.orders(s, d)
      .groupBy("o_custkey")
      .agg(topk(col("o_totalprice"), col("o_orderkey")).as("top"))
      .select(col("o_custkey"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("o_custkey"), col("t.id").as("o_orderkey"),
        col("t.score").as("o_totalprice"), (col("pos") + 1).cast(IntegerType).as("rn"))
      .orderBy("o_custkey", "rn")
  }

  // q70 — stratified deterministic sampling: per-stratum rates over the
  // same seedless hash buckets as q67 (training-data pipelines rebalance
  // sources exactly this way: downsample the over-represented stratum,
  // keep the rare one).
  val q70StratifiedSample: QueryDef = QueryDef.sql(
    "q70_stratified_sample",
    """WITH s AS (
      |  SELECT l_returnflag,
      |         CAST(concat('0x', substr(md5(CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS bucket
      |  FROM lineitem)
      |SELECT l_returnflag, COUNT(*) AS n_sampled
      |FROM s
      |WHERE bucket < (CASE l_returnflag WHEN 'A' THEN 2 WHEN 'N' THEN 5 ELSE 10 END)
      |GROUP BY 1
      |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    val bucket = conv(substring(md5(concat(col("l_orderkey").cast("string"), lit("-"),
      col("l_linenumber").cast("string")).cast("binary")), 1, 15), 16, 10)
      .cast("long") % 100
    val rate = when(col("l_returnflag") === "A", 2)
      .when(col("l_returnflag") === "N", 5)
      .otherwise(10)
    Tables.lineitem(s, d)
      .select(col("l_returnflag"), bucket.as("bucket"))
      .filter(col("bucket") < rate)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_sampled"))
      .orderBy("l_returnflag")
  }

  // q71 — fixed-width histogram: bucket index is pure arithmetic, so the
  // whole histogram is one map-side-combinable aggregation (no sort, no
  // percentile pass) — how distribution telemetry is computed at scale.
  val q71Histogram: QueryDef = QueryDef.sql(
    "q71_histogram",
    """SELECT CAST(floor(o_totalprice / 25000.0) AS INTEGER) AS bucket,
      |       COUNT(*) AS n,
      |       MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price
      |FROM orders
      |GROUP BY 1
      |ORDER BY bucket""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .groupBy(floor(col("o_totalprice") / 25000.0).cast(IntegerType).as("bucket"))
      .agg(count(lit(1)).as("n"),
        min("o_totalprice").as("min_price"), max("o_totalprice").as("max_price"))
      .orderBy("bucket")
  }

  // q72 — ntile quartiles: equal-count bucket assignment per customer
  // spend (rank-family window the inventory didn't cover yet). The total
  // order (spend desc, custkey) makes bucket boundaries deterministic.
  val q72Ntile: QueryDef = QueryDef.sql(
    "q72_ntile",
    """WITH spend AS (
      |  SELECT o_custkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
      |  FROM orders GROUP BY 1)
      |SELECT o_custkey, total_spend,
      |       CAST(ntile(4) OVER (ORDER BY total_spend DESC, o_custkey) AS INTEGER) AS quartile
      |FROM spend
      |ORDER BY o_custkey""".stripMargin) { (s, d) =>
    val spend = Tables.orders(s, d)
      .groupBy("o_custkey")
      .agg(sum(dec(col("o_totalprice"), 18, 2)).cast(DoubleType).as("total_spend"))
    spend
      .select(col("o_custkey"), col("total_spend"),
        ntile(4).over(org.apache.spark.sql.expressions.Window
          .orderBy(col("total_spend").desc, col("o_custkey"))).as("quartile"))
      .orderBy("o_custkey")
  }

  // q73 — date-spine gap fill: the full hourly spine (sequence + explode,
  // generated distributed — never a driver loop) left-joined with event
  // counts, so silent hours materialize as zeros. The canonical
  // time-series densification.
  val q73DateSpine: QueryDef = QueryDef.sql(
    "q73_date_spine",
    """WITH bounds AS (
      |  SELECT date_trunc('hour', MIN(ts)) AS t0, date_trunc('hour', MAX(ts)) AS t1 FROM events),
      |spine AS (
      |  SELECT unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS hour_ts FROM bounds),
      |agg AS (
      |  SELECT date_trunc('hour', ts) AS hour_ts, COUNT(*) AS n FROM events GROUP BY 1)
      |SELECT s.hour_ts, COALESCE(agg.n, 0) AS n_events
      |FROM spine s LEFT JOIN agg ON s.hour_ts = agg.hour_ts
      |ORDER BY s.hour_ts""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val bounds = ev.agg(
      date_trunc("hour", min(col("ts"))).cast(TimestampNTZType).as("t0"),
      date_trunc("hour", max(col("ts"))).cast(TimestampNTZType).as("t1"))
    val spine = bounds
      .select(explode(sequence(col("t0"), col("t1"), expr("INTERVAL 1 HOUR"))).as("hour_ts"))
    val agg = ev
      .groupBy(date_trunc("hour", col("ts")).cast(TimestampNTZType).as("hour_ts"))
      .agg(count(lit(1)).as("n"))
    spine.join(agg, Seq("hour_ts"), "left")
      .select(col("hour_ts"), coalesce(col("n"), lit(0L)).as("n_events"))
      .orderBy("hour_ts")
  }

  // q74 — ordered distinct string aggregation: collect_set is
  // set-semantics (order-free partial merge), sort_array pins the
  // presentation order — equivalent to string_agg(DISTINCT ... ORDER BY)
  // without any order-sensitive accumulation on the shuffle path.
  val q74StringAgg: QueryDef = QueryDef.sql(
    "q74_string_agg",
    """SELECT o_orderpriority,
      |       string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses,
      |       COUNT(DISTINCT o_orderstatus) AS n_statuses
      |FROM orders
      |GROUP BY 1
      |ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .groupBy("o_orderpriority")
      .agg(
        array_join(sort_array(collect_set(col("o_orderstatus"))), ",").as("statuses"),
        countDistinct("o_orderstatus").as("n_statuses"))
      .orderBy("o_orderpriority")
  }

  // q75 — deterministic arg-max: the group max plus the SMALLEST key
  // achieving it (built-in max_by/arg_max tie-breaks are engine-defined —
  // not verifiable; the max + re-match + min-key form is). Two keyed
  // aggregations, one broadcast-able re-match join.
  val q75ArgMax: QueryDef = QueryDef.sql(
    "q75_arg_max",
    """WITH m AS (SELECT l_returnflag, MAX(l_extendedprice) AS max_price FROM lineitem GROUP BY 1)
      |SELECT m.l_returnflag, m.max_price, MIN(l.l_orderkey) AS argmax_orderkey
      |FROM lineitem l JOIN m
      |  ON l.l_returnflag = m.l_returnflag AND l.l_extendedprice = m.max_price
      |GROUP BY 1, 2
      |ORDER BY m.l_returnflag""".stripMargin) { (s, d) =>
    val li = Tables.lineitem(s, d).select("l_returnflag", "l_extendedprice", "l_orderkey")
    val m = li.groupBy("l_returnflag").agg(max("l_extendedprice").as("max_price"))
      .select(col("l_returnflag").as("rf"), col("max_price"))
    li.join(broadcast(m),
      col("l_returnflag") === col("rf") && col("l_extendedprice") === col("max_price"))
      .groupBy(col("rf").as("l_returnflag"), col("max_price"))
      .agg(min("l_orderkey").as("argmax_orderkey"))
      .orderBy("l_returnflag")
  }

  // q76 — conditional + boolean aggregates: filtered counts and
  // universally/existentially quantified predicates per group, all
  // map-side-combinable (a CASE-sum and two boolean lattice merges).
  val q76CondAgg: QueryDef = QueryDef.sql(
    "q76_cond_agg",
    """SELECT event_type,
      |       COUNT(CASE WHEN value > 100 THEN 1 END) AS n_big,
      |       bool_or(value > 499)  AS any_near_max,
      |       bool_and(value >= 0)  AS all_nonneg
      |FROM events
      |GROUP BY 1
      |ORDER BY event_type""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(
        count(when(col("value") > 100, 1)).as("n_big"),
        bool_or(col("value") > 499).as("any_near_max"),
        bool_and(col("value") >= 0).as("all_nonneg"))
      .orderBy("event_type")
  }

  // q244 — MEDIAN/MAD ANOMALY DETECTION over the hourly event series
  // (the robust-statistics ops alarm: mean/stddev break under the very
  // outliers being hunted, median ± k·MAD does not — Hampel's rule):
  // per event type, hourly counts → lower median, median absolute
  // deviation, and the count of hours deviating > 3·MAD. Counts are
  // integers, LOWER medians are order statistics — every number is
  // integer-exact cross-engine, no quantile interpolation (the same
  // discipline as q48/q146). Shape: one keyed agg to hourly counts, one
  // collect per type (series length = calendar hours — bounded like
  // q48's fitting groups; an unbounded series would use q146's
  // histogram-narrowing instead), then ALL statistics in one HOF
  // projection over the sorted array — med, devs, MAD, anomaly count,
  // no second pass, no join-back.
  val q244AnomalyMad: QueryDef = QueryDef.sql(
    "q244_anomaly_mad",
    """WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hr,
      |                  count(*) AS c FROM events GROUP BY 1, 2),
      |s AS (SELECT event_type, list_sort(list(c)) AS cs FROM h GROUP BY 1),
      |m AS (SELECT event_type, cs, len(cs) AS n,
      |             cs[(len(cs)+1)//2] AS med FROM s),
      |d AS (SELECT event_type, n, med,
      |             list_sort(list_transform(cs, x -> abs(x - med))) AS devs FROM m),
      |f AS (SELECT event_type, n, med, devs[(n+1)//2] AS mad, devs FROM d)
      |SELECT event_type, CAST(n AS BIGINT) AS n_hours, CAST(med AS BIGINT) AS med,
      |       CAST(mad AS BIGINT) AS mad,
      |       CAST(len(list_filter(devs, x -> x > 3*mad)) AS BIGINT) AS n_anom
      |FROM f ORDER BY event_type""".stripMargin) { (s, d) =>
    val hourly = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("c"))
    hourly.groupBy("event_type")
      .agg(sort_array(collect_list(col("c"))).as("cs"))
      .select(col("event_type"), size(col("cs")).cast("long").as("n_hours"),
        element_at(col("cs"), ((size(col("cs")) + 1) / 2).cast("int")).as("med"),
        col("cs"))
      .select(col("event_type"), col("n_hours"), col("med"),
        array_sort(transform(col("cs"), x => abs(x - col("med")))).as("devs"))
      .select(col("event_type"), col("n_hours"), col("med"),
        element_at(col("devs"), ((col("n_hours") + 1) / 2).cast("int")).as("mad"),
        col("devs"))
      .select(col("event_type"), col("n_hours"), col("med"), col("mad"),
        size(filter(col("devs"), x => x > lit(3) * col("mad"))).cast("long")
          .as("n_anom"))
      .orderBy("event_type")
  }

  // q252 — BENFORD first-digit audit (the classic fabricated-data /
  // unit-mixup tripwire: organically-grown magnitudes follow
  // P(d) = log10(1+1/d); uniform or hand-entered values do not): leading
  // digit of exact integer cents via a THRESHOLD CASE (no float log —
  // the magnitude ladder is 10 comparisons, exact at any width), counts
  // vs the Benford expectation as integer basis points (the constants
  // 3010/1761/… are ⌊10000·log10(1+1/d)⌋ — literals, not computed), and
  // |deviation| per digit. On this testdata the audit FIRES (order
  // totals are generated uniform — digits 1–4 over-represented), which
  // is the point: the report's job is to flag, the gate's job is to
  // prove the flag's arithmetic. One scan, one 9-group agg.
  val q252Benford: QueryDef = QueryDef.sql(
    "q252_benford",
    """WITH c AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
      |             AS v FROM orders),
      |ld AS (SELECT CASE
      |    WHEN v >= 1000000000 THEN v // 1000000000
      |    WHEN v >= 100000000 THEN v // 100000000
      |    WHEN v >= 10000000 THEN v // 10000000
      |    WHEN v >= 1000000 THEN v // 1000000
      |    WHEN v >= 100000 THEN v // 100000
      |    WHEN v >= 10000 THEN v // 10000
      |    WHEN v >= 1000 THEN v // 1000
      |    WHEN v >= 100 THEN v // 100
      |    WHEN v >= 10 THEN v // 10
      |    ELSE v END AS digit FROM c WHERE v > 0),
      |expd AS (SELECT * FROM (VALUES (1, 3010), (2, 1761), (3, 1249), (4, 969),
      |        (5, 792), (6, 669), (7, 580), (8, 512), (9, 458)) e(digit, exp_bp)),
      |tot AS (SELECT count(*) AS n FROM ld)
      |SELECT CAST(e.digit AS BIGINT) AS digit,
      |       CAST(coalesce(o.cnt, 0) AS BIGINT) AS n_obs,
      |       CAST(coalesce(o.cnt, 0) * 10000 // t.n AS BIGINT) AS obs_bp,
      |       CAST(e.exp_bp AS BIGINT) AS exp_bp,
      |       CAST(abs(coalesce(o.cnt, 0) * 10000 // t.n - e.exp_bp) AS BIGINT)
      |         AS dev_bp
      |FROM expd e LEFT JOIN (SELECT digit, count(*) AS cnt FROM ld GROUP BY 1) o
      |  USING (digit)
      |CROSS JOIN tot t ORDER BY e.digit""".stripMargin) { (s, d) =>
    val cents = Tables.orders(s, d).select(
      (col("o_totalprice").cast("decimal(12,2)") * 100).cast("long").as("v"))
      .filter(col("v") > 0)
    // wrap inside-out so the LARGEST threshold is the outermost branch
    // (a fold that leaves 10^1 outermost would claim every value)
    val ladder = (1 to 9).foldLeft(col("v")) { (acc, p) =>
      val pow = math.pow(10, p).toLong
      when(col("v") >= pow, expr(s"v div ${pow}L")).otherwise(acc)
    }
    val digits = cents.select(ladder.as("digit"))
    val counts = digits.groupBy("digit").agg(count(lit(1)).as("cnt"))
    val total = digits.agg(count(lit(1)).as("n")) // 1-row broadcast denominator
    val benford = Seq(1 -> 3010, 2 -> 1761, 3 -> 1249, 4 -> 969,
      5 -> 792, 6 -> 669, 7 -> 580, 8 -> 512, 9 -> 458)
    import s.implicits._
    benford.toDF("digit", "exp_bp")
      .join(counts, Seq("digit"), "left")
      .crossJoin(broadcast(total))
      .select(col("digit").cast("long").as("digit"),
        coalesce(col("cnt"), lit(0L)).as("n_obs"),
        expr("coalesce(cnt, 0L) * 10000 div n").as("obs_bp"),
        col("exp_bp").cast("long").as("exp_bp"),
        abs(expr("coalesce(cnt, 0L) * 10000 div n")
          - col("exp_bp")).cast("long").as("dev_bp"))
      .orderBy("digit")
  }

  // q257 — EQUI-DEPTH HISTOGRAM (ntile over the exact total order — the
  // statistics shape CBO range estimates are built from; completes the
  // histogram pair with q71's equi-width): 8 buckets of equal row count
  // with exact [lo, hi] bounds, tie-broken by key so the bucketing is
  // deterministic. The ORACLE keeps the declarative global-ntile text;
  // the engine computes the identical rows with NO single-partition
  // window (see the in-body note; q85's GK sketch and q264's narrowing
  // remain the approximate / scan-only alternates on the gate).
  val q257EquidepthHist: QueryDef = QueryDef.sql(
    "q257_equidepth_hist",
    """WITH c AS (SELECT o_orderkey,
      |             CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
      |               AS cents FROM orders),
      |r AS (SELECT cents, ntile(8) OVER (ORDER BY cents, o_orderkey) AS bucket
      |      FROM c)
      |SELECT CAST(bucket AS BIGINT) AS bucket, CAST(count(*) AS BIGINT) AS n,
      |       CAST(min(cents) AS BIGINT) AS lo, CAST(max(cents) AS BIGINT) AS hi
      |FROM r GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    // No single-partition window (round-16 verdict item 3): bucket j's
    // row count is closed-form ntile arithmetic, and its [lo, hi] are
    // the cents values at the bucket's first/last 1-based ranks of the
    // (cents, o_orderkey) total order — order statistics from ONE
    // distributed range-partitioned sort ([[compositeCutsAt]]), while
    // q264 demonstrates the scan-only histogram-narrowing route to the
    // same rows. Byte-identical to the oracle's global ntile.
    val cents = Tables.orders(s, d).select(col("o_orderkey"),
      (col("o_totalprice").cast("decimal(12,2)") * 100).cast("long").as("cents"))
    val n = cents.count()
    val buckets = ntileBuckets(n, 8)
    val ranks = buckets.flatMap { case (first, last) => Seq(first, last) }.distinct
    val at: Map[Long, Long] = ranks.zip(
      compositeCutsAt(cents.select(col("cents").as("v"), col("o_orderkey")),
        Seq("v"), "o_orderkey", n, ranks)("v")).map {
      case (rk, (v, _)) => rk -> v
    }.toMap
    val rows = buckets.zipWithIndex.map { case ((first, last), i) =>
      (i + 1L, last - first + 1L, at(first), at(last))
    }
    import s.implicits._
    rows.toDF("bucket", "n", "lo", "hi").orderBy("bucket")
  }

  // q263 — RFM SEGMENTATION (the classic customer-value grid: recency /
  // frequency / monetary quartiles composed into a 3-digit segment code
  // — the analytics workload that exercises three DIFFERENT aggregates
  // of the same fact table feeding three rank cuts): per customer, days
  // since last order (exact date arithmetic), order count, and cents
  // total — each quartiled by ntile(4) with the customer key as
  // tie-break (recency ranks ASCENDING so quartile 4 = most recent,
  // matching F and M's bigger-is-better), code = r·100 + f·10 + m, and
  // the report counts customers per segment with the segment's revenue
  // mass. The ORACLE keeps the declarative global-ntile text; the
  // engine shares q265's windowless kernel ([[rfmSegments]]).
  val q263Rfm: QueryDef = QueryDef.sql(
    "q263_rfm",
    """WITH base AS (SELECT o_custkey,
      |    date_diff('day', CAST(max(o_orderdate) AS DATE), DATE '2002-01-01')
      |      AS recency_days,
      |    count(*) AS freq,
      |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
      |      AS BIGINT) AS cents
      |  FROM orders GROUP BY 1),
      |scored AS (SELECT o_custkey, recency_days, freq, cents,
      |    ntile(4) OVER (ORDER BY recency_days DESC, o_custkey) AS r,
      |    ntile(4) OVER (ORDER BY freq, o_custkey) AS f,
      |    ntile(4) OVER (ORDER BY cents, o_custkey) AS m
      |  FROM base)
      |SELECT CAST(r * 100 + f * 10 + m AS BIGINT) AS segment,
      |       CAST(count(*) AS BIGINT) AS n_customers,
      |       CAST(sum(cents) AS BIGINT) AS segment_cents,
      |       CAST(min(o_custkey) AS BIGINT) AS min_cust
      |FROM scored GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    // Same engine as q265 ([[rfmSegments]]): the oracle text keeps the
    // declarative global-ntile form, but the engine never plans a
    // single-partition window (the WindowExec all-data-to-one-task
    // hazard at 100 TB — round-16 verdict item 3); the cuts come from
    // one fused distributed sort and assignment is a broadcast-literal
    // projection. Byte-identical output by construction.
    rfmSegments(s, d)
  }

  /** ntile(n) bucket sizes over N rows — the definition Spark and DuckDB
    * share: the first N mod n buckets get ceil(N/n) rows, the rest
    * floor(N/n). Returns each bucket's 1-based END rank (cumulative). */
  private def ntileEnds(total: Long, n: Int): Seq[Long] = {
    val base = total / n
    val rem = (total % n).toInt
    (1 to n).scanLeft(0L)((acc, j) => acc + base + (if (j <= rem) 1L else 0L)).tail
  }

  /** (first, last) 1-based rank of each NON-EMPTY ntile(n) bucket over
    * N rows, in bucket order: when N < n, ntile emits only N one-row
    * buckets, and a zero-row input emits none. */
  private def ntileBuckets(total: Long, n: Int): Seq[(Long, Long)] = {
    val ends = ntileEnds(total, n)
    ends.zip(0L +: ends).collect { case (e, prev) if e > prev => (prev + 1L, e) }
  }

  /** Composite (value, key) order statistics at the given 1-based ranks
    * for SEVERAL orderings of one n-row frame, in ONE distributed pass:
    * the metric projections are unioned under a discriminator and
    * globally sorted by (metric, v, key) — inside a metric's block that
    * is exactly the metric's (v, key) total order, so metric i's rank-e
    * row sits at global 0-based index i·n + e − 1. One range-partitioned
    * distributed sort + per-partition sequential ranks (zipWithIndex) +
    * one boundary collect replaces either one SINGLE-PARTITION window
    * per metric (the WindowExec all-data-to-one-task hazard this exists
    * to remove) or one sort job per metric. Only the boundary rows are
    * ever collected. Returns metric → (v, key) per rank, in rank order.
    */
  private def compositeCutsAt(base: DataFrame, metrics: Seq[String],
      key: String, n: Long, ranks: Seq[Long]): Map[String, Seq[(Long, Long)]] = {
    val united = metrics.zipWithIndex.map { case (c, i) =>
      base.select(lit(i).as("m"), col(c).as("v"), col(key).as("k"))
    }.reduce(_ unionByName _)
    val want: Set[Long] = (for { i <- metrics.indices; e <- ranks }
      yield i.toLong * n + e - 1L).toSet
    val byIdx: Map[Long, (Long, Long)] =
      united.orderBy("m", "v", "k").rdd.zipWithIndex()
        .filter { case (_, idx) => want(idx) }
        .collect()
        .map { case (r, idx) => idx -> (r.getLong(1), r.getLong(2)) }.toMap
    metrics.zipWithIndex.map { case (c, i) =>
      c -> ranks.map(e => byIdx(i.toLong * n + e - 1L))
    }.toMap
  }

  // q264 — EQUI-DEPTH HISTOGRAM, SCALE FORM (the q257 pairing, same
  // discipline as q79→q84): byte-identical result to q257's global-ntile
  // reference with NO window anywhere in the plan. ntile arithmetic is
  // closed-form — bucket j holds ranks (end_{j-1}, end_j], the first
  // N mod 8 buckets one row larger — and cents is monotone along the
  // (cents, key) total order, so bucket j's lo/hi are exactly the cents
  // values at ranks end_{j-1}+1 and end_j: 16 order statistics, found by
  // the q146 histogram-narrowing kernel (O(log range) one-scan rounds;
  // round 1 is ONE shared scan for all 16 targets via the bracket memo,
  // and the ntile tie-break key can never matter for the bounds because
  // ties permute rows only within equal cents). At 100 TB this is a
  // handful of scans + 256-group aggs over a checkpointed single-column
  // frame; nothing sorts globally or moves to one partition.
  val q264EquidepthBounds: QueryDef = QueryDef.sql(
    "q264_equidepth_bounds",
    """WITH c AS (SELECT o_orderkey,
      |             CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
      |               AS cents FROM orders),
      |r AS (SELECT cents, ntile(8) OVER (ORDER BY cents, o_orderkey) AS bucket
      |      FROM c)
      |SELECT CAST(bucket AS BIGINT) AS bucket, CAST(count(*) AS BIGINT) AS n,
      |       CAST(min(cents) AS BIGINT) AS lo, CAST(max(cents) AS BIGINT) AS hi
      |FROM r GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    val cents = Tables.orders(s, d).select(
      (col("o_totalprice").cast("decimal(12,2)") * 100).cast("long").as("v"))
    val n = cents.count()
    val ends = ntileEnds(n, 8)
    val starts = 1L +: ends.init.map(_ + 1L)
    val wanted = (starts ++ ends).distinct.map(k => s"r$k" -> k)
    val at = exactSelectRanks(cents, wanted)
      .map { case (_, k, v) => k -> v }.toMap
    val rows = (1 to 8).map { j =>
      val size = ends(j - 1) - (if (j == 1) 0L else ends(j - 2))
      (j.toLong, size, at(starts(j - 1)), at(ends(j - 1)))
    }
    import s.implicits._
    rows.toDF("bucket", "n", "lo", "hi").orderBy("bucket")
  }

  // q265 — RFM SEGMENTATION, SCALE FORM (the q263 pairing): identical
  // segment grid with NO window. The three ntile(4) cuts per metric are
  // composite (value, custkey) order statistics at the closed-form
  // boundary ranks: one range-partitioned distributed sort per metric
  // (never a single-partition window) with per-partition sequential
  // ranks collects exactly the three boundary rows. Quartile assignment
  // is then a pure broadcast-literal projection —
  // 1 + #{boundaries strictly below (v, key)} — followed by one keyed
  // agg. Recency's DESC order rides the same ascending kernel via
  // negation. The per-customer base (|customers| rows ≪ |orders|) is
  // checkpointed once so the cut passes never re-aggregate the fact
  // table.
  val q265RfmCuts: QueryDef = QueryDef.sql(
    "q265_rfm_cuts",
    """WITH base AS (SELECT o_custkey,
      |    date_diff('day', CAST(max(o_orderdate) AS DATE), DATE '2002-01-01')
      |      AS recency_days,
      |    count(*) AS freq,
      |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
      |      AS BIGINT) AS cents
      |  FROM orders GROUP BY 1),
      |scored AS (SELECT o_custkey, recency_days, freq, cents,
      |    ntile(4) OVER (ORDER BY recency_days DESC, o_custkey) AS r,
      |    ntile(4) OVER (ORDER BY freq, o_custkey) AS f,
      |    ntile(4) OVER (ORDER BY cents, o_custkey) AS m
      |  FROM base)
      |SELECT CAST(r * 100 + f * 10 + m AS BIGINT) AS segment,
      |       CAST(count(*) AS BIGINT) AS n_customers,
      |       CAST(sum(cents) AS BIGINT) AS segment_cents,
      |       CAST(min(o_custkey) AS BIGINT) AS min_cust
      |FROM scored GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    rfmSegments(s, d)
  }

  /** The shared RFM segmentation engine (q263 and q265 — same oracle,
    * same result, one implementation): per-customer R/F/M base, the
    * nine ntile(4) cut boundaries as composite (value, custkey) order
    * statistics from ONE fused distributed sort ([[compositeCutsAt]] —
    * never a single-partition window; all nine boundaries share one
    * pass), quartile assignment as a broadcast-literal projection, one
    * keyed agg.
    */
  private def rfmSegments(s: SparkSession, d: String): DataFrame = {
    val base = Clustering.truncate(
      Tables.orders(s, d).groupBy("o_custkey")
        .agg(datediff(lit(java.sql.Date.valueOf("2002-01-01")),
          max(col("o_orderdate")).cast("date")).as("recency_days"),
          count(lit(1)).as("freq"),
          sum((col("o_totalprice").cast("decimal(12,2)") * 100).cast("long"))
            .cast("long").as("cents"))
        .select(col("o_custkey").cast("long").as("k"),
          // DESC recency with ASC key == ASC (-recency_days, key)
          (-col("recency_days")).cast("long").as("vr"),
          col("freq").cast("long").as("vf"),
          col("cents").as("vm")))
    val n = base.count()
    // the last rank of every non-empty bucket but the final one: e1, e2,
    // e3 for n >= 4, fewer for a smaller base, none for an empty one
    val bounds = ntileBuckets(n, 4).map(_._2).dropRight(1)
    val metricCols = Seq("vr", "vf", "vm")
    val cuts = compositeCutsAt(base, metricCols, "k", n, bounds)
    // quartile = 1 + #{boundaries strictly below (v, key)}: broadcast
    // literals only — a row-local codegen projection
    def quart(c: String): Column =
      cuts(c).map { case (vs, ks) =>
        when(col(c) > vs || (col(c) === vs && col("k") > ks), 1).otherwise(0)
      }.foldLeft(lit(1))(_ + _)
    base.select(col("k"), col("vm"),
        (quart("vr") * 100 + quart("vf") * 10 + quart("vm"))
          .cast("long").as("segment"))
      .groupBy("segment")
      .agg(count(lit(1)).as("n_customers"),
        sum("vm").cast("long").as("segment_cents"),
        min("k").as("min_cust"))
      .orderBy("segment")
  }

  // q274 — ASSOCIATION RULES (market-basket support/confidence/lift —
  // the co-occurrence workload behind "frequently bought together" and
  // behind token-co-occurrence statistics in corpus analysis): baskets
  // are orders, items are parts; pair candidates are generated INSIDE
  // each basket's reducer (sorted item array → in-reducer pairs, the
  // Dedup.bucketPairs kernel — baskets are small by nature, so the
  // quadratic is bounded by basket size, never corpus size; NO item
  // self-join anywhere). Supports are keyed aggs; single-item supports
  // join back on the pair's items (keyed); N is a 1-row broadcast.
  // Confidence and lift in exact integer bp/ppm — the whole report
  // hash-verifies. Scale: shuffles carry (order, item) and (pair)
  // keys only.
  val q274AssocRules: QueryDef = QueryDef.sql(
    "q274_assoc_rules",
    """WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS i
      |               FROM lineitem),
      |n AS (SELECT COUNT(DISTINCT o) AS n FROM items),
      |pairs AS (SELECT a.i AS item_a, b.i AS item_b, COUNT(*) AS support
      |          FROM items a JOIN items b ON a.o = b.o AND a.i < b.i
      |          GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |singles AS (SELECT i, COUNT(*) AS s FROM items GROUP BY 1)
      |SELECT CAST(item_a AS BIGINT) AS item_a,
      |       CAST(item_b AS BIGINT) AS item_b,
      |       CAST(support AS BIGINT) AS support,
      |       CAST(support * 10000 // sa.s AS BIGINT) AS conf_ab_bp,
      |       CAST(support * 10000 // sb.s AS BIGINT) AS conf_ba_bp,
      |       CAST(support * n.n * 1000 // (sa.s * sb.s) AS BIGINT) AS lift_m
      |FROM pairs JOIN singles sa ON item_a = sa.i
      |           JOIN singles sb ON item_b = sb.i, n
      |ORDER BY item_a, item_b""".stripMargin) { (s, d) =>
    // three consumers (baskets, singles, N) — truncate so the fact scan
    // and the distinct's shuffle run once, not three times
    val items = Clustering.truncate(Tables.lineitem(s, d)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("i")).distinct())
    val baskets = items.groupBy("o")
      .agg(sort_array(collect_list(col("i"))).as("ids"))
      .filter(size(col("ids")) >= 2)
    val pairs = Dedup.bucketPairs(baskets, "ids", "item_a", "item_b")
      .groupBy("item_a", "item_b")
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= 2)
    val singles = items.groupBy("i").agg(count(lit(1)).as("s"))
    val n = items.select("o").distinct().agg(count(lit(1)).as("n"))
    pairs
      .join(singles.select(col("i").as("item_a"), col("s").as("sa")), "item_a")
      .join(singles.select(col("i").as("item_b"), col("s").as("sb")), "item_b")
      .crossJoin(broadcast(n))
      .select(col("item_a"), col("item_b"), col("support"),
        expr("support * 10000 div sa").as("conf_ab_bp"),
        expr("support * 10000 div sb").as("conf_ba_bp"),
        expr("support * n * 1000 div (sa * sb)").as("lift_m"))
      .orderBy("item_a", "item_b")
  }

  // q275 — GINI CONCENTRATION per group (revenue-inequality audit — the
  // "is one supplier dominating this nation" report; same family as
  // q120's domain caps and q259's skew diagnosis, as a single exact
  // index): per nation, suppliers ranked by (revenue, key) and
  // G = Σ(2i − n − 1)·xᵢ / (n·Σx), emitted ×10⁶ as an integer ppm so
  // both engines compute identical arithmetic. The window partitions by
  // NATION (suppliers per nation is dimension-bounded — this is the
  // keyed, scale-safe window, not a global one); revenue is one keyed
  // agg over the fact table with the supplier dim broadcast.
  val q275Gini: QueryDef = QueryDef.sql(
    "q275_gini",
    """WITH rev AS (SELECT l_suppkey,
      |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT))
      |      AS BIGINT) AS cents
      |  FROM lineitem GROUP BY 1),
      |r AS (SELECT n_name, cents,
      |        row_number() OVER (PARTITION BY n_name
      |          ORDER BY cents, s.s_suppkey) AS rk
      |      FROM rev
      |      JOIN supplier s ON l_suppkey = s.s_suppkey
      |      JOIN nation ON s.s_nationkey = n_nationkey),
      |r2 AS (SELECT n_name, cents, rk,
      |         COUNT(*) OVER (PARTITION BY n_name) AS nn FROM r)
      |SELECT n_name,
      |       CAST(COUNT(*) AS BIGINT) AS n_suppliers,
      |       CAST(SUM(cents) AS BIGINT) AS total_cents,
      |       CAST(SUM((2 * rk - nn - 1) * cents) * 1000000
      |            // (COUNT(*) * SUM(cents)) AS BIGINT) AS gini_ppm
      |FROM r2 GROUP BY n_name
      |ORDER BY n_name""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val rev = Tables.lineitem(s, d)
      .groupBy("l_suppkey")
      .agg(sum((col("l_extendedprice").cast("decimal(12,2)") * 100)
        .cast("long")).cast("long").as("cents"))
    val bySupp = rev
      .join(broadcast(Tables.supplier(s, d)
        .select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, d)
        .select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("cents"), col("s_suppkey"))
    val w = Window.partitionBy("n_name").orderBy(col("cents"), col("s_suppkey"))
    val wn = Window.partitionBy("n_name")
    bySupp
      .select(col("n_name"), col("cents"),
        row_number().over(w).cast("long").as("rk"),
        count(lit(1)).over(wn).as("nn"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_suppliers"),
        sum("cents").cast("long").as("total_cents"),
        expr("sum((2 * rk - nn - 1) * cents) * 1000000" +
          " div (count(*) * sum(cents))").cast("long").as("gini_ppm"))
      .orderBy("n_name")
  }

  val all: Seq[QueryDef] = Seq(
    q47TopkPerGroup, q48Percentiles, q49StatsMoments, q50Pivot,
    q51EditDistance, q52Tfidf, q53Bigrams, q54GroupingSets, q55KeywordSearch,
    q103BlockedEditdist,
    q57RangeJoin, q58MapOps, q62VectorQuantize, q63PiiScrub,
    q65Unpivot, q66CarryForward, q67HashSample, q68TopkAggregator,
    q70StratifiedSample, q71Histogram, q72Ntile, q73DateSpine,
    q74StringAgg, q75ArgMax, q76CondAgg, q85ApproxPercentiles,
    q146ExactSelect, q244AnomalyMad, q252Benford, q257EquidepthHist, q263Rfm,
    q264EquidepthBounds, q265RfmCuts, q274AssocRules, q275Gini)
}

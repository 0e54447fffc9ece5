package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Plan self-audit: materializes every declared query's physical plan and
  * writes PLANS.md — a per-query table of the plan properties the engine
  * claims (shuffle counts, join strategies, parquet pushdown, codegen
  * coverage). Run: `sbt "runMain graft.PlanAudit [sfDir] [out]"`.
  *
  * This is the `.explain("formatted")`-and-iterate loop, captured as an
  * artifact: a query whose row regresses (an extra Exchange, a lost
  * PushedFilters, a SortMergeJoin where a broadcast belongs) shows up as
  * a diff in review.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("PLANS.md")
    val spark = graft.engine.LocalSession("ERROR", cpus = "4")

    def count(hay: String, needle: String): Int = needle.r.findAllIn(hay).length

    // Composite pipeline plans audited alongside the queries: the
    // end-to-end flagship must hold the "no shuffle beyond the stages'
    // own" promise as a visible row, not just a spec assertion.
    val composites: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] = {
      import org.apache.spark.sql.functions.col
      def corpus(s: SparkSession, d: String) =
        graft.engine.Tables.widen(graft.engine.Tables.documents(s, d))
      Seq(
        "pipeline_curate" -> ((s: SparkSession, d: String) => {
          val docs = corpus(s, d)
          graft.operators.Pipeline.curate(
            docs.filter(col("doc_id") % 97 =!= 0),
            docs.filter(col("doc_id") % 97 === 0).select("doc_id", "text"),
            tokenBudget = 20000L, nShards = 8)
        }),
        "pipeline_pretrain" -> ((s: SparkSession, d: String) => {
          val docs = corpus(s, d)
          graft.operators.Pipeline.pretrain(
            docs.filter(col("doc_id") % 97 =!= 0),
            docs.filter(col("doc_id") % 97 === 0).select("doc_id", "text"),
            tokenBudget = 20000L, nShards = 8,
            merges = graft.operators.Corpus.trainBpe(s, d, 50))
        }))
    }

    val rows = (SparkEntry.queries.toSeq.sortBy(_._1) ++ composites).map { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // drive THIS QueryExecution's physical plan (count()/write would
        // plan a different query), so AQE settles and codegen markers
        // appear in the final plan
        df.queryExecution.executedPlan.execute().count()
        // a finalized AdaptiveSparkPlan prints BOTH the final and the
        // initial plan — audit only the final section
        val full = df.queryExecution.executedPlan.toString
        val p = full.indexOf("== Initial Plan ==") match {
          case -1 => full
          case i => full.substring(0, i)
        }
        val scans = count(p, "FileScan parquet")
        val pushed = count(p, "PushedFilters: \\[[^\\]]")
        // ReusedExchange is a cache hit on an identical subtree — free
        val exchanges = count(p, "Exchange") - count(p, "ReusedExchange")
        val bhj = count(p, "BroadcastHashJoin") + count(p, "BroadcastNestedLoopJoin")
        val smj = count(p, "SortMergeJoin") + count(p, "ShuffledHashJoin")
        // codegen spans = distinct "*(id)" markers in the final plan
        val wsc = "\\*\\((\\d+)\\)".r.findAllMatchIn(p).map(_.group(1)).toSet.size
        val windows = count(p, "(?m)^[^A-Za-z]*Window ")
        s"| $name | $scans | $pushed | $exchanges | $bhj | $smj | $windows | $wsc |"
      } catch {
        case e: Throwable => s"| $name | plan failed: ${e.getClass.getSimpleName} | | | | | | |"
      }
    }

    val header =
      s"""# PLANS — physical-plan audit (generated by `graft.PlanAudit`, sf=$sfDir)
         |
         |Per query (final AQE plan, post-execution): parquet scans, scans
         |with non-empty `PushedFilters`, `Exchange` count (shuffles +
         |broadcasts — lower is better at fixed semantics), broadcast joins,
         |shuffled joins, window ops, and whole-stage-codegen spans.
         |Regenerate with `sbt "runMain graft.PlanAudit"` after
         |plan-affecting changes.
         |
         |Paired forms — the multi-scan row is the ORACLE CROSS-CHECK, not
         |the scale path:
         |
         |- `q79_funnel` (3 scans, one per funnel stage) exists so DuckDB
         |  can verify the funnel semantics stage-by-stage;
         |  `q84_funnel_onepass` is the same funnel as ONE scan + a
         |  conditional-min/max per stage — at 100 TB the events table is
         |  read once, not once per stage. Both are oracled; q84 is the
         |  form a user should run.
         |- `q48_percentiles` (exact, per-group buffer-and-sort) is the
         |  oracle kernel; `q85_approx_percentiles` (fixed-size GK sketch,
         |  map-side combinable) is the only percentile shape that
         |  survives a billion-row group.
         |- `q257_equidepth_hist` / `q263_rfm` (global ntile — a
         |  SINGLE-PARTITION window) are the bounded ntile references;
         |  `q264_equidepth_bounds` / `q265_rfm_cuts` (round 12) are the
         |  scale forms: closed-form ntile extents + q146
         |  histogram-narrowing order statistics (composite (value, key)
         |  statistics for the RFM tie-breaks), then a broadcast-literal
         |  assignment projection + one keyed agg — ZERO Window operators
         |  (golden rows pin windows=0; AnalyticsSpec pins byte-equality
         |  between the paired forms). The reference forms replay the
         |  identical DuckDB oracle; q264/q265 are the forms to run at
         |  100 TB. Measured crossover at sf0.1 (quiet-host full bench;
         |  the q216-vs-q24 pattern): q257 0.34 s vs q264 0.81 s, q263
         |  0.30 s vs q265 1.52 s — the scale forms pay fixed
         |  narrowing-round job overhead that is noise at 100 TB and
         |  dominant at 150k rows, while the reference forms pay a
         |  single-partition sort that is trivial at 150k rows and
         |  fatal at 100 TB.
         |- `q228_dedup_eval` (full-corpus exact ground truth) is the
         |  oracle twin of `q266_dedup_eval_sampled` (both arms on a
         |  deterministic md5 stratum) — at sf0.1 the sampled eval
         |  already runs 2.8 s vs 8.4 s, and at corpus scale the full
         |  exact arm is not runnable at all.
         |- `q283_sql_update` (copy-on-write ReplaceData: rewrite the
         |  files containing matches) and `q287_sql_mor` (write-delta:
         |  commit a delete sidecar + the new rows, rewrite NOTHING) are
         |  the two row-level write shapes (round 13). COW keeps reads
         |  sidecar-free and is right for updates that touch a
         |  meaningful fraction of their files; MOR is right for point
         |  updates/deletes on huge tables — a one-row UPDATE costs
         |  kilobytes instead of a file rewrite — at the price of an
         |  anti-join per read until OPTIMIZE compacts. Both gates pin
         |  their side of the contract (COW: ≤2 of 8 files replaced via
         |  the runtime group filter; MOR: every base file carried by
         |  reference, sidecar-only DELETE). Round 14 removed the MERGE
         |  carve-out: a mor table's MERGE (q291) rides the same delta
         |  path — a CDC upsert commits sidecar + new files, never a
         |  COW rewrite.
         |- Manifest-level pruning on the SQL catalog scan composes
         |  THREE zero-IO axes before the parquet scan is planned
         |  (round 14): column-stats bounds in four exact domains
         |  (l/d + round-14 c=decimal and s=string-truncate(16),
         |  q292), partition tags for path-exact equality conjuncts
         |  (q293, the q281 era logic), and the pushed COUNT(*)
         |  (q290). Each is a necessary-condition filter; everything
         |  unrecognized fails open and Spark re-checks every filter,
         |  so the prunes are pure optimizations. The pushed COUNT now
         |  counts LIVE-targeting sidecar rows when sidecars exist
         |  (one sidecar-only job, zero data files) — exact on ANY
         |  on-disk lineage, including pre-reconcile stale rows.
         |  MIN/MAX push too (q296) under a strict exactness proof —
         |  integral/decimal only (fp is NaN-blind in parquet
         |  envelopes), no sidecars, every era-resolved entry statted —
         |  with an execution-time re-check that degrades a racing
         |  query to a real scan, never to a stale answer.
         |- `readStream.table` (q295) streams a catalog table by NAME:
         |  bare new-side rows, per-batch cost ∝ drained versions.
         |  Throttled offsets WALK committed versions (never synthesize
         |  one inside a tag-pinned-vacuum gap), so a checkpoint can
         |  never wedge on a missing manifest. `writeStream.toTable`
         |  (q297) closes the loop: the exactly-once sink by name.
         |- Manifest STATISTICS feed join planning (q298): the scan
         |  reports post-prune row counts, so a small (or
         |  selectively-filtered) catalog table broadcasts from the
         |  INITIAL plan — without it the estimate is defaultSizeInBytes
         |  and a 25-row dim joined to a 100 TB fact plans a full
         |  sort-merge shuffle that AQE can only repair after paying it.
         |- SQL PARTITIONED BY (q299) closes the partition loop: CREATE
         |  declares the spec, INSERTs tag one file per value per
         |  commit, and the q293 scan prune reads exactly the matching
         |  files — authoring and consumption both in SQL text.
         |
         |q55 drift note (round 10): the 0.48→0.76 s wobble was NOT a plan
         |flip — warm re-timing (5 runs, fresh shell) was stable and the
         |match-list join stayed a BroadcastHashJoin in both the initial
         |and final AQE plan; the variance is the host-noise band the
         |re-time discipline absorbs. The plan read did surface a real
         |inefficiency, now fixed: conjunctive matching was
         |distinct-then-count (TWO keyed exchanges — the (doc_id, tok)
         |dedup, then the count); it is now a bit_or over a per-term
         |bitmask — idempotent under duplicates, so map-side combinable in
         |ONE keyed shuffle.
         |
         |q98 re-time (round 12, VERDICT item #6): the r10→r11 drift
         |(0.84→1.10 s vs 0.67 best) HOLDS under 5 warm bench re-runs and
         |5 in-process warm runs (~1.0–1.3 s) — but the plan read shows
         |no flip: the Misra-Gries partial stays a map-side
         |ObjectHashAggregate (partial_misragries fused with
         |partial_count, one scan), candidates broadcast, no
         |SortAggregate fallback. The cause is the HOST band, not the
         |query: four control queries re-timed in the same session drift
         |uniformly (q21 0.13→0.27, q42 0.16→0.24, q56 0.98→1.72,
         |q91 1.57→2.72 — all 1.5–1.8×, q98's 1.5× sits inside it).
         |For calibration, the exact one-pass groupBy form of q98 runs
         |0.83 s in the same window — the ~0.5 s delta is the sketch
         |partial's object-agg cost, the price of the bounded-shuffle
         |shape (k-sized partials instead of a full-vocabulary shuffle),
         |paid deliberately: at sf0.1 the vocab fits, at 100 TB it does
         |not. CLOSED later the same session: the quiet-host full bench
         |timed q98 at 0.688 s — within 2% of its 0.674 best — so the
         |"regression" was entirely the host band, as the uniform
         |control drift predicted.
         |
         |q42_cube re-time (round 13, VERDICT item #7): the one r11→r12
         |raw drift (0.22→0.29 s vs 0.165 best) is the SAME host-band
         |signature, calibrated the same way: subset-bench q42 with
         |three controls in one session times q42 at 0.25 s (1.53x of
         |best) while the controls drift 1.40-1.89x of THEIR bests
         |(q12 0.31/0.163, q55 0.55/0.395, q98 0.94/0.674) — q42 sits
         |INSIDE the control band, and its plan golden
         |(scans/pushdown/exchanges) is byte-identical. Subset runs also
         |lack the full suite's JIT warmth, which the round-12 q98
         |closure showed is worth the remaining gap on a quiet host. No
         |plan action.
         |
         |Skew: AQE vs manual salting (round 11, pinned by SkewSpec). The
         |zero-code `adaptive.skewJoin` splits a skewed JOIN partition
         |only when (a) nothing in the same stage requires the join key's
         |hash clustering and (b) the shuffle has multiple map outputs to
         |split by (the split is mapper-granular). Consequences: a skewed
         |join feeding a DIFFERENT-key or global aggregate needs no salt —
         |AQE handles it at runtime (SkewSpec part a, result equal to the
         |salted kernel). But q82's real shape — join feeding a SAME-KEY
         |groupBy — makes the split illegal (it would break the
         |aggregate's clustering), so AQE declines (SkewSpec part b) and
         |explicit salting (`Skew.saltedJoin`/`saltedSumCount`, q40/q82)
         |remains the only cure for skewed aggregations. That is why the
         |q82 gate query keeps its salt.
         |
         |CBO join reorder (round 11, pinned by CboSpec): Spark's cost-based
         |join reorderer is OFF by default and inert without table-level
         |statistics. The recipe that makes it fire — catalog tables (not
         |path reads), `ANALYZE TABLE ... COMPUTE STATISTICS`, and both
         |`spark.sql.cbo.enabled` + `spark.sql.cbo.joinReorder.enabled` —
         |is proven by the spec: a worst-textual-order three-table join
         |(fact ⋈ fact ⋈ 5-row dim, tiny last) keeps textual order without
         |stats and moves the tiny dim off the top join with them. On a
         |100 TB deployment this is the difference between stats being a
         |nicety and the join tree being driven by them; path-based reads
         |(this repo's gate queries) instead rely on size-in-bytes +
         |broadcast thresholds + AQE, which is why the gate queries
         |pre-place dims with `broadcast()` hints where order matters.
         |
         |q216 prefix join (scale-tradeoff note): at sf0.1 the exact
         |AllPairs form spends ~6.5 s where the capped inverted index
         |(q24) spends ~0.7 s on a fifth of the docs — the frequency pass,
         |the global-order sort, and the prefix machinery are OVERHEAD at
         |small scale. They pay off exactly where q24's form stops being
         |runnable: posting lists of frequent shingles grow quadratically
         |with corpus size while prefix postings stay bounded by the
         |rare-first order. The pair is deliberate: q24 is the bounded
         |oracle kernel, q216 the unbounded scale path.
         |
         |q231 recursive CTE (round 11 perf note): the recursion bound
         |must be computed in the ANCHOR and carried as a loop column —
         |a scalar subquery in the recursive member's WHERE re-executes
         |the orders aggregate on every UnionLoop iteration (measured
         |9.7 s vs 0.96 s at sf0.1 for the identical result).
         |
         |q53/q77/q99 re-time (round 16, VERDICT item #7): the tail
         |deltas vs bench_history bests (0.32/0.34/0.28 s) are HOST
         |EPOCH, not code — verified by the checkout-and-rebench
         |discipline: round-15 code (e762867) re-benched in a /tmp
         |clone on the same day measures 0.48/0.69/0.51 s against
         |current code's 0.52/0.60/0.44 s, i.e. the two codebases sit
         |inside each other's noise band while BOTH run ~1.5-1.8x
         |above the bests' epoch (the same host slowdown first
         |measured in round 15 on q139/q219). No plan flip: the golden
         |plan-shape rows for all three are unchanged. Bests stand.
         |
         |""".stripMargin
    val table =
      "| query | scans | pushed | exchanges | bcast joins | shuf joins | windows | codegen spans |\n" +
        "|---|---|---|---|---|---|---|---|\n" + rows.mkString("\n") + "\n"
    Files.writeString(Paths.get(out), header + table)
    println(s"wrote $out (${rows.size} queries)")
    spark.stop()
  }
}

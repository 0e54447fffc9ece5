package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.engine.{QueryDef, Tables}

/** Dedup clustering [EXT, north star]: connected components over the LSH
  * candidate graph (q22) by iterative min-label propagation. This is the
  * end-game of every near-dup pipeline — pairs are not actionable until
  * they are transitive-closed into clusters and one representative per
  * cluster is kept.
  *
  * Scale notes: label propagation converges in O(diameter) rounds, and
  * near-dup components have tiny diameters (they are quasi-cliques from
  * shared LSH buckets), so the loop is short by construction; for
  * adversarial graph shapes the same loop body upgrades to alternating
  * large-star/small-star contraction (Kiveris et al., "Connected
  * Components in MapReduce"), which bounds rounds at O(log n). Each
  * iteration is one keyed shuffle; lineage is truncated per round —
  * reliable `checkpoint` when the session has a checkpoint dir (the
  * cluster path: state survives executor loss), `localCheckpoint`
  * otherwise (single-JVM sandbox).
  */
object Clustering {

  /** Per-round lineage truncation, checkpoint-dir aware: on a real
    * cluster (`spark.sparkContext.setCheckpointDir(...)` to reliable
    * storage) iteration state is re-loadable after executor loss; with
    * no dir configured, executor-local blocks are the best available.
    */
  private[operators] def truncate(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(true)
    else df.localCheckpoint(true)

  /** Min-label fixpoint over an undirected edge set (u, v). Returns
    * (node, cluster_id = min node id reachable). Pure DataFrame loop —
    * the per-round driver scalar is the convergence check only, never
    * data. If the round budget runs out on an adversarially deep graph,
    * finishes via [[starContraction]] instead of failing.
    */
  private[graft] def connectedComponents(edgesIn: DataFrame, maxIter: Int = 25): DataFrame = {
    // bidirectional edges: propagation must flow both ways (union is
    // positional, so selecting (v, u) swaps the direction)
    val e = edgesIn.toDF("u", "v")
    val edges = truncate(e.union(e.select(col("v"), col("u"))).distinct())
    // seed with min(self, min neighbor): identical to the state after the
    // loop's first round (pointer doubling is an identity on self-labels),
    // so the fixpoint needs one round fewer — one aggregation replaces a
    // 3-join round
    var labels = truncate(edges.groupBy(col("u").as("node"))
      .agg(min(col("v")).as("mn"))
      .select(col("node"), least(col("node"), col("mn")).as("label")))
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // each node adopts min(own label, neighbors' labels)
      val viaNeighbors = edges
        .join(labels, edges("v") === labels("node"))
        .groupBy(col("u").as("node2"))
        .agg(min("label").as("nlabel"))
      // pointer doubling: also adopt the label OF the current label, so
      // label information travels 2^iter hops, not iter hops — the loop
      // converges in O(log diameter) rounds even on chain-shaped
      // components (one-hop propagation needs O(diameter), which a
      // sparse random near-threshold graph can push past any fixed
      // iteration budget; quasi-clique near-dup components hid this)
      val parents = labels.select(col("node").as("pnode"), col("label").as("plabel"))
      val next = labels
        .join(viaNeighbors, labels("node") === viaNeighbors("node2"), "left")
        .join(parents, labels("label") === parents("pnode"), "left")
        .select(col("node"),
          least(col("label"),
            coalesce(col("nlabel"), col("label")),
            coalesce(col("plabel"), col("label"))).as("newlabel"),
          col("label"))
        .select(col("node"), col("newlabel").as("label"),
          (col("newlabel") < col("label")).as("changed"))
      val kept = truncate(next)
      converged = kept.filter(col("changed")).isEmpty
      labels = kept.select("node", "label")
      iter += 1
    }
    // A non-converged exit would return plausible-but-wrong labels with
    // no signal. Finish with the contraction algorithm instead — its
    // round count is O(log n) on ANY graph shape, so it terminates where
    // propagation's budget was adversarially exhausted.
    if (!converged) starContraction(edges)
    else labels.select(col("node"), col("label").as("cluster_id"))
  }

  /** Alternating large-star/small-star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", 2014): converges in
    * O(log n) rounds on any graph — the guaranteed-termination fallback
    * for graphs whose diameter outruns the propagation budget. Each round
    * is two keyed aggregations over the edge set; at the fixpoint the
    * edge set is a disjoint union of stars whose centers are the
    * component minima.
    *
    *  - large-star: every node connects each strictly LARGER neighbor to
    *    the minimum of its closed neighborhood;
    *  - small-star: every node connects its smaller-or-equal neighbors
    *    (and itself) to that minimum.
    */
  private[graft] def starContraction(edgesIn: DataFrame, maxRounds: Int = 50): DataFrame = {
    def minOfNeighborhood(bi: DataFrame): DataFrame = bi
      .groupBy(col("u").as("mu"))
      .agg(min(col("v")).as("mn"))
      .select(col("mu"), least(col("mu"), col("mn")).as("m"))

    def largeStar(e: DataFrame): DataFrame = {
      val bi = e.union(e.select(col("v").as("u"), col("u").as("v")))
      bi.join(minOfNeighborhood(bi), bi("u") === col("mu"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    def smallStar(e: DataFrame): DataFrame = {
      // process each edge at its larger endpoint: (big, small)
      val directed = e.select(
        greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
        .filter(col("u") =!= col("v"))
      val m = minOfNeighborhood(directed)
      val withM = directed.join(m, directed("u") === col("mu"))
      // connect the smaller neighbors AND the node itself to the minimum
      withM.select(col("v").as("u"), col("m").as("v"))
        .union(withM.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    var edges = truncate(smallStar(edgesIn.toDF("u", "v")))
    var stable = false
    var round = 0
    while (!stable && round < maxRounds) {
      val next = truncate(smallStar(largeStar(edges)))
      // star fixpoint: the (large ∘ small) round leaves the edge set
      // unchanged (both sets are distinct, so except is a set compare)
      stable = next.except(edges).isEmpty && edges.except(next).isEmpty
      edges = next
      round += 1
    }
    if (!stable)
      throw new IllegalStateException(
        s"starContraction did not stabilize in $maxRounds rounds — " +
          "beyond the O(log n) bound, so the edge set is likely malformed")
    // stars: (child, center) edges with child > center; centers label
    // themselves
    edges.select(col("u").as("node"), col("v").as("cluster_id"))
      .union(edges.select(col("v").as("node"), col("v").as("cluster_id")))
      .distinct()
  }

  // q56 — dedup clusters: transitive closure of the q22 LSH candidate
  // pairs, with cluster sizes. The DuckDB oracle computes the same
  // fixpoint declaratively via a recursive CTE (set-semantics UNION
  // terminates when no new (node, label) facts appear).
  val q56DedupClusters: QueryDef = QueryDef.sql(
    "q56_dedup_clusters",
    s"""WITH RECURSIVE ${Dedup.lshSigsSql},
       |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |          FROM sigs a JOIN sigs b
       |            ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
       |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
       |          UNION SELECT doc_b, doc_a FROM pairs),
       |reach(node, label) AS (
       |  SELECT u, u FROM edges
       |  UNION
       |  SELECT e.u, r.label FROM edges e JOIN reach r ON e.v = r.node),
       |labeled AS (SELECT node AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY 1)
       |SELECT l.doc_id, l.cluster_id, c.cluster_size
       |FROM labeled l
       |JOIN (SELECT cluster_id, COUNT(*) AS cluster_size FROM labeled GROUP BY 1) c
       |  USING (cluster_id)
       |ORDER BY l.doc_id""".stripMargin) { (s, d) =>
    val pairs = Dedup.lshSigs(s, d)
      .groupBy("band", "sig")
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) >= 2)
    val edges = Dedup.bucketPairs(pairs, "ids", "doc_a", "doc_b").distinct()
    val labels = connectedComponents(edges)
    val sizes = labels.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
    labels.select(col("node").as("doc_id"), col("cluster_id"))
      .join(sizes, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
      .orderBy("doc_id")
  }

  // q91 — embedding-dedup keep-list (the "SemDeDup" shape): transitive-
  // close the RP-LSH near-dup pairs (q90) into clusters and keep exactly
  // one representative per cluster — min vec_id, so the choice is
  // deterministic and needs no extra pass. Vectors in no pair are their
  // own (kept) cluster. This is the operator a training pipeline
  // actually runs: q90 finds the edges, this emits the keep/drop
  // decision per vector.
  //
  // Scale shape: q90's bucketed pair generation + q56's label
  // propagation (O(diameter) keyed shuffles, lineage-truncated) + one
  // broadcast-size left join back to the vector ids. The oracle runs
  // the identical closure as a recursive CTE over the identical
  // md5-derived hyperplanes.
  val q91EmbeddingDedup: QueryDef = QueryDef.sql(
    "q91_embedding_dedup",
    s"""WITH RECURSIVE ${Similarity.rpPairsSqlCte},
       |sel AS (SELECT vec_a, vec_b FROM pairs WHERE sim_raw > 0.3),
       |edges AS (SELECT vec_a AS eu, vec_b AS ev FROM sel
       |          UNION SELECT vec_b, vec_a FROM sel),
       |reach(node, label) AS (
       |  SELECT eu, eu FROM edges
       |  UNION
       |  SELECT e.eu, r.label FROM edges e JOIN reach r ON e.ev = r.node),
       |labeled AS (SELECT node, MIN(label) AS cluster_id FROM reach GROUP BY 1)
       |SELECT emb.vec_id,
       |       COALESCE(l.cluster_id, emb.vec_id) AS cluster_id,
       |       (COALESCE(l.cluster_id, emb.vec_id) = emb.vec_id) AS keep
       |FROM (SELECT vec_id FROM embeddings) emb
       |LEFT JOIN labeled l ON l.node = emb.vec_id
       |ORDER BY vec_id""".stripMargin) { (s, d) =>
    val sel = Similarity.rpPairs(s, d)
      .filter(col("sim_raw") > 0.3)
      .select(col("vec_a"), col("vec_b")).distinct()
    val labels = connectedComponents(sel)
    graft.engine.Tables.widen(graft.engine.Tables.embeddings(s, d))
      .select(col("vec_id"))
      .join(labels, col("vec_id") === col("node"), "left")
      .select(col("vec_id"),
        coalesce(col("cluster_id"), col("vec_id")).as("cluster_id"))
      .withColumn("keep", col("cluster_id") === col("vec_id"))
      .orderBy("vec_id")
  }

  // ---- q102: K-Means training (Lloyd's iterations) --------------------

  private val kDim = 64
  private val kIters = 3

  private def kAssignSql(n: Int, cprev: String): String =
    s"""a$n AS (SELECT vec_id, cid, dist FROM (
       |  SELECT vec_id, cid, dist,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
       |  FROM (SELECT q.vec_id, c.cid,
       |               CAST(list_sum(list_transform(range(1, ${kDim + 1}),
       |                 i -> (q.e[i] - c.c[i]) * (q.e[i] - c.c[i]))) AS BIGINT) AS dist
       |        FROM q, $cprev c)) WHERE rn = 1)""".stripMargin

  private def kUpdateSql(n: Int, aprev: String): String =
    s"""c$n AS (SELECT cid, list(s ORDER BY d) AS c FROM (
       |  SELECT a.cid, d, CAST(SUM(q.e[d]) AS BIGINT) // COUNT(*) AS s
       |  FROM $aprev a JOIN q USING (vec_id), range(1, ${kDim + 1}) g(d)
       |  GROUP BY a.cid, d) GROUP BY cid)""".stripMargin

  /** The shared training CTE chain (quantize → seed → `kIters`
    * assign/update rounds → final assignment `a{kIters+1}`), reused by
    * the q102 oracle and the q144 SemDeDup oracle.
    */
  private val kmeansCtesSql: String =
    s"""q AS (SELECT vec_id,
       |  list_transform(embedding,
       |    x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT) + 1000) AS e
       |  FROM embeddings),
       |c0 AS (SELECT vec_id AS cid, e AS c FROM q WHERE vec_id < 8),
       |${(1 to kIters).map(i => kAssignSql(i, s"c${i - 1}") + ",\n" + kUpdateSql(i, s"a$i")).mkString(",\n")},
       |${kAssignSql(kIters + 1, s"c$kIters")}""".stripMargin

  private val kFinal: String = s"a${kIters + 1}"

  private val kmeansOracleSql: String =
    s"""WITH $kmeansCtesSql
       |SELECT cid AS cluster_id, COUNT(*) AS n_assigned,
       |       CAST(SUM(vec_id) AS BIGINT) AS sum_vec_ids,
       |       CAST(SUM(dist) AS BIGINT) AS inertia
       |FROM $kFinal GROUP BY 1 ORDER BY 1""".stripMargin

  // q102 — K-Means TRAINING (3 Lloyd iterations, k = 8): the missing
  // half of q26's IVF index, which consumes fixed centroids. Embeddings
  // are quantized to integers first (round(x·1000)+1000 — non-negative,
  // so floor and truncating division agree cross-engine), making every
  // distance, comparison, and centroid update EXACT integer arithmetic:
  // the whole training loop verifies bit-for-bit against DuckDB, which
  // no float formulation can (summation-order nondeterminism). The same
  // quantize-then-train shape is how production ANN indexes (PQ/IVF)
  // train at scale anyway — q62 is the serving-side twin.
  //
  // Scale shape per iteration: assignment is a PURE PROJECTION — the k
  // centroids are driver-side literals (collected 8×64 longs, the same
  // per-round sync point MLlib's KMeans uses), argmin via least() over
  // k (dist, cid) structs, so no crossJoin row blowup, no shuffle; the
  // update is one 8-group partial-aggregated shuffle of 65 sums. At
  // 100 TB: cache the quantized input once, iterations then scan the
  // cached columnar blocks; nothing in the loop grows with k·n.
  /** The Spark-side training loop (quantize → cache → `kIters` Lloyd
    * rounds with an 8-row driver sync each) ending in the FINAL
    * assignment frame (vec_id, e, cid, dist) — shared by q102 (which
    * aggregates it) and q144 (which prunes within its clusters).
    * Minimum input: at least one of the seed vectors vec_id 0..7 — one
    * cluster per seed present.
    */
  private def kmeansAssignedFinal(s: SparkSession, d: String): DataFrame = {
    // materialize the quantized input ONCE (checkpoint-dir aware, like
    // the CC fixpoint): the loop's 3 sync collects + the final pass then
    // read columnar blocks instead of re-scanning + re-quantizing parquet
    val q = truncate(
      graft.engine.Tables.widen(graft.engine.Tables.embeddings(s, d))
        .select(col("vec_id"),
          transform(col("embedding"),
            x => round(x.cast("double") * 1000).cast("long") + 1000L).as("e")))

    def assigned(centroids: Seq[(Long, Seq[Long])]): DataFrame = {
      val scored = centroids.map { case (cid, c) =>
        val dist = aggregate(
          zip_with(col("e"), typedLit(c), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x)
        struct(dist.as("dist"), lit(cid).as("cid"))
      }
      val best = if (scored.size > 1) least(scored: _*) else scored.head
      q.select(col("vec_id"), col("e"),
        best.getField("cid").as("cid"), best.getField("dist").as("dist"))
    }

    var centroids: Seq[(Long, Seq[Long])] = q.filter(col("vec_id") < 8)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1))).toSeq
    require(centroids.nonEmpty,
      "k-means seeds its centroids from embeddings vec_id 0..7, and none " +
        "of them is present")

    for (_ <- 1 to kIters) {
      val aggs = count(lit(1)).as("n") +:
        (1 to kDim).map(i => sum(element_at(col("e"), i)).as(s"s$i"))
      centroids = assigned(centroids)
        .groupBy("cid").agg(aggs.head, aggs.tail: _*)
        .collect()
        .map { r =>
          val n = r.getLong(1)
          (r.getLong(0), (1 to kDim).map(i => Math.floorDiv(r.getLong(1 + i), n)))
        }
        .sortBy(_._1).toSeq
    }
    assigned(centroids)
  }

  val q102KmeansTrain: QueryDef = QueryDef.sql(
    "q102_kmeans_train", kmeansOracleSql) { (s, d) =>
    kmeansAssignedFinal(s, d)
      .groupBy("cid")
      .agg(count(lit(1)).as("n_assigned"),
        sum("vec_id").as("sum_vec_ids"),
        sum("dist").as("inertia"))
      .select(col("cid").as("cluster_id"), col("n_assigned"),
        col("sum_vec_ids"), col("inertia"))
      .orderBy("cluster_id")
  }

  // q144 — SemDeDup (Abbas et al. 2023): SEMANTIC dedup by
  // cluster-then-prune — k-means partitions the embedding space, then
  // near-duplicates are searched ONLY within each cluster, turning the
  // quadratic all-pairs problem into k independent, bounded blocks.
  // This is the third embedding-dedup blocking scheme in the suite, by
  // design: q25 is the exact quadratic kernel, q90/q91 block by RP-LSH
  // collision (recall bounded by band collisions), q144 blocks by
  // learned cluster structure (the paper's observation: semantic dups
  // co-locate in cluster space, so pruning inside clusters catches what
  // hash collisions miss). A vector is pruned when a same-cluster
  // vector with a SMALLER id is cosine-similar above τ = 0.35 (q25's
  // signal band for this corpus); the witness (smallest such id) rides
  // along. Clusters come from q102's exact integer training, and the
  // similarity test is exact integer arithmetic in a coarser
  // quantized space (round(x·100): every cross-product stays in
  // BIGINT), with the τ compare as an integer cross-product —
  // dot² · 10⁴ ≥ 1225 · |a|² · |b|² — so both engines agree bit-exactly.
  //
  // Scale shape: training is q102's loop (cached input, 8-row syncs);
  // assignment is a projection; the pairwise stage shuffles by cid ONCE
  // and is quadratic only within a cluster — the paper's cost model,
  // bounded by choosing k ∝ corpus size (production runs ~100k
  // clusters; a skewed mega-cluster gets sub-split or capped, the
  // q110/q120 discipline). Nothing global is ever all-pairs.
  val q144SemDedup: QueryDef = QueryDef.sql(
    "q144_semdedup",
    s"""WITH $kmeansCtesSql,
       |f AS (SELECT vec_id, list_transform(embedding,
       |        x -> CAST(round(CAST(x AS DOUBLE) * 100) AS BIGINT)) AS f
       |      FROM embeddings),
       |fn AS (SELECT vec_id, f,
       |         CAST(list_sum(list_transform(f, x -> x * x)) AS BIGINT) AS n2
       |       FROM f),
       |av AS (SELECT a.vec_id, a.cid, fn.f, fn.n2
       |       FROM $kFinal a JOIN fn USING (vec_id)),
       |pd AS (SELECT x.vec_id AS va, y.vec_id AS vb,
       |              CAST(list_sum(list_transform(range(1, ${kDim + 1}),
       |                i -> x.f[i] * y.f[i])) AS BIGINT) AS dot,
       |              x.n2 AS na, y.n2 AS nb
       |       FROM av x JOIN av y ON x.cid = y.cid AND y.vec_id < x.vec_id),
       |p AS (SELECT va AS vec_id, MIN(vb) AS dup_of FROM pd
       |      WHERE dot > 0 AND dot * dot * 10000 >= 1225 * na * nb
       |      GROUP BY 1)
       |SELECT av.vec_id, av.cid AS cluster_id, p.dup_of,
       |       (p.dup_of IS NOT NULL) AS is_dup
       |FROM av LEFT JOIN p USING (vec_id)
       |ORDER BY vec_id""".stripMargin) { (s, d) =>
    val f = graft.engine.Tables.widen(graft.engine.Tables.embeddings(s, d))
      .select(col("vec_id"),
        transform(col("embedding"),
          x => round(x.cast("double") * 100).cast("long")).as("f"))
      .withColumn("n2", aggregate(col("f"), lit(0L), (acc, x) => acc + x * x))
    val av = kmeansAssignedFinal(s, d).select("vec_id", "cid").join(f, "vec_id")
    val x = av.select(col("vec_id").as("va"), col("cid"),
      col("f").as("fa"), col("n2").as("na"))
    val y = av.select(col("vec_id").as("vb"), col("cid"),
      col("f").as("fb"), col("n2").as("nb"))
    val dot = aggregate(zip_with(col("fa"), col("fb"), (p, q) => p * q),
      lit(0L), (acc, v) => acc + v)
    val dup = x.join(y, "cid").filter(col("vb") < col("va"))
      .withColumn("dot", dot)
      .filter(col("dot") > 0 &&
        col("dot") * col("dot") * lit(10000L) >= lit(1225L) * col("na") * col("nb"))
      .groupBy(col("va").as("vec_id")).agg(min("vb").as("dup_of"))
    av.select("vec_id", "cid").join(dup, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid").as("cluster_id"), col("dup_of"),
        col("dup_of").isNotNull.as("is_dup"))
      .orderBy("vec_id")
  }

  /** One unrolled PageRank round over (e: src,dst,deg | r{i-1}: doc_id,r):
    * inflow = Σ floor(r/deg) over in-edges, new rank = 150000 +
    * floor(85·inflow/100) — all floor-div on non-negative BIGINTs, so
    * both engines agree bit-for-bit.
    */
  private def prIterSql(i: Int): String =
    s"""r$i AS (
       |  SELECT n.doc_id,
       |         CAST(150000 + ((85 * COALESCE(x.inflow, 0)) // 100) AS BIGINT) AS r
       |  FROM n LEFT JOIN (
       |    SELECT e.dst AS doc_id, SUM(p.r // e.deg) AS inflow
       |    FROM e JOIN r${i - 1} p ON e.src = p.doc_id
       |    GROUP BY 1) x ON n.doc_id = x.doc_id)""".stripMargin

  // q145 — PageRank over the NEAR-DUP graph: rank documents by
  // centrality among their q22 LSH candidate neighbors — the canonical-
  // representative score (the doc most other dups point at is the hub a
  // keep-list should prefer; complements q135's quality ranking with a
  // structural signal). Classic damped PageRank (d = 0.85, 3 unrolled
  // rounds, rank-sink variant: isolated docs keep the base rank), run
  // entirely in FIXED-POINT integer arithmetic — ranks in parts-per-
  // million, every division a floor-div of non-negative BIGINTs — so the
  // iterative float algorithm verifies bit-exactly against DuckDB
  // (the q102 quantize-then-iterate discipline applied to a graph
  // fixpoint). This is the suite's iterative GRAPH algorithm beyond the
  // connected-components family (q56/q91): CC answers "which dups form
  // one family", PageRank answers "who is the family's center".
  //
  // Scale shape: edges derive from LSH buckets (bounded in-reducer
  // pairs, never a corpus self-join); the edge list materializes ONCE
  // (lineage-truncated, like the CC fixpoint) with degree attached;
  // each round is the canonical Pregel-on-DataFrame pair of keyed
  // shuffles (join ranks to edges on src, aggregate inflow by dst) —
  // nothing grows with iteration count, and the unrolled-3 here is a
  // `while` with convergence checks in production, same plan per round.
  val q145DupPagerank: QueryDef = QueryDef.sql(
    "q145_dup_pagerank",
    s"""WITH ${Dedup.lshSigsSql},
       |pe AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
       |       FROM sigs a JOIN sigs b
       |         ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
       |ed AS (SELECT a AS src, b AS dst FROM pe UNION ALL SELECT b, a FROM pe),
       |dg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM ed GROUP BY 1),
       |e AS (SELECT ed.src, ed.dst, dg.deg FROM ed JOIN dg USING (src)),
       |n AS (SELECT doc_id FROM documents),
       |r0 AS (SELECT doc_id, CAST(1000000 AS BIGINT) AS r FROM n),
       |${(1 to 3).map(prIterSql).mkString(",\n")}
       |SELECT r3.doc_id, COALESCE(dg.deg, 0) AS deg, r3.r AS rank_ppm
       |FROM r3 LEFT JOIN dg ON r3.doc_id = dg.src
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val buckets = Dedup.lshSigs(s, d).groupBy("band", "sig")
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) >= 2)
    val pe = Dedup.bucketPairs(buckets, "ids", "a", "b").distinct()
    val eRaw = pe.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(pe.select(col("b").as("src"), col("a").as("dst")))
    val deg = eRaw.groupBy("src").agg(count(lit(1)).as("deg"))
    // materialize (src, dst, deg) once: every round re-reads this,
    // and the LSH subtree must not re-execute per iteration
    val e = truncate(eRaw.join(deg, "src"))
    // the doc spine is read once and materialized: it re-enters the plan
    // on every round's left join (4 uses) and must not re-scan parquet
    val n = truncate(
      graft.engine.Tables.widen(graft.engine.Tables.documents(s, d))
        .select("doc_id"))
    var r = n.select(col("doc_id"), lit(1000000L).as("r"))
    for (_ <- 1 to 3) {
      val inflow = e.join(r.withColumnRenamed("doc_id", "src"), "src")
        .select(col("dst").as("doc_id"), expr("r div deg").as("c"))
        .groupBy("doc_id").agg(sum("c").as("inflow"))
      r = n.join(inflow, Seq("doc_id"), "left")
        .select(col("doc_id"),
          (lit(150000L) + expr("(85 * coalesce(inflow, 0L)) div 100")).as("r"))
    }
    r.join(deg.withColumnRenamed("src", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("deg"), lit(0L)).as("deg"),
        col("r").as("rank_ppm"))
      .orderBy("doc_id")
  }

  // q108 — LEAKAGE-SAFE train split [EXT, north star]: q100 splits by
  // doc_id, which silently leaks — two near-duplicate documents can land
  // one in train, one in test, and the eval score measures memorization
  // of the duplicate, not generalization. The fix every careful pipeline
  // runs: split by the DEDUP CLUSTER, not the document — hash the
  // cluster representative (q56's transitive closure of the LSH pairs;
  // singletons are their own cluster), so an entire near-dup family
  // lands in one fold by construction. ClusteringSpec pins the invariant
  // directly: no cluster spans two splits.
  //
  // Scale shape: q56's label propagation (the closure is already needed
  // for dedup reporting — at scale compute it once, reuse here), one
  // broadcast-size left join of the (small) labeled set back to the doc
  // scan, then a projection-time md5-bucket decision identical to q100's
  // kernel. No new shuffle class beyond what q56 already pays.
  val q108LeakageSafeSplit: QueryDef = QueryDef.sql(
    "q108_leakage_safe_split",
    s"""WITH RECURSIVE ${Dedup.lshSigsSql},
       |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |          FROM sigs a JOIN sigs b
       |            ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
       |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
       |          UNION SELECT doc_b, doc_a FROM pairs),
       |reach(node, label) AS (
       |  SELECT u, u FROM edges
       |  UNION
       |  SELECT e.u, r.label FROM edges e JOIN reach r ON e.v = r.node),
       |labeled AS (SELECT node AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY 1),
       |cl AS (SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS cluster_id
       |       FROM documents d LEFT JOIN labeled l USING (doc_id)),
       |b AS (SELECT doc_id, cluster_id,
       |             CAST(concat('0x', substr(md5(CAST(cluster_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS bucket
       |      FROM cl)
       |SELECT doc_id, cluster_id,
       |       CASE WHEN bucket < 90 THEN 'train'
       |            WHEN bucket < 95 THEN 'val'
       |            ELSE 'test' END AS split
       |FROM b
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val pairs = Dedup.lshSigs(s, d)
      .groupBy("band", "sig")
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) >= 2)
    val edges = Dedup.bucketPairs(pairs, "ids", "doc_a", "doc_b").distinct()
    val labels = connectedComponents(edges)
      .select(col("node").as("doc_id"), col("cluster_id"))
    val bucket = Corpus.md5Bucket(col("cluster_id").cast("string"), 100L)
    graft.engine.Tables.widen(graft.engine.Tables.documents(s, d))
      .select("doc_id")
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      .select(col("doc_id"), col("cluster_id"),
        when(bucket < 90, "train").when(bucket < 95, "val")
          .otherwise("test").as("split"))
      .orderBy("doc_id")
  }

  // q135 — quality-preferred dedup representative: q56's clusters, but
  // the kept doc per cluster is the HIGHEST-QUALITY member (q28's exact
  // score, doc_id tiebreak), not the min id. This is how curation teams
  // actually dedup — dropping a clean original in favor of a mangled
  // low-id copy is a real quality regression min-id keep-lists silently
  // commit. Singletons keep themselves.
  //
  // Scale shape: q56's bucketed pair generation + label propagation,
  // plus ONE cluster-keyed window for the argmax (same shuffle key as
  // the cluster agg — no extra exchange family) and the q28 score as a
  // zero-shuffle projection. Ranking by a computed double is safe here
  // because q28's hash-verified parity pins the score bit-identical in
  // both engines, and doc_id breaks exact ties deterministically.
  val q135QualityKeep: QueryDef = QueryDef.sql(
    "q135_quality_keep",
    s"""WITH RECURSIVE ${Dedup.lshSigsSql},
       |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |          FROM sigs a JOIN sigs b
       |            ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
       |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
       |          UNION SELECT doc_b, doc_a FROM pairs),
       |reach(node, label) AS (
       |  SELECT u, u FROM edges
       |  UNION
       |  SELECT e.u, r.label FROM edges e JOIN reach r ON e.v = r.node),
       |labeled AS (SELECT node AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY 1),
       |${TextAnalysis.qualitySqlCtes},
       |asg AS (SELECT d.doc_id,
       |               COALESCE(l.cluster_id, d.doc_id) AS cluster_id,
       |               q.quality_score
       |        FROM (SELECT doc_id FROM documents) d
       |        LEFT JOIN labeled l USING (doc_id)
       |        JOIN qual q USING (doc_id))
       |SELECT doc_id, cluster_id, quality_score,
       |       (row_number() OVER (PARTITION BY cluster_id
       |                           ORDER BY quality_score DESC, doc_id) = 1) AS keep
       |FROM asg
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val pairs = Dedup.lshSigs(s, d)
      .groupBy("band", "sig")
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) >= 2)
    val edges = Dedup.bucketPairs(pairs, "ids", "doc_a", "doc_b").distinct()
    val labels = connectedComponents(edges)
    val best = Window.partitionBy(col("cluster_id"))
      .orderBy(col("quality_score").desc, col("doc_id"))
    TextAnalysis.qualityScored(s, d)
      .select(col("doc_id"), col("quality_score"))
      .join(labels, col("doc_id") === col("node"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
        col("quality_score"))
      .withColumn("keep", row_number().over(best) === 1)
      .orderBy("doc_id")
  }

  // q198 — TRIANGLE COUNT + local clustering coefficient over the
  // near-dup graph: the third graph lens after q56/q91 (connected
  // components — "which dups form one family") and q145 (PageRank —
  // "who is the family's center"): triangles measure how DENSE a
  // family is. A high-clustering doc sits in a tight mutual-duplicate
  // clique (template spam, boilerplate farms — safe to collapse hard);
  // a high-degree low-clustering doc is a hub stitching unrelated
  // near-dups (usually a short/generic document whose signature
  // collides widely — a candidate for manual review, not bulk
  // deletion). Node-iterator triangle enumeration on ordered edges
  // (a<b<c): wedges from joining the ordered edge list to itself on
  // the middle vertex, closed by a hash join against the same list —
  // the standard distributed algorithm; exactly-once per triangle by
  // the total order. Counts are exact integers; the coefficient
  // 2T/(deg·(deg−1)) divides the SAME integers as IEEE doubles on both
  // engines (the q167 determinism discipline).
  //
  // Scale shape: edges derive from LSH buckets (bounded in-reducer
  // pairs — never a corpus self-join) and materialize ONCE
  // (lineage-truncated, reused by the wedge join, the closing join,
  // and the degree count); all three joins are keyed shuffles on edge
  // endpoints, so work is Σ deg(v)² over bucket-bounded degrees — the
  // wedge space of the DUP graph, not the corpus. At 100 TB add the
  // standard high-degree mitigation (cap or sample hub wedges); the
  // bucket-size bound the LSH family already enforces keeps degrees
  // small here by construction.
  val q198DupTriangles: QueryDef = QueryDef.sql(
    "q198_dup_triangles",
    s"""WITH ${Dedup.lshSigsSql},
       |pe AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
       |       FROM sigs a JOIN sigs b
       |         ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
       |ed AS (SELECT a AS src, b AS dst FROM pe UNION ALL SELECT b, a FROM pe),
       |dg AS (SELECT src AS doc_id, CAST(COUNT(*) AS BIGINT) AS deg FROM ed GROUP BY 1),
       |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
       |        FROM pe e1 JOIN pe e2 ON e1.b = e2.a
       |        JOIN pe e3 ON e3.a = e1.a AND e3.b = e2.b),
       |pt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
       |         SELECT x AS doc_id FROM tri
       |         UNION ALL SELECT y FROM tri
       |         UNION ALL SELECT z FROM tri) GROUP BY 1)
       |SELECT d.doc_id, d.deg, COALESCE(p.n_tri, 0) AS n_tri,
       |       CASE WHEN d.deg >= 2
       |            THEN CAST(2 * COALESCE(p.n_tri, 0) AS DOUBLE)
       |               / CAST(d.deg * (d.deg - 1) AS DOUBLE)
       |            ELSE CAST(0 AS DOUBLE) END AS clustering
       |FROM dg d LEFT JOIN pt p USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
    val buckets = Dedup.lshSigs(s, d).groupBy("band", "sig")
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) >= 2)
    // ordered edge list (a < b by sort_array construction), used 3×:
    // wedge join, closing join, degree — materialize once
    val pe = truncate(Dedup.bucketPairs(buckets, "ids", "a", "b").distinct())
    val deg = pe.select(col("a").as("doc_id"))
      .unionAll(pe.select(col("b").as("doc_id")))
      .groupBy("doc_id").agg(count(lit(1)).as("deg"))
    val wedges = pe.toDF("x", "y")
      .join(pe.toDF("y", "z"), "y")
    val tri = wedges.join(pe.toDF("x", "z"), Seq("x", "z"), "left_semi")
    // one pass over the triangle stream: each triangle credits its three
    // corners via explode, not a 3-way union (which would re-enumerate
    // the wedge join three times)
    val perNode = tri
      .select(explode(array(col("x"), col("y"), col("z"))).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_tri"))
    deg.join(perNode, Seq("doc_id"), "left")
      .select(col("doc_id"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        when(col("deg") >= 2,
          (lit(2L) * coalesce(col("n_tri"), lit(0L))).cast("double") /
            (col("deg") * (col("deg") - 1)).cast("double"))
          .otherwise(lit(0.0)).as("clustering"))
      .orderBy("doc_id")
  }

  /** Iterative k-core peel over an undirected (a < b) edge list:
    * repeatedly drop nodes whose degree among SURVIVORS is < k, up to
    * `rounds` times or until the survivor set stops shrinking. Returns
    * (doc_id, deg0, deg_core) for nodes in the k-core. Per round: two
    * semi-joins to keep survivor-survivor edges + one keyed degree agg —
    * the canonical Pregel-pair shape, lineage truncated every round
    * (the q56/q145 discipline). Rounds needed = the graph's "degeneracy
    * depth", which for LSH dup graphs is tiny (chains peel from the
    * ends inward); ClusteringSpec proves the gate's round budget reaches
    * the true fixpoint at test scale.
    */
  private[operators] def kcorePeel(edgesAB: DataFrame, k: Int, rounds: Int)
      : DataFrame = {
    val pe = truncate(edgesAB.toDF("a", "b"))
    def degrees(edges: DataFrame): DataFrame =
      edges.select(col("a").as("doc_id"))
        .unionAll(edges.select(col("b").as("doc_id")))
        .groupBy("doc_id").agg(count(lit(1)).as("deg"))
    val deg0 = truncate(degrees(pe))
    var alive = deg0.filter(col("deg") >= k).select("doc_id")
    var aliveEdges = pe
    var lastCount = -1L
    var r = 1
    var curCount = alive.count()
    while (r < rounds && curCount != lastCount) {
      aliveEdges = truncate(
        aliveEdges
          .join(alive.toDF("a"), Seq("a"), "left_semi")
          .join(alive.toDF("b"), Seq("b"), "left_semi"))
      alive = degrees(aliveEdges).filter(col("deg") >= k).select("doc_id")
      lastCount = curCount
      curCount = alive.count()
      r += 1
    }
    val finalEdges = aliveEdges
      .join(alive.toDF("a"), Seq("a"), "left_semi")
      .join(alive.toDF("b"), Seq("b"), "left_semi")
    degrees(finalEdges).filter(col("deg") >= k)
      .toDF("doc_id", "deg_core")
      .join(deg0, Seq("doc_id"))
      .select(col("doc_id"), col("deg").as("deg0"), col("deg_core"))
  }

  // q239 — K-CORE of the near-dup graph (the density lens that completes
  // the graph-analytics triad: q56/q91 CC answers "which dup family",
  // q145 PageRank "who is its center", triangles q198 "how cliquish" —
  // the 2-core answers "which part is STRUCTURALLY redundant": a node
  // survives only while ≥ k of its neighbors survive, so pendant
  // chains/leaves peel away and what remains is the mutually-reinforcing
  // dup mass a keep-list should treat as one unit). Edges from the same
  // LSH buckets as q145/q198 (never a corpus self-join); the peel is
  // iterative DELETION — each round two survivor semi-joins + one degree
  // agg, the same per-round shuffle budget as a CC round. The GATE runs
  // the peel to its fixpoint (the driver-side convergence check is a
  // 1-row count, the k-means model-sync pattern) and the oracle unrolls
  // FOUR peel rounds as CTEs — ClusteringSpec proves four rounds reach
  // the fixpoint on this data, and a plain-Scala reference recomputes
  // the core exactly.
  val q239Kcore: QueryDef = QueryDef.sql(
    "q239_kcore",
    s"""WITH ${Dedup.lshSigsSql},
       |pe AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
       |       FROM sigs a JOIN sigs b
       |         ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
       |ed AS (SELECT a AS s, b AS t FROM pe UNION ALL SELECT b, a FROM pe),
       |d0 AS (SELECT s AS id, CAST(COUNT(*) AS BIGINT) AS dg FROM ed GROUP BY 1),
       |a0 AS (SELECT id FROM d0 WHERE dg >= 2),
       |d1 AS (SELECT e.s AS id, CAST(COUNT(*) AS BIGINT) AS dg FROM ed e
       |       JOIN a0 x ON e.s = x.id JOIN a0 y ON e.t = y.id GROUP BY 1),
       |a1 AS (SELECT id FROM d1 WHERE dg >= 2),
       |d2 AS (SELECT e.s AS id, CAST(COUNT(*) AS BIGINT) AS dg FROM ed e
       |       JOIN a1 x ON e.s = x.id JOIN a1 y ON e.t = y.id GROUP BY 1),
       |a2 AS (SELECT id FROM d2 WHERE dg >= 2),
       |d3 AS (SELECT e.s AS id, CAST(COUNT(*) AS BIGINT) AS dg FROM ed e
       |       JOIN a2 x ON e.s = x.id JOIN a2 y ON e.t = y.id GROUP BY 1),
       |a3 AS (SELECT id FROM d3 WHERE dg >= 2)
       |SELECT a3.id AS doc_id, d0.dg AS deg0, d3.dg AS deg_core
       |FROM a3 JOIN d3 ON a3.id = d3.id JOIN d0 ON a3.id = d0.id
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val buckets = Dedup.lshSigs(s, d).groupBy("band", "sig")
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) >= 2)
    val pe = Dedup.bucketPairs(buckets, "ids", "a", "b").distinct()
    kcorePeel(pe, k = 2, rounds = 8).orderBy("doc_id")
  }

  // q248 — PERCEPTRON TRAINING, distributed and integer-exact (the
  // fastText-style linear quality/language classifier a curation
  // pipeline trains over surface features — the TRAINED counterpart of
  // q123's hand-weighted scorer, and the classification sibling of
  // q102's k-means: same architecture, per-epoch map-side-combinable
  // gradient aggregate + a 1-row driver model sync): batch perceptron,
  // w ← w + Σ_{misclassified} y·x per epoch, labels y = ±1 for
  // lang='en', five integer features (bias, capped length/token/digit
  // counts, ' the ' occurrences — the capping bounds every sum far
  // below overflow). With w₀ = 0 every margin starts at 0 ≤ 0, so
  // epoch 1's gradient is Σ y·x over ALL docs — deterministic
  // throughout, which is what lets DuckDB replay THREE FULL TRAINING
  // EPOCHS as unrolled CTEs and hash-match the weight trajectory, not
  // just the final fit. Per epoch: one scan + one 6-value aggregate;
  // nothing driver-side but the 6-value model.
  private def perceptronFeatures(s: SparkSession, d: String) =
    Tables.widen(Tables.documents(s, d)).selectExpr(
      "CASE WHEN lang = 'en' THEN 1L ELSE -1L END AS y",
      "1L AS x0",
      "least(n_chars div 100, 50L) AS x1",
      "least(size(filter(split(text, ' '), t -> t <> '')) div 10, 50L) AS x2",
      "least(length(text) - length(regexp_replace(text, '[0-9]', '')), 50L) AS x3",
      "least((length(text) - length(replace(text, ' the ', ''))) div 5, 50L) AS x4")

  val q248Perceptron: QueryDef = QueryDef.sql(
    "q248_perceptron",
    """WITH f AS (SELECT CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y,
      |    1 AS x0,
      |    least(n_chars // 100, 50) AS x1,
      |    least(len(list_filter(string_split(text, ' '), t -> t <> '')) // 10, 50) AS x2,
      |    least(len(text) - len(regexp_replace(text, '[0-9]', '', 'g')), 50) AS x3,
      |    least((len(text) - len(replace(text, ' the ', ''))) // 5, 50) AS x4
      |  FROM documents),
      |s1 AS (SELECT CAST(count(*) AS BIGINT) AS n_wrong,
      |              CAST(sum(y*x0) AS BIGINT) AS w0, CAST(sum(y*x1) AS BIGINT) AS w1,
      |              CAST(sum(y*x2) AS BIGINT) AS w2, CAST(sum(y*x3) AS BIGINT) AS w3,
      |              CAST(sum(y*x4) AS BIGINT) AS w4 FROM f),
      |m2 AS (SELECT f.*, w.w0, w.w1, w.w2, w.w3, w.w4 FROM f, s1 w),
      |s2 AS (SELECT CAST(count(*) FILTER (y*(w0*x0+w1*x1+w2*x2+w3*x3+w4*x4) <= 0) AS BIGINT) AS n_wrong,
      |              w0 + CAST(coalesce(sum(y*x0) FILTER (y*(w0*x0+w1*x1+w2*x2+w3*x3+w4*x4) <= 0), 0) AS BIGINT) AS w0,
      |              w1 + CAST(coalesce(sum(y*x1) FILTER (y*(w0*x0+w1*x1+w2*x2+w3*x3+w4*x4) <= 0), 0) AS BIGINT) AS w1,
      |              w2 + CAST(coalesce(sum(y*x2) FILTER (y*(w0*x0+w1*x1+w2*x2+w3*x3+w4*x4) <= 0), 0) AS BIGINT) AS w2,
      |              w3 + CAST(coalesce(sum(y*x3) FILTER (y*(w0*x0+w1*x1+w2*x2+w3*x3+w4*x4) <= 0), 0) AS BIGINT) AS w3,
      |              w4 + CAST(coalesce(sum(y*x4) FILTER (y*(w0*x0+w1*x1+w2*x2+w3*x3+w4*x4) <= 0), 0) AS BIGINT) AS w4
      |       FROM m2 GROUP BY w0, w1, w2, w3, w4),
      |m3 AS (SELECT f.*, w.w0, w.w1, w.w2, w.w3, w.w4 FROM f, s2 w),
      |s3 AS (SELECT CAST(count(*) FILTER (y*(w0*x0+w1*x1+w2*x2+w3*x3+w4*x4) <= 0) AS BIGINT) AS n_wrong,
      |              w0 + CAST(coalesce(sum(y*x0) FILTER (y*(w0*x0+w1*x1+w2*x2+w3*x3+w4*x4) <= 0), 0) AS BIGINT) AS w0,
      |              w1 + CAST(coalesce(sum(y*x1) FILTER (y*(w0*x0+w1*x1+w2*x2+w3*x3+w4*x4) <= 0), 0) AS BIGINT) AS w1,
      |              w2 + CAST(coalesce(sum(y*x2) FILTER (y*(w0*x0+w1*x1+w2*x2+w3*x3+w4*x4) <= 0), 0) AS BIGINT) AS w2,
      |              w3 + CAST(coalesce(sum(y*x3) FILTER (y*(w0*x0+w1*x1+w2*x2+w3*x3+w4*x4) <= 0), 0) AS BIGINT) AS w3,
      |              w4 + CAST(coalesce(sum(y*x4) FILTER (y*(w0*x0+w1*x1+w2*x2+w3*x3+w4*x4) <= 0), 0) AS BIGINT) AS w4
      |       FROM m3 GROUP BY w0, w1, w2, w3, w4)
      |SELECT * FROM (
      |  SELECT CAST(1 AS BIGINT) AS epoch, n_wrong, w0, w1, w2, w3, w4 FROM s1
      |  UNION ALL SELECT 2, n_wrong, w0, w1, w2, w3, w4 FROM s2
      |  UNION ALL SELECT 3, n_wrong, w0, w1, w2, w3, w4 FROM s3)
      |ORDER BY epoch""".stripMargin) { (s, d) =>
    val f = perceptronFeatures(s, d).persist()
    try {
      val xs = (0 to 4).map(i => col(s"x$i"))
      var w = Array.fill(5)(0L)
      val rows = (1 to 3).map { epoch =>
        val margin = col("y") *
          xs.zipWithIndex.map { case (x, i) => x * lit(w(i)) }.reduce(_ + _)
        val wrong = when(margin <= 0, 1L).otherwise(0L)
        val agg = f.agg(
          sum(wrong).as("n_wrong"),
          xs.zipWithIndex.map { case (x, i) =>
            sum(when(margin <= 0, col("y") * x).otherwise(0L)).as(s"g$i")
          }: _*).collect()(0)
        val nWrong = agg.getLong(0)
        w = w.zipWithIndex.map { case (wi, i) => wi + agg.getLong(i + 1) }
        (epoch.toLong, nWrong, w(0), w(1), w(2), w(3), w(4))
      }
      import s.implicits._
      rows.toDF("epoch", "n_wrong", "w0", "w1", "w2", "w3", "w4")
        .orderBy("epoch")
    } finally f.unpersist()
  }

  val all: Seq[QueryDef] = Seq(q56DedupClusters, q91EmbeddingDedup,
    q102KmeansTrain, q108LeakageSafeSplit, q135QualityKeep, q144SemDedup,
    q145DupPagerank, q198DupTriangles, q239Kcore, q248Perceptron)
}

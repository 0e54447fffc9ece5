package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.engine.{QueryDef, Tables}
import graft.functions.{GraftFunctions, VectorOps}

/** Embedding similarity search [EXT, north star]: brute-force cosine top-k
  * as the exact baseline and an IVF-style partition-pruned variant as the
  * scale path.
  *
  * 100 TB design: the query vector(s) are broadcast; the scan side streams
  * once computing the dot product inside codegen; top-k is per-partition
  * top-k + a k-sized driver merge (TakeOrderedAndProject), never a full
  * sort. The IVF variant adds a centroid-assignment column at write time
  * (or one linear pass), so a probe prunes to matching centroid partitions
  * — the classic inverted-file layout expressed as partition pruning.
  */
object Similarity {

  private def embDouble(s: SparkSession, d: String): DataFrame =
    Tables.widen(Tables.embeddings(s, d))
      .select(col("vec_id"), col("label"), VectorOps.toDouble(col("embedding")).as("e"))

  /** Codegen'd single-pass cosine (bit-identical to [[VectorOps.cosine]],
    * ~3-4× faster on the probe kernel).
    */
  private def cos(a: Column, b: Column): Column = GraftFunctions.cosine(a, b)

  // q18 — brute-force cosine top-10 for query vector vec_id = 0. Raw
  // (unrounded) similarity drives the ordering; the emitted value is
  // rounded to 4 dp so engine-level 1-ulp summation differences (Spark
  // folds sequentially; DuckDB's list_cosine_similarity may not) cannot
  // flip the compare.
  val q18Similarity: QueryDef = QueryDef.sql(
    "q18_similarity",
    """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0)
      |SELECT e.vec_id, round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qe), 4) AS sim
      |FROM embeddings e, q
      |WHERE e.vec_id <> 0
      |ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qe) DESC, e.vec_id
      |LIMIT 10""".stripMargin) { (s, d) =>
    val emb = embDouble(s, d)
    val q = emb.filter(col("vec_id") === 0).select(col("e").as("qe"))
    emb.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), cos(col("e"), col("qe")).as("sim_raw"))
      .orderBy(col("sim_raw").desc, col("vec_id"))
      .limit(10)
      .select(col("vec_id"), round(col("sim_raw"), 4).as("sim"))
  }

  // q25 — embedding-cosine near-dup pairs over a bounded id range (the
  // exact quadratic kernel; the LSH/IVF variants below are the scale path —
  // at 100 TB you never run the all-pairs form unbucketed).
  val q25EmbeddingNearDup: QueryDef = QueryDef.sql(
    "q25_embedding_neardup",
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings WHERE vec_id < 300)
      |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |       round(list_cosine_similarity(a.e, b.e), 4) AS sim
      |FROM v a JOIN v b ON a.vec_id < b.vec_id
      |WHERE list_cosine_similarity(a.e, b.e) > 0.3
      |ORDER BY vec_a, vec_b""".stripMargin) { (s, d) =>
    val v = embDouble(s, d).filter(col("vec_id") < 300).select("vec_id", "e")
    val a = v.select(col("vec_id").as("vec_a"), col("e").as("ea"))
    val b = v.select(col("vec_id").as("vec_b"), col("e").as("eb"))
    val sim = cos(col("ea"), col("eb"))
    a.join(broadcast(b), col("vec_a") < col("vec_b"))
      .withColumn("sim_raw", sim)
      .filter(col("sim_raw") > 0.3)
      .select(col("vec_a"), col("vec_b"), round(col("sim_raw"), 4).as("sim"))
      .orderBy("vec_a", "vec_b")
  }

  // q26 — IVF-style ANN: vectors 0..7 serve as deterministic "trained"
  // centroids; every vector is assigned to its max-dot-product centroid
  // (one linear pass against a broadcast centroid table); the probe for
  // query vec_id = 0 then searches ONLY its centroid's bucket. This is the
  // partition-pruning form of inverted-file search.
  val q26AnnIvf: QueryDef = QueryDef.sql(
    "q26_ann_ivf",
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |c AS (SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id < 8),
      |assign AS (
      |  SELECT vec_id, cid, e FROM (
      |    SELECT v.vec_id, c.cid, v.e,
      |           row_number() OVER (PARTITION BY v.vec_id
      |             ORDER BY list_dot_product(v.e, c.ce) DESC, c.cid) AS rn
      |    FROM v, c) WHERE rn = 1),
      |qc AS (SELECT cid AS qcid, e AS qe FROM assign WHERE vec_id = 0)
      |SELECT a.vec_id, round(list_cosine_similarity(a.e, qc.qe), 4) AS sim
      |FROM assign a, qc
      |WHERE a.cid = qc.qcid AND a.vec_id <> 0
      |ORDER BY list_cosine_similarity(a.e, qc.qe) DESC, a.vec_id
      |LIMIT 10""".stripMargin) { (s, d) =>
    val v = embDouble(s, d).select("vec_id", "e")
    val c = v.filter(col("vec_id") < 8).select(col("vec_id").as("cid"), col("e").as("ce"))
    val assign = assignCentroids(v, c)
    val qc = assign.filter(col("vec_id") === 0)
      .select(col("cid").as("qcid"), col("e").as("qe"))
    assign.join(broadcast(qc), col("cid") === col("qcid"))
      .filter(col("vec_id") =!= 0)
      .withColumn("sim_raw", cos(col("e"), col("qe")))
      .orderBy(col("sim_raw").desc, col("vec_id"))
      .limit(10)
      .select(col("vec_id"), round(col("sim_raw"), 4).as("sim"))
  }

  /** q26's assignment stage, standalone: each (vec_id, e) vector gets
    * its max-dot-product centroid from the broadcast (cid, ce) table.
    * Argmax via a map-side max(struct(dot, -cid)) partial aggregate: the
    * shuffle carries one row per vector, not one per (vector, centroid)
    * — 8× less than the row_number-window formulation, same
    * deterministic tie-break (highest dot, then lowest centroid id).
    * Written out with `partitionBy("cid")` this IS the inverted file:
    * a probe prunes to its centroid's directory at planning time
    * (PlanSpec pins the partitioned-serving layout).
    */
  def assignCentroids(v: DataFrame, c: DataFrame): DataFrame =
    v.crossJoin(broadcast(c))
      .select(col("vec_id"), col("e"), col("cid"),
        VectorOps.dot(col("e"), col("ce")).as("dot"))
      .groupBy("vec_id")
      .agg(
        max(struct(col("dot"), (-col("cid")).as("negcid"))).as("m"),
        first(col("e")).as("e"))
      .select(col("vec_id"), (-col("m.negcid")).as("cid"), col("e"))

  /** Deterministic ±1 hyperplane component for random-projection LSH:
    * md5("j-d") decides the sign, so the DuckDB oracle reproduces the
    * identical hyperplanes (same UTF-8 bytes, same hex prefix — the q67
    * kernel applied to LSH randomness).
    */
  private def rpSign(j: Int, d: Int): Double = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$j-$d".getBytes("UTF-8")).map("%02x".format(_)).mkString
    if (java.lang.Long.parseLong(hex.substring(0, 15), 16) % 2 == 0) 1.0 else -1.0
  }

  /** CTE chain producing each vector's banded RP signature
    * (`bands(vec_id, band, bval)`) — the oracle twin of [[rpSignatures]];
    * [[rpPairsSqlCte]] builds the symmetric all-pairs candidates on top
    * and q125's probe joins a batch slice against an index slice.
    */
  private[operators] val rpBandsSqlCte: String =
    """v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |h AS (
      |  SELECT j, list_transform(range(0, 64), d ->
      |    CASE WHEN CAST(concat('0x', substr(md5(CAST(j AS VARCHAR) || '-' || CAST(d AS VARCHAR)), 1, 15)) AS BIGINT) % 2 = 0
      |         THEN 1.0 ELSE -1.0 END) AS hv
      |  FROM (SELECT unnest(range(0, 16)) AS j)),
      |bits AS (
      |  SELECT v.vec_id, h.j,
      |         CASE WHEN list_dot_product(v.e, h.hv) > 0 THEN 1 ELSE 0 END AS bit
      |  FROM v, h),
      |bands AS (
      |  SELECT vec_id, j // 4 AS band,
      |         CAST(SUM(bit * CASE j % 4 WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4 ELSE 8 END) AS INTEGER) AS bval
      |  FROM bits GROUP BY 1, 2)""".stripMargin

  /** Shared CTE chain producing the RP-LSH candidate pairs with their
    * exact cosine (`pairs(vec_a, vec_b, sim_raw)`) — the oracle twin of
    * [[rpPairs]]; q90 consumes it directly and q91 (Clustering) builds
    * its recursive closure on top.
    */
  private[operators] val rpPairsSqlCte: String =
    s"""$rpBandsSqlCte,
      |cand AS (
      |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      |  FROM bands a JOIN bands b ON a.band = b.band AND a.bval = b.bval AND a.vec_id < b.vec_id),
      |pairs AS (
      |  SELECT c.vec_a, c.vec_b, list_cosine_similarity(va.e, vb.e) AS sim_raw
      |  FROM cand c JOIN v va ON va.vec_id = c.vec_a JOIN v vb ON vb.vec_id = c.vec_b)""".stripMargin

  /** Banded RP signature of a (vec_id, e) frame: one exploded row per
    * (vector, band) carrying the vector along — ONE codegen'd projection
    * through the fused native sketch ([[GraftFunctions.rpsig16]]: all 16
    * hyperplane dots in a single pass, same IEEE fold order as the
    * `aggregate(zip_with(...))` form it replaced, so buckets are
    * bit-identical — CosineSimilaritySpec pins the equivalence), no
    * shuffle. Shared by the all-pairs dedup ([[rpPairs]]) and the
    * incremental index probe (q125), exactly as [[Dedup.lshSigsOf]] is
    * shared by q22 and q106.
    */
  def rpSignatures(v: DataFrame): DataFrame =
    v.withColumn("bv", GraftFunctions.rpsig16(col("e")))
      .filter(col("bv").isNotNull)
      .select(col("vec_id"), col("e"), posexplode(col("bv")).as(Seq("band", "bval")))

  /** The relational HOF formulation [[rpSignatures]] replaced — kept as
    * the native sketch's in-engine twin (the DuckDB oracle is the
    * third, SQL, formulation of the same hyperplanes).
    */
  private[graft] def rpSignaturesRelational(v: DataFrame): DataFrame = {
    val nBits = 16; val bandW = 4; val dims = 64
    val bits = array((0 until nBits).map { j =>
      val h = array((0 until dims).map(dd => lit(rpSign(j, dd))): _*)
      when(VectorOps.dot(col("e"), h) > 0, 1).otherwise(0)
    }: _*)
    val bands = array((0 until nBits / bandW).map { b =>
      struct(lit(b).as("band"),
        (0 until bandW).map(i => element_at(col("bits"), b * bandW + i + 1) * (1 << i))
          .reduce(_ + _).as("bval"))
    }: _*)
    v.withColumn("bits", bits)
      .select(col("vec_id"), col("e"), explode(bands).as("bb"))
      .select(col("vec_id"), col("e"), col("bb.band").as("band"), col("bb.bval").as("bval"))
  }

  /** RP-LSH candidate pairs with exact cosine: (vec_a, vec_b, sim_raw),
    * vec_a < vec_b, possibly repeated when a pair collides in several
    * bands (consumers dedup). One projection pass computes the 16-bit
    * signature; the only shuffle before pair generation is the
    * (band, bval) bucket aggregation; pairs generate in-reducer.
    */
  private[operators] def rpPairs(s: SparkSession, d: String): DataFrame = {
    val exploded = rpSignatures(embDouble(s, d).select("vec_id", "e"))
    val buckets = exploded.groupBy("band", "bval")
      .agg(array_sort(collect_list(struct(col("vec_id"), col("e")))).as("m"))
    buckets.select(explode(flatten(transform(col("m"), (x, i) =>
      transform(slice(col("m"), i + lit(2), size(col("m"))), y =>
        struct(x("vec_id").as("vec_a"), y("vec_id").as("vec_b"),
          cos(x("e"), y("e")).as("sim_raw")))))).as("p"))
      .select("p.*")
  }

  // q90 — random-hyperplane (SimHash-for-vectors) LSH near-dup: the
  // BUCKETED scale path that replaces q25's exact all-pairs form. Each
  // vector gets a 16-bit signature (sign of 16 ±1-hyperplane dots — ONE
  // projection pass, no shuffle), the signature splits into 4 bands of
  // 4 bits, and only vectors agreeing on a whole band meet — inside the
  // band bucket, in-reducer (the q22 pattern: no self-join of the full
  // table, no quadratic candidate join). Candidates verify with the
  // exact codegen'd cosine, so every emitted pair is a TRUE positive;
  // what LSH trades away is recall, tuned by bits/bands.
  //
  // 100 TB notes: the shuffle carries (band, bval) buckets — 4 rows per
  // vector — and pair generation is quadratic only within a bucket
  // (collision rate 2^-bandWidth of the table per bucket; widen bands to
  // shrink buckets as the table grows). Vectors ride along into the
  // bucket so verification needs no join-back; at extreme scale carry
  // vec_id only and re-join the few candidates against the (bucketed)
  // vector table instead.
  val q90RpLshNearDup: QueryDef = QueryDef.sql(
    "q90_rp_lsh_neardup",
    s"""WITH $rpPairsSqlCte
      |SELECT vec_a, vec_b, round(sim_raw, 4) AS sim
      |FROM pairs WHERE sim_raw > 0.3
      |ORDER BY vec_a, vec_b""".stripMargin) { (s, d) =>
    rpPairs(s, d)
      .filter(col("sim_raw") > 0.3)
      .groupBy("vec_a", "vec_b")
      .agg(min("sim_raw").as("sim_min"))
      .select(col("vec_a"), col("vec_b"), round(col("sim_min"), 4).as("sim"))
      .orderBy("vec_a", "vec_b")
  }

  // q107 — embedding OUTLIER report [EXT]: the vectors farthest from the
  // corpus centroid — the standard first-line quality gate on an
  // embedding table (mis-embedded rows, wrong-modality junk, collapsed
  // vectors all surface here before they poison ANN recall or k-means).
  // Same exactness trick as q102: quantize to integers (round(x·1000)
  // + 1000, non-negative so floor and truncating division agree
  // cross-engine), centroid = per-dim floorDiv(sum, n) — every distance
  // is EXACT integer arithmetic and the result hash-matches DuckDB.
  //
  // Scale shape: pass 1 is a 64-sum global aggregate (map-side partials
  // → ONE 1-row sync to the driver, the same scalar sync point q102's
  // training loop uses); pass 2 scores each vector against the centroid
  // LITERAL in a pure projection and keeps top-20 via
  // TakeOrderedAndProject — no shuffle of vectors, no window, nothing
  // grows with n except the two linear scans (cache the quantized frame
  // to make it one).
  val q107EmbeddingOutliers: QueryDef = QueryDef.sql(
    "q107_embedding_outliers",
    """WITH q AS (SELECT vec_id,
      |  list_transform(embedding,
      |    x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT) + 1000) AS e
      |  FROM embeddings),
      |c AS (SELECT d, CAST(SUM(e[d]) AS BIGINT) // COUNT(*) AS m
      |      FROM q, range(1, 65) g(d) GROUP BY d),
      |cent AS (SELECT list(m ORDER BY d) AS c FROM c),
      |scored AS (SELECT vec_id,
      |  CAST(list_sum(list_transform(range(1, 65),
      |    i -> (q.e[i] - cent.c[i]) * (q.e[i] - cent.c[i]))) AS BIGINT) AS sq_dist
      |  FROM q, cent)
      |SELECT vec_id, sq_dist FROM scored
      |ORDER BY sq_dist DESC, vec_id LIMIT 20""".stripMargin) { (s, d) =>
    val q = graft.engine.Tables.widen(graft.engine.Tables.embeddings(s, d))
      .select(col("vec_id"),
        transform(col("embedding"),
          x => round(x.cast("double") * 1000).cast("long") + 1000L).as("e"))
    val aggs = count(lit(1)).as("n") +:
      (1 to 64).map(i => sum(element_at(col("e"), i)).as(s"s$i"))
    val row = q.agg(aggs.head, aggs.tail: _*).collect().head
    val n = row.getLong(0)
    val cent = (1 to 64).map(i => Math.floorDiv(row.getLong(i), n))
    val dist = aggregate(
      zip_with(col("e"), typedLit(cent), (a, b) => (a - b) * (a - b)),
      lit(0L), (acc, x) => acc + x)
    q.select(col("vec_id"), dist.as("sq_dist"))
      .orderBy(col("sq_dist").desc, col("vec_id"))
      .limit(20)
  }

  // q112 — BATCHED ANN serving [EXT]: top-10 per query for a batch of
  // query vectors (vec_id < 8) in one pass — the offline form of every
  // retrieval/eval job ("embed the eval set, fetch neighbors for all of
  // it"). The queries are broadcast (the batch is always the small side)
  // and scored inside codegen against one corpus scan; per-query top-k
  // runs through the SAME bounded TopK aggregator as q68, so partials
  // are k-sized heaps merged map-side and the shuffle carries 10 rows
  // per query — where a window formulation would shuffle and sort every
  // (query, corpus) score. Float handling mirrors q18: raw similarity
  // drives the ordering, the emitted value is rounded to 4 dp.
  val q112AnnBatch: QueryDef = QueryDef.sql(
    "q112_ann_batch",
    """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
      |           FROM embeddings WHERE vec_id < 8),
      |s AS (SELECT q.qid, e.vec_id,
      |             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qe) AS sim_raw
      |      FROM embeddings e, q WHERE e.vec_id <> q.qid)
      |SELECT qid, vec_id, round(sim_raw, 4) AS sim, CAST(rn AS INTEGER) AS rn
      |FROM (SELECT qid, vec_id, sim_raw,
      |             row_number() OVER (PARTITION BY qid
      |                                ORDER BY sim_raw DESC, vec_id) AS rn
      |      FROM s)
      |WHERE rn <= 10
      |ORDER BY qid, rn""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.types.IntegerType
    import graft.functions.VectorAggregators
    val emb = embDouble(s, d)
    val q = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("e").as("qe"))
    val topk = udaf(new VectorAggregators.TopK(10),
      org.apache.spark.sql.Encoders.product[VectorAggregators.Scored])
    emb.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), cos(col("e"), col("qe")).as("sim_raw"))
      .groupBy("qid")
      .agg(topk(col("sim_raw"), col("vec_id")).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("qid"), col("t.id").as("vec_id"),
        round(col("t.score"), 4).as("sim"),
        (col("pos") + 1).cast(IntegerType).as("rn"))
      .orderBy("qid", "rn")
  }

  /** The probe + resolve steps of the incremental VECTOR near-dup index
    * (q125) over already-banded frames — [[Incremental.probeNeardupIndex]]
    * for embeddings. In production `indexBands` is the persisted
    * (band, bval)-bucketed signature index, so the equi-join shuffles
    * only the batch side; candidates verify with the exact codegen'd
    * cosine (computed in the join projection where both vectors are
    * present — no join-back against the vector table), and only
    * verified candidates (sim > threshold) can claim a batch vector.
    * Resolution is deterministic: most matching bands, ties to the
    * smallest index id — integer comparisons, so engine float quirks
    * cannot flip the winner.
    */
  def probeVecNeardupIndex(batchBands: DataFrame, indexBands: DataFrame,
      threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val matches = batchBands.as("b")
      .join(indexBands.as("c"), Seq("band", "bval"))
      .select(col("b.vec_id").as("vec_id"), col("c.vec_id").as("dup_of"),
        cos(col("b.e"), col("c.e")).as("sim_raw"))
      .groupBy("vec_id", "dup_of")
      .agg(count(lit(1)).as("n_bands"), min("sim_raw").as("sim_raw"))
      .filter(col("sim_raw") > threshold)
    val byBands = Window.partitionBy("vec_id")
      .orderBy(col("n_bands").desc, col("dup_of"))
    val best = matches
      .withColumn("rn", row_number().over(byBands))
      .filter(col("rn") === 1)
    batchBands.select("vec_id").distinct()
      .join(best, Seq("vec_id"), "left")
      .select(col("vec_id"), col("dup_of"),
        coalesce(col("n_bands"), lit(0L)).as("n_bands"),
        round(col("sim_raw"), 4).as("sim"))
      .orderBy("vec_id")
  }

  // q125 — incremental vector near-dup INDEX PROBE [EXT]: q106's daily
  // admission gate for EMBEDDINGS — the semantic twin of the MinHash
  // text probe. The corpus keeps a persisted (band, bval) RP-signature
  // index; each new batch of vectors (here vec_id % 10 = 0, so DuckDB
  // can oracle both sides from one table) is sketched with ONE banded
  // projection, probed with one equi-join that shuffles only the batch
  // side, and every candidate is verified with the exact cosine before
  // it can mark a batch vector as a near-dup — so admissions are never
  // blocked by a spurious 4-bit band collision (at 16 bits a band
  // collision is 1/16 of the table; verification is what makes the
  // probe precise, banding is what makes it cheap).
  //
  // Reference twin: the same accumulated-state dedup as q106
  // (extract_data.py:182-197), lifted from exact ids to semantic space.
  val q125VecProbe: QueryDef = QueryDef.sql(
    "q125_vec_probe",
    s"""WITH $rpBandsSqlCte,
       |bb AS (SELECT * FROM bands WHERE vec_id % 10 = 0),
       |cb AS (SELECT * FROM bands WHERE vec_id % 10 <> 0),
       |m AS (
       |  SELECT b.vec_id AS vec_id, c.vec_id AS dup_of, COUNT(*) AS n_bands,
       |         list_cosine_similarity(vb.e, vc.e) AS sim_raw
       |  FROM bb b JOIN cb c ON b.band = c.band AND b.bval = c.bval
       |  JOIN v vb ON vb.vec_id = b.vec_id
       |  JOIN v vc ON vc.vec_id = c.vec_id
       |  GROUP BY 1, 2, 4),
       |ok AS (SELECT * FROM m WHERE sim_raw > 0.3),
       |best AS (
       |  SELECT vec_id, dup_of, n_bands, sim_raw,
       |         row_number() OVER (PARTITION BY vec_id
       |                            ORDER BY n_bands DESC, dup_of) AS rn
       |  FROM ok)
       |SELECT d.vec_id, b.dup_of, COALESCE(b.n_bands, 0) AS n_bands,
       |       round(b.sim_raw, 4) AS sim
       |FROM (SELECT DISTINCT vec_id FROM bb) d
       |LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (vec_id)
       |ORDER BY d.vec_id""".stripMargin) { (s, d) =>
    val v = embDouble(s, d).select("vec_id", "e")
    probeVecNeardupIndex(
      rpSignatures(v.filter(col("vec_id") % 10 === 0)),
      rpSignatures(v.filter(col("vec_id") % 10 =!= 0)),
      0.3)
  }

  /** Recall@k — THE quality metric for every approximate neighbor path
    * (IVF bucket pruning, RP-LSH banding): the fraction of each query's
    * exact top-k the approximate result found. Both inputs are
    * (qid, vec_id, rn) frames (q112's shape); queries the approx side
    * missed entirely score 0, not absent. One semi-join + two keyed
    * aggs, all tiny (k rows per query) — run it on a sampled query set
    * next to any index-parameter change, the way an index build
    * validates nprobe/band choices before serving.
    */
  def recallAtK(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    val e = exact.filter(col("rn") <= k).select("qid", "vec_id")
    val a = approx.filter(col("rn") <= k).select("qid", "vec_id")
    val hits = e.join(a, Seq("qid", "vec_id"), "left_semi")
      .groupBy("qid").agg(count(lit(1)).as("n_hits"))
    e.groupBy("qid").agg(count(lit(1)).as("n_true"))
      .join(hits, Seq("qid"), "left")
      .select(col("qid"),
        (coalesce(col("n_hits"), lit(0L)) / col("n_true")).as("recall"))
  }

  // q167 — HYBRID RETRIEVAL with reciprocal-rank fusion (the RAG serving
  // pattern: lexical recall catches what embeddings miss and vice
  // versa): per query doc, a keyword candidate list (shared-distinct-
  // token count — the exact-overlap form of q55's search) and a vector
  // candidate list (q112's broadcast-query cosine scan) fuse by
  // RRF(k=60) = Σ 1/(60+rank) over the union of both top-20 lists,
  // emitting each query's top-5 with its per-list ranks. Determinism
  // across engines: both fusion terms divide the SAME integers as IEEE
  // doubles (the oracle casts its literal to DOUBLE — DuckDB's bare 1.0
  // is a DECIMAL and divides differently), one addition each, ties to
  // doc_id. Scale: query tokens and query vectors broadcast; candidate
  // generation is the postings join + one scan; per-list and fused
  // top-k are qid-keyed windows (WindowGroupLimit caps them map-side);
  // at index scale the vector scan swaps for the q26/q112/q125 ANN path
  // with the same downstream fusion.
  /** q167/q182's lexical arm: per query doc (doc_id % 100 = 7), the
    * top-`k` candidate docs by shared-distinct-token count
    * (qid, doc_id, rt). Query tokens broadcast; candidate generation is
    * the postings join; the per-query top-k is a qid-keyed window.
    */
  private def textArmTopK(s: SparkSession, d: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = graft.engine.Tables.widen(graft.engine.Tables.documents(s, d))
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "").distinct()
    val qt = toks.filter(col("doc_id") % 100 === 7)
      .select(col("doc_id").as("qid"), col("tok"))
    val wt = Window.partitionBy("qid").orderBy(col("n_shared").desc, col("doc_id"))
    toks.join(broadcast(qt), Seq("tok"))
      .filter(col("doc_id") =!= col("qid"))
      .groupBy("qid", "doc_id").agg(count(lit(1)).as("n_shared"))
      .withColumn("rt", row_number().over(wt)).filter(col("rt") <= k)
      .select(col("qid"), col("doc_id"), col("rt"))
  }

  /** q167/q182's fusion step: RRF(k=60) over the union of a text
    * candidate list (qid, doc_id, rt) and a vector candidate list
    * (qid, doc_id, rv), each query's top-5 with per-list ranks. Both
    * fusion terms divide the SAME integers as IEEE doubles, ties to
    * doc_id — deterministic across engines.
    */
  private def rrfFuse(tr: DataFrame, vr: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wr = Window.partitionBy("qid").orderBy(col("fused").desc, col("doc_id"))
    tr.join(vr, Seq("qid", "doc_id"), "full_outer")
      .withColumn("fused",
        coalesce(lit(1.0) / (lit(60) + col("rt")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("rv")), lit(0.0)))
      .withColumn("rnk", row_number().over(wr)).filter(col("rnk") <= 5)
      .select(col("qid"), col("rnk").cast("int").as("rnk"), col("doc_id"),
        coalesce(col("rt"), lit(0)).cast("int").as("rank_text"),
        coalesce(col("rv"), lit(0)).cast("int").as("rank_vec"))
      .orderBy("qid", "rnk")
  }

  /** The EXACT vector arm (q112's broadcast-query cosine scan):
    * top-`k` per query by cosine (qid, doc_id, rv). q167's serving
    * path at test scale, and q182's recall oracle.
    */
  private[graft] def vectorArmExact(s: SparkSession, d: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = embDouble(s, d)
    val qv = emb.filter(col("vec_id") % 100 === 7)
      .select(col("vec_id").as("qid"), col("e").as("qe"))
    val wv = Window.partitionBy("qid").orderBy(col("cs").desc, col("doc_id"))
    emb.crossJoin(broadcast(qv))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("doc_id"), cos(col("e"), col("qe")).as("cs"))
      .withColumn("rv", row_number().over(wv)).filter(col("rv") <= k)
      .select(col("qid"), col("doc_id"), col("rv"))
  }

  /** The ANN vector arm (q182): candidates are ONLY vectors colliding
    * with the query in the RP-LSH (band, bval) index — the q125
    * index-probe pattern turned toward retrieval, with MULTI-PROBE
    * (each query band also probes its four Hamming-distance-1 buckets,
    * the classic recall dial: one flipped hyperplane bit must not hide
    * a true neighbor). The exact cosine ranks the candidate set, so
    * precision is exact; recall is the probing's — recallAtK pins it
    * against the exact arm in the spec (≈0.9 avg on the synthetic
    * corpus, whose near-random vectors are LSH's worst case; clustered
    * real embeddings separate far better). Scale shape: the
    * corpus-side bands are the persisted index, the query probe set
    * broadcasts, and the probe shuffles nothing but the (band, bval)
    * join — no full-corpus scan per query batch.
    */
  private[graft] def vectorArmAnn(s: SparkSession, d: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bands = rpSignatures(embDouble(s, d).select(col("vec_id"), col("e")))
    val qb = bands.filter(col("vec_id") % 100 === 7)
      .select(col("vec_id").as("qid"), col("band"),
        explode(array(col("bval"), col("bval").bitwiseXOR(lit(1)),
          col("bval").bitwiseXOR(lit(2)), col("bval").bitwiseXOR(lit(4)),
          col("bval").bitwiseXOR(lit(8)))).as("bval"),
        col("e").as("qe"))
    val wv = Window.partitionBy("qid").orderBy(col("cs").desc, col("doc_id"))
    bands.join(broadcast(qb), Seq("band", "bval"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("doc_id"), cos(col("e"), col("qe")).as("cs"))
      // a (query, candidate) pair collides in several bands: count once
      .groupBy("qid", "doc_id").agg(min("cs").as("cs"))
      .withColumn("rv", row_number().over(wv)).filter(col("rv") <= k)
      .select(col("qid"), col("doc_id"), col("rv"))
  }

  val q167HybridRrf: QueryDef = QueryDef.sql(
    "q167_hybrid_rrf",
    """WITH qt AS (SELECT DISTINCT doc_id AS qid, tok FROM
      |              (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
      |               WHERE doc_id % 100 = 7)
      |            WHERE tok <> ''),
      |ct AS (SELECT DISTINCT doc_id, tok FROM
      |         (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
      |       WHERE tok <> ''),
      |tsc AS (SELECT qt.qid, ct.doc_id, COUNT(*) AS n_shared
      |        FROM qt JOIN ct USING (tok) WHERE ct.doc_id <> qt.qid GROUP BY 1, 2),
      |tr AS (SELECT qid, doc_id,
      |         row_number() OVER (PARTITION BY qid ORDER BY n_shared DESC, doc_id) AS rt
      |       FROM tsc),
      |qv AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
      |       FROM embeddings WHERE vec_id % 100 = 7),
      |vs AS (SELECT qv.qid, e.vec_id AS doc_id,
      |         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), qv.qe) AS cs
      |       FROM embeddings e, qv WHERE e.vec_id <> qv.qid),
      |vr AS (SELECT qid, doc_id,
      |         row_number() OVER (PARTITION BY qid ORDER BY cs DESC, doc_id) AS rv
      |       FROM vs),
      |f AS (SELECT COALESCE(t.qid, v.qid) AS qid, COALESCE(t.doc_id, v.doc_id) AS doc_id,
      |        t.rt, v.rv,
      |        COALESCE(CAST(1 AS DOUBLE)/(60 + t.rt), 0) +
      |        COALESCE(CAST(1 AS DOUBLE)/(60 + v.rv), 0) AS fused
      |      FROM (SELECT * FROM tr WHERE rt <= 20) t
      |      FULL OUTER JOIN (SELECT * FROM vr WHERE rv <= 20) v
      |        ON t.qid = v.qid AND t.doc_id = v.doc_id),
      |r AS (SELECT qid, doc_id, rt, rv,
      |        row_number() OVER (PARTITION BY qid ORDER BY fused DESC, doc_id) AS rnk
      |      FROM f)
      |SELECT qid, CAST(rnk AS INTEGER) AS rnk, doc_id,
      |       CAST(COALESCE(rt, 0) AS INTEGER) AS rank_text,
      |       CAST(COALESCE(rv, 0) AS INTEGER) AS rank_vec
      |FROM r WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin) { (s, d) =>
    rrfFuse(textArmTopK(s, d, 20), vectorArmExact(s, d, 20))
  }

  // q182 — q167 with the documented "swap at index scale" actually
  // performed: the vector arm probes the RP-LSH (band, bval) index
  // (q125's pattern) instead of scanning every vector per query, with
  // the SAME downstream RRF fusion. The oracle replays the banding in
  // SQL (the q90/q125 hyperplane CTE), so the candidate sets — and
  // therefore every rank — are deterministic cross-engine; q167 stays
  // the exact twin, and CosineSimilaritySpec pins the ANN arm's
  // recall@20 against it via recallAtK.
  val q182HybridRrfAnn: QueryDef = QueryDef.sql(
    "q182_hybrid_rrf_ann",
    s"""WITH $rpBandsSqlCte,
      |qt AS (SELECT DISTINCT doc_id AS qid, tok FROM
      |              (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
      |               WHERE doc_id % 100 = 7)
      |            WHERE tok <> ''),
      |ct AS (SELECT DISTINCT doc_id, tok FROM
      |         (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
      |       WHERE tok <> ''),
      |tsc AS (SELECT qt.qid, ct.doc_id, COUNT(*) AS n_shared
      |        FROM qt JOIN ct USING (tok) WHERE ct.doc_id <> qt.qid GROUP BY 1, 2),
      |tr AS (SELECT qid, doc_id,
      |         row_number() OVER (PARTITION BY qid ORDER BY n_shared DESC, doc_id) AS rt
      |       FROM tsc),
      |qb0 AS (SELECT vec_id AS qid, band, bval FROM bands WHERE vec_id % 100 = 7),
      |qb AS (SELECT qid, band,
      |         unnest([bval, xor(bval, 1), xor(bval, 2), xor(bval, 4), xor(bval, 8)]) AS bval
      |       FROM qb0),
      |cand AS (SELECT DISTINCT qb.qid, b.vec_id AS doc_id
      |         FROM qb JOIN bands b ON qb.band = b.band AND qb.bval = b.bval
      |         WHERE b.vec_id <> qb.qid),
      |vs AS (SELECT cand.qid, cand.doc_id,
      |         list_cosine_similarity(ve.e, qv.e) AS cs
      |       FROM cand JOIN v ve ON ve.vec_id = cand.doc_id
      |       JOIN v qv ON qv.vec_id = cand.qid),
      |vr AS (SELECT qid, doc_id,
      |         row_number() OVER (PARTITION BY qid ORDER BY cs DESC, doc_id) AS rv
      |       FROM vs),
      |f AS (SELECT COALESCE(t.qid, v.qid) AS qid, COALESCE(t.doc_id, v.doc_id) AS doc_id,
      |        t.rt, v.rv,
      |        COALESCE(CAST(1 AS DOUBLE)/(60 + t.rt), 0) +
      |        COALESCE(CAST(1 AS DOUBLE)/(60 + v.rv), 0) AS fused
      |      FROM (SELECT * FROM tr WHERE rt <= 20) t
      |      FULL OUTER JOIN (SELECT * FROM vr WHERE rv <= 20) v
      |        ON t.qid = v.qid AND t.doc_id = v.doc_id),
      |r AS (SELECT qid, doc_id, rt, rv,
      |        row_number() OVER (PARTITION BY qid ORDER BY fused DESC, doc_id) AS rnk
      |      FROM f)
      |SELECT qid, CAST(rnk AS INTEGER) AS rnk, doc_id,
      |       CAST(COALESCE(rt, 0) AS INTEGER) AS rank_text,
      |       CAST(COALESCE(rv, 0) AS INTEGER) AS rank_vec
      |FROM r WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin) { (s, d) =>
    rrfFuse(textArmTopK(s, d, 20), vectorArmAnn(s, d, 20))
  }

  // q197 — PRODUCT QUANTIZATION (PQ) with asymmetric distance
  // computation (ADC, Jégou et al. 2011) [EXT]: the COMPRESSION axis of
  // the ANN family — q26 prunes WHICH vectors a probe reads (IVF),
  // RP-LSH (q90/q125) prunes candidate PAIRS, PQ shrinks WHAT is read:
  // each 64-dim vector becomes m=4 one-byte codes (one 16-entry
  // codebook per 16-dim subspace), a 64× footprint cut, and a probe
  // never touches raw vectors — it scans codes and sums 4 lookups from
  // a 64-entry query-specific distance table. Exactness: q107's
  // quantize-to-integer kernel (round(x·1000)) makes every subspace
  // L2², every codebook argmin (min distance, ties to low code — the
  // oracle's row_number order), and every ADC sum EXACT integer
  // arithmetic, hash-identical to DuckDB's independent re-encode.
  //
  // Scale shape: the codebook (16 deterministic "trained" vectors — at
  // real scale the q102 k-means loop trains it per subspace) and the
  // query vector sync to the driver ONCE (65 tiny rows — the same
  // bounded model-artifact sync as q102's centroids, NOT a data
  // collect); encode + table lookup + ADC then run as ONE pure
  // projection inside a single scan (argmin via least() over 16
  // (d2, code) structs — zero joins, zero shuffles), and the top-10 is
  // TakeOrderedAndProject (per-partition heads + a 10-row driver
  // merge). At 100 TB the plan is: scan the 4-byte code column,
  // 64 integer lookups per row, merge 10 rows — no vector data moves.
  val q197PqAdc: QueryDef = QueryDef.sql(
    "q197_pq_adc",
    """WITH v AS (SELECT vec_id,
      |             list_transform(CAST(embedding AS DOUBLE[]),
      |                            x -> CAST(round(x*1000) AS BIGINT)) AS q
      |           FROM embeddings),
      |sub AS (SELECT vec_id, s, q[s*16+1 : (s+1)*16] AS sq
      |        FROM v, generate_series(0, 3) g(s)),
      |cb AS (SELECT s, vec_id AS code, sq AS csq FROM sub WHERE vec_id < 16),
      |enc AS (SELECT vec_id, s, code FROM (
      |          SELECT sub.vec_id, sub.s, cb.code,
      |                 row_number() OVER (PARTITION BY sub.vec_id, sub.s
      |                   ORDER BY list_dot_product(sub.sq, sub.sq)
      |                          + list_dot_product(cb.csq, cb.csq)
      |                          - 2*list_dot_product(sub.sq, cb.csq), cb.code) AS rn
      |          FROM sub JOIN cb USING (s)) WHERE rn = 1),
      |qsub AS (SELECT s, sq AS qsq FROM sub WHERE vec_id = 0),
      |dtab AS (SELECT cb.s, cb.code,
      |                list_dot_product(q.qsq, q.qsq)
      |              + list_dot_product(cb.csq, cb.csq)
      |              - 2*list_dot_product(q.qsq, cb.csq) AS d2
      |         FROM cb JOIN qsub q ON cb.s = q.s),
      |codes AS (SELECT vec_id,
      |                 CAST(MAX(CASE WHEN s=0 THEN code END) AS INTEGER) AS c0,
      |                 CAST(MAX(CASE WHEN s=1 THEN code END) AS INTEGER) AS c1,
      |                 CAST(MAX(CASE WHEN s=2 THEN code END) AS INTEGER) AS c2,
      |                 CAST(MAX(CASE WHEN s=3 THEN code END) AS INTEGER) AS c3
      |          FROM enc GROUP BY vec_id),
      |adc AS (SELECT e.vec_id, CAST(SUM(d.d2) AS BIGINT) AS adc_dist
      |        FROM enc e JOIN dtab d ON e.s = d.s AND e.code = d.code
      |        WHERE e.vec_id <> 0 GROUP BY e.vec_id)
      |SELECT a.vec_id, c.c0, c.c1, c.c2, c.c3, a.adc_dist
      |FROM adc a JOIN codes c USING (vec_id)
      |ORDER BY a.adc_dist, a.vec_id LIMIT 10""".stripMargin) { (s, d) =>
    val q = Tables.widen(Tables.embeddings(s, d))
      .select(col("vec_id"),
        transform(col("embedding"),
          x => round(x.cast("double") * 1000).cast("long")).as("q"))
    val (cb, lut) = pqModel(q)
    val coded = q.filter(col("vec_id") =!= 0)
      .select(col("vec_id") +:
        (0 until 4).map(sp => pqCodeCol(col("q"), cb, sp).as(s"c$sp")): _*)
    coded.withColumn("adc_dist", pqAdcCol(lut))
      .orderBy(col("adc_dist"), col("vec_id"))
      .limit(10)
  }

  /** q197/q202's PQ model sync: collect the 16 codebook source vectors
    * (vec 0 doubles as the query) from the quantized frame — 16 rows,
    * bounded by construction, the q102 model-artifact pattern — and
    * derive the per-subspace codebooks plus the query's 4×16 ADC
    * distance table (exact integer d²). Minimum input: vec_id 0..15
    * must all be present — a smaller corpus fails the `require`.
    */
  private def pqModel(q: DataFrame): (Array[Array[Array[Long]]], Array[Array[Long]]) = {
    val byId = q.filter(col("vec_id") < 16).select("vec_id", "q").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    val missing = (0L until 16L).filterNot(byId.contains)
    require(missing.isEmpty,
      "product quantization needs embeddings vec_id 0..15 (the 16 " +
        "codebook source vectors; vec 0 is also the query), missing " +
        missing.mkString(", "))
    val cb = Array.tabulate(4, 16)((sp, code) =>
      byId(code.toLong).slice(sp * 16, sp * 16 + 16))
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.lazyZip(b).map((x, y) => (x - y) * (x - y)).sum
    val qv = byId(0L)
    val lut = Array.tabulate(4, 16)((sp, code) =>
      d2(qv.slice(sp * 16, sp * 16 + 16), cb(sp)(code)))
    (cb, lut)
  }

  /** Subspace `sp`'s PQ code as a pure projection: argmin over the 16
    * codebook entries via least() on (d², code) structs — min distance,
    * ties to the low code, matching the oracle's row_number order.
    */
  private def pqCodeCol(qCol: Column, cb: Array[Array[Array[Long]]], sp: Int): Column = {
    val sub = slice(qCol, sp * 16 + 1, 16)
    def dist2(c: Array[Long]): Column =
      aggregate(zip_with(sub, typedLit(c.toSeq), (x, y) => (x - y) * (x - y)),
        lit(0L), (acc, x) => acc + x)
    least((0 until 16).map(code =>
      struct(dist2(cb(sp)(code)).as("d2"), lit(code).as("code"))): _*)
      .getField("code")
  }

  /** The ADC estimate from code columns c0..c3: 4 lookups into the
    * query's distance-table literal, summed.
    */
  private def pqAdcCol(lut: Array[Array[Long]]): Column =
    (0 until 4)
      .map(sp => element_at(typedLit(lut(sp).toSeq), col(s"c$sp") + 1))
      .reduce(_ + _)

  // q202 — IVF-PQ: the two ANN index structures COMPOSED the way FAISS
  // ships them — the coarse quantizer (q26's centroid assignment)
  // prunes WHICH partition a probe reads, PQ codes (q197) shrink WHAT
  // it reads there: the probe touches one cluster's 4-byte codes and
  // sums 64-entry table lookups; raw vectors never move. (The
  // no-residual IVFADC variant — codes on raw vectors, not
  // centroid-residuals — so both stages stay exact-integer/
  // exact-double and hash-verifiable cross-engine.) The query's
  // cluster id comes from the SAME distributed assignment the index
  // uses (a 1-row sync), so probe and index can never disagree on
  // geometry. Scale shape: assignment is q26's one broadcast pass;
  // written `partitionBy(cid)` the cluster filter is partition pruning
  // at planning time; encode + ADC stay one pure projection; top-5 is
  // TakeOrderedAndProject over the pruned cluster only (~1/8 of the
  // corpus here, 1/nlist in general).
  val q202IvfPq: QueryDef = QueryDef.sql(
    "q202_ivf_pq",
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
      |             list_transform(CAST(embedding AS DOUBLE[]),
      |                            x -> CAST(round(x*1000) AS BIGINT)) AS q
      |           FROM embeddings),
      |c AS (SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id < 8),
      |assign AS (
      |  SELECT vec_id, cid, q FROM (
      |    SELECT v.vec_id, c.cid, v.q,
      |           row_number() OVER (PARTITION BY v.vec_id
      |             ORDER BY list_dot_product(v.e, c.ce) DESC, c.cid) AS rn
      |    FROM v, c) WHERE rn = 1),
      |sub AS (SELECT vec_id, cid, s, q[s*16+1 : (s+1)*16] AS sq
      |        FROM assign, generate_series(0, 3) g(s)),
      |cb AS (SELECT s, vec_id AS code, sq AS csq FROM sub WHERE vec_id < 16),
      |enc AS (SELECT vec_id, cid, s, code FROM (
      |          SELECT sub.vec_id, sub.cid, sub.s, cb.code,
      |                 row_number() OVER (PARTITION BY sub.vec_id, sub.s
      |                   ORDER BY list_dot_product(sub.sq, sub.sq)
      |                          + list_dot_product(cb.csq, cb.csq)
      |                          - 2*list_dot_product(sub.sq, cb.csq), cb.code) AS rn
      |          FROM sub JOIN cb USING (s)) WHERE rn = 1),
      |qc AS (SELECT cid AS qcid FROM assign WHERE vec_id = 0),
      |qsub AS (SELECT s, sq AS qsq FROM sub WHERE vec_id = 0),
      |dtab AS (SELECT cb.s, cb.code,
      |                list_dot_product(q.qsq, q.qsq)
      |              + list_dot_product(cb.csq, cb.csq)
      |              - 2*list_dot_product(q.qsq, cb.csq) AS d2
      |         FROM cb JOIN qsub q ON cb.s = q.s),
      |adc AS (SELECT e.vec_id, e.cid, CAST(SUM(d.d2) AS BIGINT) AS adc_dist
      |        FROM enc e JOIN dtab d ON e.s = d.s AND e.code = d.code
      |        JOIN qc ON e.cid = qc.qcid
      |        WHERE e.vec_id <> 0 GROUP BY e.vec_id, e.cid)
      |SELECT vec_id, CAST(cid AS BIGINT) AS cid, adc_dist
      |FROM adc ORDER BY adc_dist, vec_id LIMIT 5""".stripMargin) { (s, d) =>
    val vBase = Tables.widen(Tables.embeddings(s, d))
      .select(col("vec_id"),
        VectorOps.toDouble(col("embedding")).as("e"),
        transform(col("embedding"),
          x => round(x.cast("double") * 1000).cast("long")).as("q"))
    val c = vBase.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("e").as("ce"))
    // q26's argmax-dot assignment, carrying the quantized vector along
    // (map-side max(struct) partial — one row per vector shuffles)
    val assigned = vBase.crossJoin(broadcast(c))
      .select(col("vec_id"), col("q"), col("cid"),
        VectorOps.dot(col("e"), col("ce")).as("dot"))
      .groupBy("vec_id")
      .agg(max(struct(col("dot"), (-col("cid")).as("negcid"))).as("m"),
        first(col("q")).as("q"))
      .select(col("vec_id"), (-col("m.negcid")).as("cid"), col("q"))
    val (cb, lut) = pqModel(vBase.select(col("vec_id"), col("q")))
    // the query's cluster — from the SAME assignment relation (1 row)
    val qcid = assigned.filter(col("vec_id") === 0)
      .select("cid").collect()(0).getLong(0)
    val coded = assigned
      .filter(col("vec_id") =!= 0 && col("cid") === qcid)
      .select(col("vec_id") +: col("cid") +:
        (0 until 4).map(sp => pqCodeCol(col("q"), cb, sp).as(s"c$sp")): _*)
    coded.withColumn("adc_dist", pqAdcCol(lut))
      .orderBy(col("adc_dist"), col("vec_id"))
      .limit(5)
      .select(col("vec_id"), col("cid"), col("adc_dist"))
  }

  /** IVFADC WITH RESIDUAL ENCODING (round-12 item #7 — the FAISS
    * default, completing q202's no-residual variant): PQ codes are
    * trained and applied on r = v − centroid(cluster(v)) instead of the
    * raw vector, so the codebook spends its 16 entries per subspace on
    * the WITHIN-cluster geometry the coarse quantizer already removed —
    * the standard accuracy win residuals buy. Everything stays
    * integer-exact (quantized vectors minus quantized centroids are
    * integers), so PqSpec can replay the whole path in plain Scala; the
    * path is SPEC-PINNED rather than oracle-gated (the q85 discipline —
    * a 14-CTE residual oracle would pin DuckDB quirks, not semantics;
    * q202 remains the hash-gated twin). Shape is exactly q202's: one
    * broadcast assignment pass, a 16-row codebook sync on residuals,
    * encode + ADC as one pure projection over the PROBED clusters only,
    * TakeOrdered top-k. Returns (vec_id, cid, adc_dist, rn).
    *
    * `nprobe` is FAISS's recall dial: probe the nprobe nearest inverted
    * lists instead of one. With residuals each probed list needs its
    * OWN ADC table (the query residual is relative to THAT list's
    * centroid) — nprobe tiny integer LUTs, all driver literals; the
    * scan grows to nprobe/nlist of the corpus and each row's ADC picks
    * its cluster's table by a literal CASE. Probe ORDER comes from the
    * same engine-side dot the assignment uses (an 8-row job), so probe
    * and index can never disagree on geometry.
    */
  private[graft] def ivfAdcResidual(s: SparkSession, d: String, k: Int,
      nprobe: Int = 1): DataFrame = {
    val vBase = Tables.widen(Tables.embeddings(s, d))
      .select(col("vec_id"),
        VectorOps.toDouble(col("embedding")).as("e"),
        transform(col("embedding"),
          x => round(x.cast("double") * 1000).cast("long")).as("q"))
    val c = vBase.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("e").as("ce"), col("q").as("cq"))
    val assigned = vBase.crossJoin(broadcast(c.select("cid", "ce")))
      .select(col("vec_id"), col("q"), col("cid"),
        VectorOps.dot(col("e"), col("ce")).as("dot"))
      .groupBy("vec_id")
      .agg(max(struct(col("dot"), (-col("cid")).as("negcid"))).as("m"),
        first(col("q")).as("q"))
      .select(col("vec_id"), (-col("m.negcid")).as("cid"), col("q"))
    // residual = quantized vector − its OWN cluster's quantized centroid
    val withRes = assigned.join(broadcast(c.select("cid", "cq")), "cid")
      .select(col("vec_id"), col("cid"),
        zip_with(col("q"), col("cq"), (a, b) => a - b).as("q"))
    // residual codebook from pqModel's 16-row sync over residual space
    val (cb, _) = pqModel(withRes.select(col("vec_id"), col("q")))
    // probe order by the SAME engine-side dot the assignment used
    // (8-row job): descending similarity, ties to the low cid
    val probed: Seq[Long] = vBase.filter(col("vec_id") === 0)
      .crossJoin(broadcast(c.select(col("cid"), col("ce"))))
      .select(col("cid"), VectorOps.dot(col("e"), col("ce")).as("dot"))
      .orderBy(col("dot").desc, col("cid"))
      .limit(nprobe).select("cid").collect().map(_.getLong(0)).toSeq
    // per-probed-list ADC tables: query residual RELATIVE TO THAT LIST'S
    // centroid (integers — quantized query minus quantized centroid)
    val qq = vBase.filter(col("vec_id") === 0)
      .select("q").head.getSeq[Long](0).toArray
    val cq: Map[Long, Array[Long]] = c.select("cid", "cq").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.lazyZip(b).map((x, y) => (x - y) * (x - y)).sum
    val luts: Map[Long, Array[Array[Long]]] = probed.map { cid =>
      val qr = qq.lazyZip(cq(cid)).map(_ - _).toArray
      cid -> Array.tabulate(4, 16)((sp, code) =>
        d2(qr.slice(sp * 16, sp * 16 + 16), cb(sp)(code)))
    }.toMap
    val coded = withRes
      .filter(col("vec_id") =!= 0 && col("cid").isin(probed: _*))
      .select(col("vec_id") +: col("cid") +:
        (0 until 4).map(sp => pqCodeCol(col("q"), cb, sp).as(s"c$sp")): _*)
    val adc = probed.map(cid => (cid, pqAdcCol(luts(cid))))
      .foldLeft(lit(null).cast("long")) { case (acc, (cid, e)) =>
        when(col("cid") === cid, e).otherwise(acc)
      }
    coded.withColumn("adc_dist", adc)
      .orderBy(col("adc_dist"), col("vec_id"))
      .limit(k)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("adc_dist"), col("vec_id")))) // ≤ k rows post-limit
      .select(col("vec_id"), col("cid"), col("adc_dist"), col("rn"))
  }

  // q223 — per-DIMENSION embedding diagnostics (the index health check
  // run before committing a corpus to an ANN index, complementing
  // q107's per-VECTOR outliers): collapsed or near-constant dimensions
  // waste every distance computation and break PQ subspace training
  // (q197's per-subspace codebooks assume spread), so the first
  // question is "which dimensions are alive". q62's integer
  // quantization kernel (floor((x+1)·127) over the float32 bits both
  // engines widen identically) makes sum / sum-of-squares / min / max /
  // spread exact BIGINTs — variance and dead-dim flags derive from
  // these downstream without any cross-engine float risk. Scale shape:
  // ONE posexplode scan into a 64-group keyed agg, every aggregate
  // map-side combinable — the cheapest full-corpus pass there is.
  val q223EmbedDiag: QueryDef = QueryDef.sql(
    "q223_embed_diag",
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |q AS (SELECT i AS dim, CAST(floor((e[i] + 1.0) * 127.0) AS BIGINT) AS q
      |      FROM v, generate_series(1, 64) g(i))
      |SELECT CAST(dim AS INTEGER) AS dim,
      |       COUNT(*) AS n,
      |       CAST(SUM(q) AS BIGINT) AS sum_q,
      |       CAST(SUM(q * q) AS BIGINT) AS ssq_q,
      |       CAST(MIN(q) AS BIGINT) AS min_q,
      |       CAST(MAX(q) AS BIGINT) AS max_q,
      |       CAST(MAX(q) - MIN(q) AS BIGINT) AS spread
      |FROM q GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    Tables.widen(Tables.embeddings(s, d))
      .select(posexplode(col("embedding")).as(Seq("p", "x")))
      .select((col("p") + 1).cast("int").as("dim"),
        floor((col("x").cast("double") + 1.0) * 127.0).cast("long").as("q"))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"), sum("q").as("sum_q"),
        sum(col("q") * col("q")).as("ssq_q"),
        min("q").as("min_q"), max("q").as("max_q"),
        (max("q") - min("q")).as("spread"))
      .orderBy("dim")
  }

  // q260 — THRESHOLD-PRUNED EXACT top-k (the Fagin/TA idea with a
  // Cauchy-Schwarz bound — the third retrieval family beside the
  // bucketed-approximate ANN (q26/q90/q125/q197/q202) and the brute
  // exact scan (q18): EXACT results with most of the corpus never
  // scored): vectors quantized on the q62 grid (floor((x+1)·127)−127 —
  // portable, integer-exact), a SEED pass scores only the 50
  // largest-norm candidates and takes the 10th-best dot as threshold s,
  // then the full pass computes the expensive dot ONLY where
  // qn²·n² ≥ s² (any vector with dot ≥ s must pass — dot² ≤ |q|²|v|² —
  // so the final top-10 is provably exact; s ≤ 0 falls back to scan-all
  // rather than risk the bound's sign). The report carries
  // n_scanned/n_total so the ORACLE re-derives the pruning arithmetic
  // itself, not just the answer. The testdata embeddings are
  // near-normalized (norm pruning is vacuous on a unit sphere — the
  // honest caveat of every norm-bound method), so the gate imposes a
  // deterministic per-id scale (×1..50, the doc-length norm spread an
  // UNnormalized corpus has) to drive the bound through both branches.
  // At 100 TB norms live in the index (computed at ingest), the seed
  // pass reads a norm-sorted sliver, and the pruned pass skips entire
  // norm-range partitions.
  val q260TaTopk: QueryDef = QueryDef.sql(
    "q260_ta_topk",
    """WITH v AS (SELECT vec_id,
      |    list_transform(CAST(embedding AS DOUBLE[]),
      |                   x -> (CAST(floor((x + 1.0) * 127.0) AS BIGINT) - 127)
      |                        * (1 + vec_id % 50))
      |      AS iv
      |  FROM embeddings),
      |n AS (SELECT vec_id, iv,
      |        CAST(list_sum(list_transform(iv, x -> x * x)) AS BIGINT) AS n2
      |      FROM v),
      |q AS (SELECT iv AS qiv, n2 AS qn2 FROM n WHERE vec_id = 0),
      |c AS (SELECT vec_id, iv, n2 FROM n WHERE vec_id <> 0),
      |seeds AS (SELECT vec_id, iv FROM c ORDER BY n2 DESC, vec_id LIMIT 50),
      |sd AS (SELECT s.vec_id,
      |         CAST(list_dot_product(s.iv, q.qiv) AS BIGINT) AS dot
      |       FROM seeds s, q),
      |s10 AS (SELECT min(dot) AS s FROM
      |          (SELECT dot FROM sd ORDER BY dot DESC, vec_id LIMIT 10)),
      |pruned AS (SELECT c.vec_id, c.iv FROM c, q, s10
      |           WHERE s10.s <= 0 OR c.n2 * q.qn2 >= s10.s * s10.s),
      |res AS (SELECT p.vec_id,
      |          CAST(list_dot_product(p.iv, q.qiv) AS BIGINT) AS dot
      |        FROM pruned p, q)
      |SELECT CAST(row_number() OVER (ORDER BY dot DESC, vec_id) AS BIGINT)
      |         AS rank,
      |       vec_id, dot,
      |       CAST((SELECT count(*) FROM pruned) AS BIGINT) AS n_scanned,
      |       CAST((SELECT count(*) FROM c) AS BIGINT) AS n_total
      |FROM res ORDER BY dot DESC, vec_id LIMIT 10""".stripMargin) { (s, d) =>
    import graft.functions.VectorOps
    import org.apache.spark.sql.expressions.Window
    val n = Tables.embeddings(s, d)
      .select(col("vec_id"), VectorOps.toDouble(col("embedding")).as("e"))
      .selectExpr("vec_id",
        """transform(e, x -> (CAST(floor((x + 1.0D) * 127.0D) AS BIGINT) - 127L)
          |  * (1L + vec_id % 50)) AS iv""".stripMargin)
      .selectExpr("vec_id", "iv",
        "aggregate(transform(iv, x -> x * x), 0L, (a, b) -> a + b) AS n2")
    val q = n.filter(col("vec_id") === 0)
      .select(col("iv").as("qiv"), col("n2").as("qn2"))
    val c = n.filter(col("vec_id") =!= 0)
    val dotExpr =
      "aggregate(zip_with(iv, qiv, (x, y) -> x * y), 0L, (a, b) -> a + b)"
    val seedDots = c.orderBy(col("n2").desc, col("vec_id")).limit(50)
      .crossJoin(broadcast(q))
      .selectExpr("vec_id", s"$dotExpr AS dot")
    val s10 = seedDots.orderBy(col("dot").desc, col("vec_id")).limit(10)
      .agg(min("dot").as("s"))
    val pruned = c.crossJoin(broadcast(q)).crossJoin(broadcast(s10))
      .filter(col("s") <= 0 || col("n2") * col("qn2") >= col("s") * col("s"))
    val nScanned = pruned.agg(count(lit(1)).as("n_scanned"))
    val nTotal = c.agg(count(lit(1)).as("n_total"))
    pruned.selectExpr("vec_id", s"$dotExpr AS dot")
      .orderBy(col("dot").desc, col("vec_id")).limit(10)
      .crossJoin(broadcast(nScanned)).crossJoin(broadcast(nTotal))
      .select(
        row_number().over(Window.orderBy(col("dot").desc, col("vec_id")))
          .cast("long").as("rank"),
        col("vec_id"), col("dot"), col("n_scanned"), col("n_total"))
      .orderBy("rank")
  }

  val all: Seq[QueryDef] = Seq(q18Similarity, q25EmbeddingNearDup, q26AnnIvf,
    q90RpLshNearDup, q107EmbeddingOutliers, q112AnnBatch, q125VecProbe,
    q167HybridRrf, q182HybridRrfAnn, q197PqAdc, q202IvfPq, q223EmbedDiag,
    q260TaTopk)
}

package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.engine.{QueryDef, Staging, Tables}

/** Z-ORDER data layout [EXT, north star scale design]: multi-dimensional
  * clustering so a 2-D box predicate prunes FILES, not just row groups —
  * the Delta/Iceberg `OPTIMIZE ZORDER BY` capability, realized with
  * Spark-native partitioned writes so the pruning is Catalyst
  * planning-time partition pruning (visible as PartitionFilters), not a
  * custom reader.
  *
  * Design: each row's two cluster keys are reduced to 4-bit grid
  * coordinates (`x >> shiftX`, with the shift chosen from the column max
  * so the grid always spans 16 cells per axis at ANY scale factor), then
  * bit-interleaved into an 8-bit Morton code `zb` — the write partitions
  * by `zb` (≤256 leaves, one file per leaf via a zb-hash repartition).
  * The load-bearing property: a Morton prefix of even length fixes the
  * high bits of BOTH axes, so every `zb` bucket is an axis-aligned
  * RECTANGLE `[xh<<s, (xh+1)<<s) × [yh<<s, (yh+1)<<s)` — a box predicate
  * maps to exactly the Morton codes of the grid rectangles it overlaps,
  * enumerated driver-side with pure arithmetic (no data scan), and the
  * pruning is provably sound (a bucket outside the enumeration cannot
  * contain a matching row).
  *
  * At 100 TB: `zb` buckets are file-level clustering (or a sort key
  * WITHIN existing partitions); widen the grid by raising `bits`. A
  * single-column range layout prunes one predicate dimension and
  * scatters the other — Morton trades a constant factor on each axis for
  * pruning on BOTH, the standard argument for Z-ordering fact tables
  * queried by (customer × time)-style boxes.
  *
  * Relationship to [[graft.sources.Lake.zorderWrite]] (the engine's
  * OTHER z-order): that one SORTS by a 32-bit Morton key so parquet
  * footer min/max stats tighten and row groups/files skip
  * OPPORTUNISTICALLY at scan time (LakeSpec measures the skip rate);
  * this one makes the bucket a PARTITION COLUMN so pruning is a
  * planning-time guarantee with a provably-sound driver-side bucket
  * enumeration (and an oracle-gated query). A 100 TB table wants both:
  * coarse directory buckets here, the sort key within each bucket there.
  */
object Layout {

  /** Grid bits per axis (4 → 16×16 grid, 256 buckets). */
  val bits = 4

  /** Morton-interleave two `bits`-bit grid coordinates; x takes the odd
    * (higher) bit positions. Column and driver forms share the formula.
    */
  private[graft] def mortonCol(xh: Column, yh: Column): Column =
    (0 until bits).map { i =>
      (shiftright(xh, i).bitwiseAND(lit(1)) * lit(1L << (2 * i + 1))) +
        (shiftright(yh, i).bitwiseAND(lit(1)) * lit(1L << (2 * i)))
    }.reduce(_ + _)

  def morton(xh: Long, yh: Long): Long =
    (0 until bits).map { i =>
      (((xh >> i) & 1L) << (2 * i + 1)) | (((yh >> i) & 1L) << (2 * i))
    }.reduce(_ | _)

  /** Right-shift that maps `[0, max]` onto the 4-bit grid:
    * `bitLength(max) - bits`, floored at 0 — data-derived, so the layout
    * adapts to any scale factor without a config knob.
    */
  def shiftFor(max: Long): Int =
    math.max(0, 64 - java.lang.Long.numberOfLeadingZeros(max) - bits)

  /** Layout metadata a reader needs to enumerate buckets: the per-axis
    * shifts (persisted beside the data — recomputing them would mean
    * scanning the raw table, exactly what the layout exists to avoid).
    */
  final case class ZMeta(xCol: String, yCol: String, shiftX: Int, shiftY: Int,
      maxX: Long, maxY: Long)

  /** Write `df` z-ordered by (xCol, yCol) under `dir`: one tiny agg for
    * the column maxes (the q102 model-sync pattern — 1 row to the
    * driver), one zb-hash repartition so each of the ≤256 buckets lands
    * in exactly one task (one file per leaf), one partitioned write.
    */
  def zorderWrite(df: DataFrame, xCol: String, yCol: String, dir: String): ZMeta = {
    val spark = df.sparkSession
    val row = df.agg(
      max(col(xCol).cast(LongType)), max(col(yCol).cast(LongType))).head()
    val (mx, my) = (row.getLong(0), row.getLong(1))
    val meta = ZMeta(xCol, yCol, shiftFor(mx), shiftFor(my), mx, my)
    val zb = mortonCol(
      shiftright(col(xCol).cast(LongType), meta.shiftX),
      shiftright(col(yCol).cast(LongType), meta.shiftY))
    df.withColumn("zb", zb)
      .repartition(col("zb"))
      .write.mode("overwrite").partitionBy("zb").parquet(s"$dir/data")
    // the sidecar goes through the Hadoop FileSystem like the data (and
    // like Versioned's manifests): java.nio against `dir` would land the
    // meta on the driver's LOCAL disk (or throw on a URI path) whenever
    // the layout targets s3://, hdfs:// — any non-local scheme
    val metaLine =
      s"${meta.xCol}\t${meta.yCol}\t${meta.shiftX}\t${meta.shiftY}\t${meta.maxX}\t${meta.maxY}\n"
    val fs = metaPath(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val out = fs.create(metaPath(dir), true)
    try out.write(metaLine.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    meta
  }

  private def metaPath(dir: String) =
    new org.apache.hadoop.fs.Path(dir, "_zmeta.tsv")

  def readMeta(spark: SparkSession, dir: String): ZMeta = {
    val fs = metaPath(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val in = fs.open(metaPath(dir))
    val text =
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    val Array(xc, yc, sx, sy, mx, my) = text.trim.split("\t")
    ZMeta(xc, yc, sx.toInt, sy.toInt, mx.toLong, my.toLong)
  }

  /** The Morton codes of every grid rectangle a box overlaps — pure
    * driver arithmetic over ≤16×16 cells, no data touched.
    */
  def bucketsFor(meta: ZMeta, x1: Long, x2: Long, y1: Long, y2: Long): Seq[Long] =
    for {
      xh <- (x1 >> meta.shiftX) to (x2 >> meta.shiftX)
      yh <- (y1 >> meta.shiftY) to (y2 >> meta.shiftY)
    } yield morton(xh, yh)

  /** Box read over a z-ordered layout: the bucket IN-list is a
    * PARTITION filter (planning-time directory pruning — unmatched
    * leaves are never listed into the scan), the exact box predicate
    * rides as a pushed data filter for the boundary buckets.
    */
  def zorderBoxRead(spark: SparkSession, dir: String,
      x1: Long, x2: Long, y1: Long, y2: Long): DataFrame = {
    val meta = readMeta(spark, dir)
    spark.read.parquet(s"$dir/data")
      .filter(col("zb").isin(bucketsFor(meta, x1, x2, y1, y2): _*))
      .filter(col(meta.xCol).between(x1, x2) && col(meta.yCol).between(y1, y2))
  }

  // q205 — Z-ORDER box query on the gate: lineitem laid out by
  // (l_partkey, l_suppkey), then a 2-D box (each axis spanning
  // [max/8, max/4] — bounds derived from the SAME max the layout used,
  // so selectivity is scale-invariant) read through the pruned path and
  // aggregated. The oracle replays the box over the RAW table — the
  // layout must be invisible to results (pruning soundness on the hash
  // gate; effectiveness and the PartitionFilters shape are LayoutSpec's
  // half). Decimal sums per the q12 discipline.
  val q205ZorderBox: QueryDef = QueryDef.sql(
    "q205_zorder_box",
    """SELECT COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(MAX(l_orderkey) AS BIGINT) AS max_order
      |FROM lineitem,
      |  (SELECT MAX(l_partkey) AS mx, MAX(l_suppkey) AS my FROM lineitem) m
      |WHERE l_partkey BETWEEN mx // 8 AND mx // 4
      |  AND l_suppkey BETWEEN my // 8 AND my // 4""".stripMargin) { (s, d) =>
    val dir = Staging.scratch("graft-layout-gate", "q205_zorder").getAbsolutePath
    val li = Tables.lineitem(s, d)
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
    val meta = zorderWrite(li, "l_partkey", "l_suppkey", dir)
    val (x1, x2) = (meta.maxX / 8, meta.maxX / 4)
    val (y1, y2) = (meta.maxY / 8, meta.maxY / 4)
    zorderBoxRead(s, dir, x1, x2, y1, y2)
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
        max(col("l_orderkey")).as("max_order"))
  }

  // q210 — ORC ROUND-TRIP (the columnar-format axis of the source/sink
  // inventory: parquet is the native testdata format, CSV/JSONL are the
  // lake's interchange sinks — ORC is the other columnar format a Spark
  // shop actually encounters, with its own footer stats, predicate
  // pushdown, and partitioned layout). orders is rewritten as ORC
  // partitioned by o_orderpriority, read back through `spark.read.orc`
  // with a partition filter (directory pruning — the priority dirs never
  // reach the scan) AND a data filter (ORC searchArgument pushdown), and
  // aggregated per the q12 decimal discipline. The oracle replays the
  // same filters over the RAW parquet table — format round-trip and
  // pushdown must be value-invisible. Scale: the rewrite is one
  // partitioned write (5 leaves; at 100 TB add a repartition on the
  // partition column); the read is the pruned scan.
  val q210OrcRoundtrip: QueryDef = QueryDef.sql(
    "q210_orc_roundtrip",
    """SELECT o_orderstatus,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |  CAST(MAX(o_orderkey) AS BIGINT) AS max_key
      |FROM orders
      |WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 50000
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin) { (s, d) =>
    val dir = Staging.scratch("graft-layout-gate", "q210_orc").getAbsolutePath
    val orders = Tables.orders(s, d)
    orders.write.mode("overwrite").partitionBy("o_orderpriority").orc(s"$dir/orders")
    // read back under the schema just written: zero-row input leaves no
    // partition directory to infer a schema from
    s.read.schema(orders.schema).orc(s"$dir/orders")
      .filter(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 50000)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sum_price"),
        max("o_orderkey").as("max_key"))
      .orderBy("o_orderstatus")
  }

  // q213 — BUCKETED fact-fact join with ZERO shuffle (the co-location
  // layout for the joins that dominate a 100 TB warehouse: when BOTH
  // fact tables are bucketed by the join key into the same bucket count,
  // the sort-merge join consumes bucket files directly — no Exchange on
  // either side, the single biggest cost of a fact-fact join gone at
  // PLANNING time; the Incremental LSH index (q106/q125) already uses
  // bucketing for its probe side, this puts the join itself on the
  // gate). lineitem and orders are written `bucketBy(8, key)` +
  // `sortBy(key)` (sorted bucket files also drop the per-task sorts),
  // joined with a merge hint (AQE cannot re-plan a zero-exchange,
  // single-stage join to broadcast), and aggregated; the oracle is the
  // plain join over the raw tables — the layout must be
  // result-invisible. LayoutSpec pins the plan: no shuffle on either
  // join input. At 100 TB the write cost amortizes over every
  // subsequent join/aggregation on the key, the standard bucketing
  // trade.
  val q213BucketedJoin: QueryDef = QueryDef.sql(
    "q213_bucketed_join",
    """SELECT o.o_orderpriority,
      |  COUNT(*) AS n_lines,
      |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |WHERE o.o_orderstatus = 'F'
      |GROUP BY o.o_orderpriority
      |ORDER BY o.o_orderpriority""".stripMargin) { (s, d) =>
    val (lt, ot) = ("graft_q213_lineitem", "graft_q213_orders")
    // the session catalog is in-memory but the warehouse directory is
    // not: a table written by a PREVIOUS JVM is an orphan location this
    // session's `overwrite` refuses to adopt (LOCATION_ALREADY_EXISTS).
    // Drop any catalog entry, then clear the orphan directory.
    Seq(lt, ot).foreach { t =>
      s.sql(s"DROP TABLE IF EXISTS $t")
      val wh = new java.net.URI(s.conf.get("spark.sql.warehouse.dir"))
      val loc = new java.io.File(
        if (wh.getScheme == null) wh.getPath
        else new java.io.File(wh).getAbsolutePath, t)
      if (loc.exists()) Staging.wipe(loc)
    }
    // pre-repartition by the BUCKET key with the bucket count: the
    // single-row-group testdata scan otherwise feeds ONE task that
    // sorts and writes all 8 buckets alone (measured 1.2 s of the
    // query); repartition(8, key) is the same Murmur3 hash the bucket
    // spec uses, so each task holds exactly one bucket and the file
    // layout is unchanged — the write just runs 8-way (guide §2.5)
    Tables.lineitem(s, d).select("l_orderkey", "l_extendedprice")
      .repartition(8, col("l_orderkey"))
      .write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable(lt)
    Tables.orders(s, d).select("o_orderkey", "o_orderstatus", "o_orderpriority")
      .repartition(8, col("o_orderkey"))
      .write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable(ot)
    s.table(lt)
      .join(s.table(ot).filter(col("o_orderstatus") === "F").hint("merge"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_lines"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("revenue"))
      .orderBy("o_orderpriority")
  }

  // q214 — DYNAMIC PARTITION PRUNING (the third pruning kind beside
  // q205's static partition filters and q210's pushed data filters: the
  // fact's partition filter is not known at PLANNING time — it is the
  // RESULT of the dim side's filter — so Catalyst injects a runtime
  // subquery, reuses the dim's broadcast, and skips fact partitions at
  // EXECUTION time; the star-schema pattern that saves the most I/O on
  // a date/region-partitioned 100 TB fact). lineitem lands partitioned
  // by ship MONTH; a 12-row season dim filtered to Q2 joins on the
  // partition column; only months 4–6's directories are read (the
  // `dynamicpruningexpression` in PartitionFilters — LayoutSpec pins
  // it). Oracle replays the month filter statically over raw lineitem.
  val q214Dpp: QueryDef = QueryDef.sql(
    "q214_dpp",
    """SELECT CAST(month(l_shipdate) AS INTEGER) AS ship_month,
      |  COUNT(*) AS n_lines,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |WHERE month(l_shipdate) IN (4, 5, 6)
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    import s.implicits._
    val dir = Staging.scratch("graft-layout-gate", "q214_dpp").getAbsolutePath
    val fact = Tables.lineitem(s, d)
      .select(col("l_quantity"), month(col("l_shipdate")).as("ship_month"))
    fact.write.mode("overwrite").partitionBy("ship_month").parquet(s"$dir/fact")
    // the dim must be a FILE relation: a literal LocalRelation's filter
    // constant-folds away and the DPP rule no longer sees a selective
    // predicate to derive the runtime subquery from
    (1 to 12).map(m => (m, s"Q${(m - 1) / 3 + 1}")).toDF("m", "season")
      .write.mode("overwrite").parquet(s"$dir/seasons")
    // the written schema, not inference (zero-row input: no partitions)
    s.read.schema(fact.schema).parquet(s"$dir/fact")
      .join(broadcast(s.read.parquet(s"$dir/seasons")
        .filter(col("season") === "Q2")),
        col("ship_month") === col("m"))
      .groupBy("ship_month")
      .agg(count(lit(1)).as("n_lines"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
      .orderBy("ship_month")
  }

  // q217 — 2-D GRID-BUCKETED spatial self-join (the two-dimensional
  // sibling of `plans/RangeJoinRule`'s 1-D cell rewrite, composed
  // manually where the optimizer rule handles the 1-D case
  // transparently): all point pairs within a 5×5 box of each other,
  // without an all-pairs join. Points land in 5-wide grid cells; since
  // |Δx| ≤ 5 forces |Δcell_x| ≤ 1, one side replicates into its 3×3
  // neighborhood and the join is a plain EQUI-join on the cell key —
  // each unordered pair meets EXACTLY once (the replicated keys are
  // distinct, and id_a < id_b keeps one orientation), so no distinct
  // pass is needed (the exactly-once argument RangeJoinRule proves in
  // 1-D). Coordinates derive deterministically from p_partkey; the
  // oracle is the brute-force inequality join over the same bounded
  // slice (the q25/q51 bounded-oracle discipline — the grid path is
  // the one that scales). Scale shape: ONE cell-keyed shuffle, 9×
  // replication of one side, quadratic only within 5×5 cells.
  val q217GridJoin: QueryDef = QueryDef.sql(
    "q217_grid_join",
    """WITH pts AS (SELECT p_partkey AS id,
      |               (p_partkey * 73) % 1000 AS x,
      |               (p_partkey * 179) % 1000 AS y
      |             FROM part WHERE p_partkey % 4 = 0)
      |SELECT a.id AS id_a, b.id AS id_b,
      |       CAST((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) AS BIGINT) AS dist2
      |FROM pts a JOIN pts b
      |  ON a.id < b.id AND ABS(a.x - b.x) <= 5 AND ABS(a.y - b.y) <= 5
      |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
    val pts = Tables.part(s, d).filter(col("p_partkey") % 4 === 0)
      .select(col("p_partkey").as("id"),
        (col("p_partkey") * 73 % 1000).as("x"),
        (col("p_partkey") * 179 % 1000).as("y"))
    val withCell = pts.withColumn("cx", expr("x div 5")).withColumn("cy", expr("y div 5"))
    val replicated = withCell.select(col("id").as("id_a"), col("x").as("xa"),
        col("y").as("ya"),
        explode(array((for (dx <- -1 to 1; dy <- -1 to 1) yield
          struct((col("cx") + dx).as("kx"), (col("cy") + dy).as("ky"))): _*)).as("k"))
      .select(col("id_a"), col("xa"), col("ya"),
        col("k.kx").as("kx"), col("k.ky").as("ky"))
    val anchored = withCell.select(col("id").as("id_b"), col("x").as("xb"),
      col("y").as("yb"), col("cx").as("kx"), col("cy").as("ky"))
    replicated.join(anchored, Seq("kx", "ky"))
      .filter(col("id_a") < col("id_b") &&
        abs(col("xa") - col("xb")) <= 5 && abs(col("ya") - col("yb")) <= 5)
      .select(col("id_a"), col("id_b"),
        ((col("xa") - col("xb")) * (col("xa") - col("xb")) +
          (col("ya") - col("yb")) * (col("ya") - col("yb"))).as("dist2"))
      .orderBy("id_a", "id_b")
  }

  // q224 — q217's box join written NAIVELY and rewritten by the
  // OPTIMIZER: the join condition is the plain 2-D theta
  // (|Δx| ≤ 5 AND |Δy| ≤ 5 AND id < id), which Spark alone plans as an
  // O(n²) BroadcastNestedLoopJoin; `RangeJoinRule`'s 2-D extension
  // detects the two bounded difference dimensions and emits the
  // grid-cell equi-join q217 builds by hand — same rows (q217 IS the
  // cross-check twin, both oracled identically), no manual bucketing in
  // user code. PropertySpec pins plan shape + brute-force equality on
  // generated frames.
  val q224GridJoinAuto: QueryDef = QueryDef.sql(
    "q224_grid_join_auto",
    """WITH pts AS (SELECT p_partkey AS id,
      |               (p_partkey * 73) % 1000 AS x,
      |               (p_partkey * 179) % 1000 AS y
      |             FROM part WHERE p_partkey % 4 = 0)
      |SELECT a.id AS id_a, b.id AS id_b,
      |       CAST((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) AS BIGINT) AS dist2
      |FROM pts a JOIN pts b
      |  ON a.id < b.id AND ABS(a.x - b.x) <= 5 AND ABS(a.y - b.y) <= 5
      |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
    graft.plans.RangeJoin.install(s)
    def pts(suffix: String) = Tables.part(s, d)
      .filter(col("p_partkey") % 4 === 0)
      .select(col("p_partkey").as(s"id$suffix"),
        (col("p_partkey") * 73 % 1000).as(s"x$suffix"),
        (col("p_partkey") * 179 % 1000).as(s"y$suffix"))
    pts("_a").join(pts("_b"),
      col("id_a") < col("id_b") &&
        abs(col("x_a") - col("x_b")) <= 5 && abs(col("y_a") - col("y_b")) <= 5)
      .select(col("id_a"), col("id_b"),
        ((col("x_a") - col("x_b")) * (col("x_a") - col("x_b")) +
          (col("y_a") - col("y_b")) * (col("y_a") - col("y_b"))).as("dist2"))
      .orderBy("id_a", "id_b")
  }

  // q229 — JSONL ROUND-TRIP on the gate (the interchange format every
  // corpus actually ships as; `Lake.writeJsonl`/`readJsonl` were
  // spec-only until now): documents export to sharded JSON-lines
  // (to_json escapes embedded quotes/newlines — the framing hazard),
  // read back with the EXPLICIT schema (never inference — at export
  // scale that is a full extra read), and aggregate per source. The
  // oracle runs the same aggregate over the raw table: the export must
  // be value-invisible, including every escaped character (a mangled
  // text changes token counts and cannot hash-match).
  val q229JsonlRoundtrip: QueryDef = QueryDef.sql(
    "q229_jsonl_roundtrip",
    """SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(len(list_filter(string_split(text, ' '), x -> x <> '')))
      |       AS BIGINT) AS n_toks,
      |  CAST(SUM(len(text)) AS BIGINT) AS n_chars
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    val dir = Staging.scratch("graft-layout-gate", "q229_jsonl").getAbsolutePath
    val docs = Tables.documents(s, d).select("doc_id", "source", "text")
    graft.sources.Lake.writeJsonl(docs, s"$dir/export", shards = 4)
    graft.sources.Lake.readJsonl(s, s"$dir/export", docs.schema)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(filter(split(col("text"), " "), x => x =!= "")))
          .cast("long").as("n_toks"),
        sum(length(col("text"))).cast("long").as("n_chars"))
      .orderBy("source")
  }

  // q230 — the reference's STAGING CSV (S6) on the oracle gate: offer
  // rows synthesized from part (all-string 6-column schema, empty-string
  // missing values — the reference's exact conventions,
  // transform_data.py:35-54) go through `Lake.writeCsv` (header,
  // null→'' fill) and `Lake.readCsv` (declared schema — inference would
  // promote all-digit salary strings to numerics and silently change
  // downstream extraction; ''-fill on the way in), then aggregate per
  // currency INCLUDING the empty-currency group — proving '' survives
  // the header/quote/empty-field round-trip. Salary sums cast the
  // strings back to BIGINT over NULLIF, exactly as a downstream parser
  // would.
  val q230CsvStaging: QueryDef = QueryDef.sql(
    "q230_csv_staging",
    """WITH o AS (SELECT
      |    p_name AS position,
      |    'Firm' || CAST(p_partkey % 7 AS VARCHAR) AS company_name,
      |    CASE WHEN p_partkey % 5 = 0 THEN ''
      |         ELSE CAST(p_partkey * 13 % 9000 + 1000 AS VARCHAR) END AS minimum,
      |    CASE WHEN p_partkey % 5 = 0 THEN ''
      |         ELSE CAST(p_partkey * 13 % 9000 + 2000 AS VARCHAR) END AS maximum,
      |    CASE p_partkey % 3 WHEN 0 THEN 'PLN' WHEN 1 THEN 'EUR' ELSE '' END
      |      AS currency,
      |    CASE WHEN p_partkey % 4 = 0 THEN 'month' ELSE 'h' END AS pay_period
      |  FROM part)
      |SELECT currency, COUNT(*) AS n_offers,
      |  CAST(SUM(CAST(NULLIF(minimum, '') AS BIGINT)) AS BIGINT) AS sum_min,
      |  CAST(COUNT(*) FILTER (minimum = '') AS BIGINT) AS n_blank,
      |  CAST(COUNT(*) FILTER (pay_period = 'month') AS BIGINT) AS n_monthly
      |FROM o GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    val dir = Staging.scratch("graft-layout-gate", "q230_csv").getAbsolutePath
    val offers = Tables.part(s, d).select(
      col("p_name").as("position"),
      concat(lit("Firm"), (col("p_partkey") % 7).cast("string")).as("company_name"),
      when(col("p_partkey") % 5 === 0, "")
        .otherwise((col("p_partkey") * 13 % 9000 + 1000).cast("string")).as("minimum"),
      when(col("p_partkey") % 5 === 0, "")
        .otherwise((col("p_partkey") * 13 % 9000 + 2000).cast("string")).as("maximum"),
      when(col("p_partkey") % 3 === 0, "PLN")
        .when(col("p_partkey") % 3 === 1, "EUR").otherwise("").as("currency"),
      when(col("p_partkey") % 4 === 0, "month").otherwise("h").as("pay_period"))
    graft.sources.Lake.writeCsv(offers, s"$dir/staging")
    graft.sources.Lake.readCsv(s, s"$dir/staging")
      .groupBy("currency")
      .agg(count(lit(1)).as("n_offers"),
        sum(nullif(col("minimum"), lit("")).cast("long")).as("sum_min"),
        count(when(col("minimum") === "", 1)).as("n_blank"),
        count(when(col("pay_period") === "month", 1)).as("n_monthly"))
      .orderBy("currency")
  }

  // q245 — INTERVAL OVERLAP JOIN (campaign windows × incident windows —
  // the temporal sibling of q217's 2-D box join, and the interval×interval
  // shape `RangeJoinRule`'s point-in-window rewrite does NOT cover): each
  // interval explodes to the ~(len/C + 1) time cells it covers (C = 16 ≥
  // the max interval length, so ≤ 2 cells per row by construction), the
  // join is a cell EQUI-join, and each overlapping pair survives exactly
  // once via the canonical anchor predicate — keep the pair only in the
  // cell containing greatest(start_a, start_b), which lies in both
  // intervals precisely when they overlap. LEFT-join back to the
  // campaign spine keeps zero-overlap campaigns visible. Scale shape:
  // one cell-keyed shuffle instead of the O(campaigns × incidents)
  // nested loop Spark alone would plan; quadratic only within a cell.
  // The oracle is DuckDB's native inequality join over the same rows.
  val q245IntervalJoin: QueryDef = QueryDef.sql(
    "q245_interval_join",
    """WITH camp AS (SELECT p_partkey AS cid,
      |               (p_partkey * 13) % 30000 AS cs,
      |               (p_partkey * 13) % 30000 + 1 + p_partkey % 14 AS ce
      |             FROM part),
      |inc AS (SELECT o_orderkey AS iid,
      |               (o_orderkey * 7) % 30000 AS s,
      |               (o_orderkey * 7) % 30000 + 1 + o_orderkey % 10 AS e
      |        FROM orders),
      |ov AS (SELECT c.cid, COUNT(*) AS n_incidents,
      |              SUM(least(c.ce, i.e) - greatest(c.cs, i.s) + 1) AS days
      |       FROM camp c JOIN inc i ON c.cs <= i.e AND i.s <= c.ce
      |       GROUP BY 1)
      |SELECT c.cid, CAST(COALESCE(o.n_incidents, 0) AS BIGINT) AS n_incidents,
      |       CAST(COALESCE(o.days, 0) AS BIGINT) AS overlap_days
      |FROM camp c LEFT JOIN ov o USING (cid)
      |ORDER BY c.cid""".stripMargin) { (s, d) =>
    val camp = Tables.part(s, d).select(col("p_partkey").as("cid"),
      (col("p_partkey") * 13 % 30000).as("cs"),
      (col("p_partkey") * 13 % 30000 + 1 + col("p_partkey") % 14).as("ce"))
    val inc = Tables.orders(s, d).select(col("o_orderkey").as("iid"),
      (col("o_orderkey") * 7 % 30000).as("s"),
      (col("o_orderkey") * 7 % 30000 + 1 + col("o_orderkey") % 10).as("e"))
    val campExp = camp.select(col("cid"), col("cs"), col("ce"),
      explode(sequence(expr("cs div 16"), expr("ce div 16"))).as("k"))
    val incExp = inc.select(col("iid"), col("s"), col("e"),
      explode(sequence(expr("s div 16"), expr("e div 16"))).as("k"))
    val pairs = campExp.join(incExp, Seq("k"))
      .filter(col("cs") <= col("e") && col("s") <= col("ce") &&
        expr("greatest(cs, s) div 16") === col("k"))
    val ov = pairs.groupBy("cid")
      .agg(count(lit(1)).as("n_incidents"),
        sum(least(col("ce"), col("e")) - greatest(col("cs"), col("s")) + 1)
          .as("days"))
    camp.select("cid").join(ov, Seq("cid"), "left")
      .select(col("cid"),
        coalesce(col("n_incidents"), lit(0L)).as("n_incidents"),
        coalesce(col("days"), lit(0L)).as("overlap_days"))
      .orderBy("cid")
  }

  // q235 — XML ROUND-TRIP on the gate (Spark 4's NATIVE xml source —
  // the partner-feed format next to q229's JSONL and q230's CSV,
  // completing the interchange trio): documents export to sharded
  // one-element-per-row XML, read back with the EXPLICIT schema and
  // `ignoreSurroundingSpaces=false` (the default TRIMS element text —
  // the silent-mangle trap this query pins), then aggregate per source.
  // The aggregate is escape-sensitive three ways: `n_esc` counts the
  // characters XML must entity-encode (`< > &` — a lost or doubled
  // escape shifts it), `n_padded` counts docs whose text carries
  // leading/trailing whitespace (trim-fidelity), and `n_chars` catches
  // any other byte drift. The oracle computes the same aggregate over
  // the RAW table: the export must be value-invisible.
  val q235XmlRoundtrip: QueryDef = QueryDef.sql(
    "q235_xml_roundtrip",
    """SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(len(text)) AS BIGINT) AS n_chars,
      |  CAST(SUM(len(text) - len(replace(replace(replace(text,
      |       '<', ''), '>', ''), '&', ''))) AS BIGINT) AS n_esc,
      |  CAST(COUNT(*) FILTER (text <> trim(text)) AS BIGINT) AS n_padded
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    val dir = Staging.scratch("graft-layout-gate", "q235_xml").getAbsolutePath
    val docs = Tables.documents(s, d).select("doc_id", "source", "text")
    graft.sources.Lake.writeXml(docs, s"$dir/export", rowTag = "doc", shards = 4)
    graft.sources.Lake.readXml(s, s"$dir/export", rowTag = "doc", docs.schema)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).cast("long").as("n_chars"),
        sum(length(col("text")) - length(translate(col("text"), "<>&", "")))
          .cast("long").as("n_esc"),
        count(when(col("text") =!= trim(col("text")), 1)).as("n_padded"))
      .orderBy("source")
  }

  val all: Seq[QueryDef] = Seq(q205ZorderBox, q210OrcRoundtrip, q213BucketedJoin,
    q214Dpp, q217GridJoin, q224GridJoinAuto, q229JsonlRoundtrip, q230CsvStaging,
    q235XmlRoundtrip, q245IntervalJoin)
}

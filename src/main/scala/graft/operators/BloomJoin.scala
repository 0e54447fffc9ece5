package graft.operators

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftSqlShim
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.util.sketch.BloomFilter

import graft.engine.{QueryDef, Tables}
import graft.functions.GraftFunctions

/** Bloom-pruned join [EXT, north star]: build a Bloom filter over the
  * build side's join keys (distributed aggregation), probe it with a
  * native codegen'd expression ([[graft.functions.BloomMightContainBc]],
  * broadcast-backed) INSIDE the probe side's scan stage, and only then
  * run the exact join.
  *
  * Results are bit-identical to the plain join — the Bloom pass admits
  * false positives and the exact join removes them — but the probe rows
  * that survive to the shuffle drop from 100 % to (true selectivity +
  * fpp). At 100 TB this is the difference between shuffling the whole
  * fact table and shuffling the ~20 % that can match; Spark's AQE injects
  * the same shape automatically in narrow cases
  * (`spark.sql.optimizer.runtime.bloomFilter.enabled`), and this operator
  * is the user-directed form for when the build side is an arbitrary
  * sub-pipeline the optimizer cannot size.
  */
object BloomJoin {

  /** Broadcast Bloom filter over `keyCol` of `build` (bigint keys).
    * `df.stat.bloomFilter` aggregates partition-local filters and ORs
    * them on the driver — one distributed pass, no collect of keys — and
    * the result ships back out as a torrent broadcast, so the plan holds
    * a handle, not the filter bytes (see
    * [[graft.functions.BloomMightContainBc]]).
    *
    * `expectedKeys` is an UPPER BOUND, not a measurement: oversizing only
    * lowers the realized fpp (more bits per actual key), so callers
    * should pass a cheap conservative estimate — a catalog row count, a
    * prior `approx_count_distinct` statistic — rather than spend a
    * counting job on the build side.
    */
  def buildKeyBloom(build: DataFrame, keyCol: String,
      expectedKeys: Long, fpp: Double = 0.01): Broadcast[BloomFilter] = {
    val n = math.max(expectedKeys, 1L)
    // `stat.bloomFilter`'s own aggregation, run here because an EMPTY
    // build side aggregates to NULL, which `stat.bloomFilter` hands to
    // `BloomFilter.readFrom` (an NPE): no keys is an empty filter
    val agg = new BloomFilterAggregate(GraftSqlShim.expression(col(keyCol)),
      Literal(n), Literal(BloomFilter.optimalNumOfBits(n, fpp)))
    val bytes = build.select(GraftSqlShim.column(agg.toAggregateExpression()))
      .head().getAs[Array[Byte]](0)
    build.sparkSession.sparkContext.broadcast(
      if (bytes == null) BloomFilter.create(n, fpp) else BloomFilter.readFrom(bytes))
  }

  /** Broadcast-size ceiling for the sketch: 2^28 keys at 1 % fpp is a
    * ~320 MB filter — about the largest broadcast worth shipping. Above
    * the cap the realized fpp degrades gracefully (the prune admits more
    * rows; the exact join keeps results identical) and callers should
    * switch to Spark's partition-wise `runtime.bloomFilter` injection.
    */
  val MaxBloomKeys: Long = 1L << 28

  /** Catalog-derived upper bound on `df`'s row count — zero jobs run.
    * Prefers the optimizer's row-count statistic (present under CBO /
    * collected stats); otherwise divides the scan's `sizeInBytes` (the
    * on-disk parquet footprint, known from the file listing) by a
    * deliberately small bytes-per-row floor so compression cannot make
    * the estimate undershoot. Oversizing a Bloom filter only lowers its
    * realized fpp, so erring high is the safe direction; the result is
    * clamped to [2^16, [[MaxBloomKeys]]].
    *
    * Stats-less plans (no file-backed scan, no CBO — e.g. a local
    * relation or an in-memory build side) carry Spark's
    * `defaultSizeInBytes` sentinel (`Long.MaxValue`), not a measurement.
    * Dividing the sentinel would always clamp to [[MaxBloomKeys]] — a
    * ~320 MB filter for a build side Spark knows nothing about — so the
    * sentinel falls back to a modest 2^20 default instead: small enough
    * to broadcast freely, and undersizing only raises realized fpp (the
    * exact join keeps results identical). All arithmetic stays in
    * `BigInt` until after the clamp — `BigInt.toLong` wraps silently.
    */
  def estimateRows(df: DataFrame, minBytesPerRow: Long = 8L): Long = {
    val stats = df.queryExecution.optimizedPlan.stats
    val sentinel = BigInt(Long.MaxValue)
    val est: BigInt = stats.rowCount.getOrElse {
      if (stats.sizeInBytes >= sentinel) BigInt(1L << 20)
      else stats.sizeInBytes / minBytesPerRow
    }
    (est.max(BigInt(1L << 16)).min(BigInt(MaxBloomKeys))).toLong
  }

  /** Probe-side pre-filter: keep rows whose `key` might be in the bloom. */
  def bloomPrune(probe: DataFrame, key: Column, bloom: Broadcast[BloomFilter]): DataFrame =
    probe.filter(GraftFunctions.bloomMightContain(key, bloom))

  // q77 — revenue by month for urgent orders, with the lineitem probe
  // side Bloom-pruned on l_orderkey before the exact join. The oracle is
  // the PLAIN join: the Bloom pass must not change a single row. The
  // filter is sized from the catalog (estimateRows: parquet scan bytes /
  // conservative row width — scales with the data, no baked constant) so
  // the build side runs exactly ONE query — the bloomFilter aggregation
  // (under AQE its shuffle and result stages run as two Spark jobs) —
  // with no sizing count() before it. At test scale the exact join broadcasts;
  // at 100 TB it becomes a shuffle join over the ~20 % of lineitem that
  // survives the probe, with the filter moving once per executor via
  // broadcast rather than riding in every task binary.
  val q77BloomJoin: QueryDef = QueryDef.sql(
    "q77_bloom_join",
    """SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS order_month,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_items
      |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE o_orderpriority = '1-URGENT'
      |GROUP BY 1
      |ORDER BY 1""".stripMargin) { (s, d) =>
    val urgent = Tables.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey", "o_orderdate")
    val bloom = buildKeyBloom(urgent, "o_orderkey",
      expectedKeys = estimateRows(urgent))
    val one = lit(1).cast(DecimalType(3, 2))
    val probe = bloomPrune(
      Tables.lineitem(s, d).select("l_orderkey", "l_extendedprice", "l_discount"),
      col("l_orderkey"), bloom)
      .select(col("l_orderkey"),
        (col("l_extendedprice").cast(DecimalType(12, 2)) *
          (one - col("l_discount").cast(DecimalType(4, 2)))).as("rev"))
    probe.join(urgent, col("l_orderkey") === col("o_orderkey"))
      .groupBy(date_trunc("month", col("o_orderdate")).cast(TimestampNTZType).as("order_month"))
      .agg(sum(col("rev")).cast(DoubleType).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("order_month")
  }

  val all: Seq[QueryDef] = Seq(q77BloomJoin)
}

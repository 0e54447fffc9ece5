package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Readers for the driver-generated testdata lake (TESTDATA.md).
  *
  * One parquet file per table at `sfDir`. At 100 TB these would be
  * partitioned/bucketed datasets; the reader API is the same
  * (`spark.read.parquet(dir)`), so every operator downstream is written
  * against the DataFrame, never the file layout. Column pruning and
  * predicate pushdown reach the parquet scan automatically because all
  * engine operators are declarative (`select`/`filter` before any wide op).
  */
object Tables {
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** Ensure enough partitions for per-row-heavy downstream work (regex,
    * JSON parse, shingling). A parquet file is parallelized by row group,
    * and the testdata files have exactly one — so without this, every
    * per-row operator before the first shuffle runs on a single task. At
    * production scale inputs have many row groups and this is a no-op
    * (the split estimate keeps it from adding a shuffle there).
    *
    * The split count comes from the scan's file index, NOT `df.rdd`
    * (which would instantiate the whole RDD lineage at build time once
    * per query just to read a partition count): splits ≈
    * ceil(scanBytes / files.maxPartitionBytes), the same arithmetic
    * `FilePartition` packing uses.
    */
  def widen(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    val maxBytes = math.max(1L, spark.sessionState.conf.filesMaxPartitionBytes)
    def splits(p: org.apache.spark.sql.execution.SparkPlan): Long = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        splits(a.executedPlan)
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        math.max(1L, (s.relation.location.sizeInBytes + maxBytes - 1) / maxBytes)
      case other if other.children.nonEmpty => other.children.map(splits).sum
      case _ => target.toLong // non-file leaf (range, local rows): already parallel
    }
    if (splits(df.queryExecution.executedPlan) < math.max(2, target / 2))
      df.repartition(target)
    else df
  }

  /** `events.ts` has shipped as both TIMESTAMP(NANOS) parquet (which Spark
    * only reads as raw longs via `nanosAsLong`) and plain µs TIMESTAMP —
    * the testdata generation changed across rounds. Normalize either
    * physical layout to a µs TIMESTAMP_NTZ — the same type DuckDB's
    * oracle side produces — branching on the type actually read.
    */
  private val eventsSchemaCache =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession,
        scala.collection.concurrent.TrieMap[String, org.apache.spark.sql.types.StructType]])

  private def eventsWithTs(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    // `nanosAsLong` is only needed for the one-time footer-schema PEEK
    // (a nanos footer throws on inference without it); the actual reads
    // use the cached EXPLICIT schema, which needs no flag. Scoping the
    // flag to the peek (set + restore, once per session+dir) keeps a
    // later unrelated nanos-parquet inference failing loudly, and the
    // per-dir schema cache keeps conf churn (which invalidates session
    // file-listing/footer caches) a constant, not per-query, cost.
    val perDir = eventsSchemaCache.computeIfAbsent(spark,
      _ => scala.collection.concurrent.TrieMap.empty)
    val schema = perDir.getOrElseUpdate(sfDir,
      ScopedConf(spark, "spark.sql.legacy.parquet.nanosAsLong" -> "true")(
        table(spark, sfDir, "events").schema))
    val raw = spark.read.schema(schema).parquet(s"$sfDir/events.parquet")
    val ts = raw.schema("ts").dataType match {
      case LongType => timestamp_micros(expr("ts div 1000")) // nanos-as-long
      case _        => col("ts")                             // already a timestamp
    }
    raw.withColumn("ts", ts.cast(TimestampNTZType))
  }

  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = eventsWithTs(s, d)
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}

package graft.sources

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** The reference's partitioned lake layout (S7/S8/D1,
  * `/root/reference/config.py:11-99`), Spark-native.
  *
  * Layout: `base/site=…/region=…/experience=…/snapshot_date=…` via
  * `partitionBy` — the Spark form of the reference's
  * `base/site/region/exp/ddmmyyyy.ext` directory scheme. Reads that filter
  * on the partition keys prune at the file index, which is the
  * reference's "navigate straight to the leaf dir" behavior for free.
  *
  * The `ddmmyyyy` filename ordering in the reference sorts wrongly across
  * month boundaries (`config.py:98-99` picks the lexicographic max);
  * modeling the snapshot date as a real `DateType` partition column keeps
  * the *intent* (latest by date) and fixes the bug — `latestSnapshot` is
  * `max(snapshot_date)` per key, not a string sort.
  *
  * 100 TB notes: partition keys are low-cardinality dictionary values
  * (site/region/experience), so the layout yields a few thousand
  * directories, each internally splittable parquet; snapshot pruning
  * means a "latest" read touches one date partition per leaf, never the
  * history.
  */
object Lake {

  /** Dictionary tables (config.py:11-40), as broadcastable lookups. */
  val siteAbbreviations: Seq[(String, String)] =
    Seq("justjoinit" -> "jjit", "pracujplit" -> "ppl")

  val regionAbbreviations: Seq[(String, String)] = Seq(
    "warszawa" -> "waw", "warsaw" -> "waw", "gdansk" -> "gd",
    "trojmiasto" -> "tri", "all-locations" -> "all", "all" -> "all")

  val experienceAbbreviations: Seq[(String, String)] = Seq(
    "junior" -> "j", "mid" -> "m", "senior" -> "s", "intern" -> "i",
    "c-level" -> "man", "c-level,mid" -> "man",
    "1" -> "i", "3" -> "as", "17" -> "j", "4" -> "m", "18" -> "s",
    "19" -> "ex", "20" -> "man", "20%2C6" -> "man")

  /** D1 `get_abbreviations` (config.py:47-53) as expressions over columns:
    * dictionary lookup via broadcast join with the reference's fallback
    * chain (site → first 4 chars, region → first 3 chars of the city,
    * experience → first char).
    */
  def withAbbreviations(df: DataFrame, site: String = "site",
      city: String = "city", experience: String = "experience"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val sites = spark.createDataset(siteAbbreviations).toDF("site_key", "site_abbr")
    val regions = spark.createDataset(regionAbbreviations).toDF("region_key", "region_abbr")
    val exps = spark.createDataset(experienceAbbreviations).toDF("exp_key", "exp_abbr")
    df
      .join(broadcast(sites), col(site) === col("site_key"), "left")
      .join(broadcast(regions),
        coalesce(lower(col(city)), lit("all")) === col("region_key"), "left")
      .join(broadcast(exps), lower(col(experience)) === col("exp_key"), "left")
      .select(df.columns.map(col) ++ Seq(
        coalesce(col("site_abbr"), substring(col(site), 1, 4)).as("site_abbr"),
        coalesce(col("region_abbr"),
          when(col(city).isNull || col(city) === "", lit("all"))
            .otherwise(substring(col(city), 1, 3))).as("region_abbr"),
        coalesce(col("exp_abbr"), substring(lower(col(experience)), 1, 1)).as("exp_abbr")): _*)
  }

  /** S4/S8: write a snapshot dataset into the partitioned lake. */
  def writeSnapshot(df: DataFrame, baseDir: String): Unit =
    df.write
      .partitionBy("site", "region", "experience", "snapshot_date")
      .mode("append")
      .parquet(baseDir)

  /** S6 CSV sink with header (`DataTransform/transform_data.py:285-289`):
    * the reference's staging output format. Missing values are written as
    * empty strings, matching the reference's convention (its rows carry
    * `""`, never null).
    */
  def writeCsv(df: DataFrame, path: String): Unit = {
    val filled = df.na.fill("")
    filled.write.option("header", "true").mode("overwrite").csv(path)
  }

  /** The reference's staging CSV schema (`transform_data.py:35-36` —
    * both site transformers declare the same 6 columns), all-string by
    * construction: the reference's parsers emit strings only, with
    * missing values as empty strings (`transform_data.py:49-54`).
    */
  val stagingSchema: StructType = StructType(
    Seq("position", "company_name", "minimum", "maximum", "currency", "pay_period")
      .map(StructField(_, StringType)))

  /** S6 read-back twin of [[writeCsv]]: re-ingest a staging CSV with the
    * declared schema — never inference, which would promote all-digit
    * salary columns to numerics and silently change downstream
    * extraction semantics. Empty fields come back as EMPTY STRINGS, not
    * null, matching the reference's convention (its rows carry `""`,
    * never None); Spark's CSV reader surfaces empty unquoted fields as
    * null, so the fill is applied explicitly on the way in.
    *
    * 100 TB note: CSV is splittable without a codec (and with bzip2);
    * an explicit schema also skips the inference pass, which at scale is
    * a full extra read of every file.
    */
  def readCsv(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", "true")
      .schema(stagingSchema)
      .csv(path)
      .na.fill("")

  /** Read the lake (partition columns come back from the directory names). */
  def read(spark: SparkSession, baseDir: String): DataFrame =
    spark.read.parquet(baseDir)

  /** Read a lake whose schema EVOLVED across snapshots (the scraper grew
    * a column mid-history — the normal life of any long-lived lake):
    * per-file footers are reconciled into the union schema and files
    * missing a column surface NULL for it, so downstream queries never
    * branch on snapshot vintage. Spark only pays the footer merge when
    * asked (`mergeSchema` is off by default because it reads every
    * footer at planning time) — at 100 TB pin the evolved schema
    * explicitly via `.schema(...)` instead and keep listing O(1); this
    * entry point is for the exploration path where the union schema is
    * the thing being discovered.
    */
  def readEvolved(spark: SparkSession, baseDir: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(baseDir)

  /** S7/O3 `get_latest_file` (config.py:81-99): newest snapshot per
    * (site, region, experience) leaf — real date ordering, `row_number`
    * for a deterministic winner.
    */
  def latestSnapshot(lake: DataFrame): DataFrame = {
    val w = Window.partitionBy("site", "region", "experience")
      .orderBy(col("snapshot_date").desc)
    lake.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Latest snapshot for one leaf, with partition pruning: the filter on
    * the three partition keys reaches the file index, so only that leaf's
    * directories are listed — the engine-shaped form of "resolve the leaf
    * dir, take the newest file".
    */
  def latestSnapshot(lake: DataFrame, site: String, region: String,
      experience: String): DataFrame =
    latestSnapshot(lake.filter(
      col("site") === site && col("region") === region &&
        col("experience") === experience))

  /** TIME TRAVEL over the dated-partition history: the newest snapshot
    * per leaf AS OF `date` — "what did the lake say last Tuesday",
    * answered from the same snapshot_date partitions retention keeps.
    * The date bound is a partition-column filter, so pruning drops every
    * newer directory before the per-leaf row_number picks the winner;
    * [[latestSnapshot]] is the `date = today` special case.
    */
  def asOfSnapshot(lake: DataFrame, date: java.sql.Date): DataFrame =
    latestSnapshot(lake.filter(col("snapshot_date") <= lit(date)))

  /** Snapshot retention: delete all but the newest `keep` snapshot-date
    * partitions under every (site, region, experience) leaf. The
    * reference accumulates one snapshot per scrape round forever
    * (config.py's dated files are never pruned); at scale the history
    * dominates storage while queries only read the latest (S7), so
    * retention is the lake-maintenance op that keeps the file index
    * bounded. Deletion is per-directory and newest-first-protected: the
    * newest `keep` dates in each leaf are NEVER touched, so a concurrent
    * latest-snapshot read stays valid. Returns the deleted partition
    * paths (for the caller's audit log).
    */
  def vacuumSnapshots(spark: SparkSession, baseDir: String, keep: Int): Seq[String] = {
    require(keep >= 1, s"must keep at least 1 snapshot, got $keep")
    val fs = new org.apache.hadoop.fs.Path(baseDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dirs(p: org.apache.hadoop.fs.Path, prefix: String) =
      if (!fs.exists(p)) Array.empty[org.apache.hadoop.fs.FileStatus]
      else fs.listStatus(p).filter(s =>
        s.isDirectory && s.getPath.getName.startsWith(prefix))
    val deleted = for {
      site <- dirs(new org.apache.hadoop.fs.Path(baseDir), "site=")
      region <- dirs(site.getPath, "region=")
      exp <- dirs(region.getPath, "experience=")
      // snapshot_date=YYYY-MM-DD sorts correctly as a string
      stale <- dirs(exp.getPath, "snapshot_date=")
        .sortBy(_.getPath.getName)(Ordering[String].reverse)
        .drop(keep)
    } yield {
      fs.delete(stale.getPath, true)
      stale.getPath.toString
    }
    deleted.toSeq
  }

  /** Selective in-place compaction: rewrite ONLY the leaf snapshot
    * partitions whose file count exceeds what `targetBytes`-sized files
    * would need, into `ceil(totalBytes / targetBytes)` files each.
    * Complements [[compact]] (full-lake rewrite to a fresh directory):
    * at 100 TB a full rewrite to fix one day's small-file accretion is
    * off the table — the practical maintenance op touches only the
    * oversized leaves and leaves every healthy leaf's files untouched.
    *
    * Not transactional (that is what a table format's commit protocol
    * adds): the tmp-dir write is completed and verified BEFORE any old
    * file is deleted, so a crash leaves either the old files plus an
    * ignorable `_compact_tmp` dir (Spark skips underscore-prefixed
    * paths) or the fully compacted leaf — never a partial leaf.
    * Returns (leafPath, filesBefore, filesAfter) per rewritten leaf.
    */
  def compactSnapshots(spark: SparkSession, baseDir: String,
      targetBytes: Long = 128L * 1024 * 1024): Seq[(String, Int, Int)] = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val fs = new org.apache.hadoop.fs.Path(baseDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dirs(p: org.apache.hadoop.fs.Path, prefix: String) =
      if (!fs.exists(p)) Array.empty[org.apache.hadoop.fs.FileStatus]
      else fs.listStatus(p).filter(s =>
        s.isDirectory && s.getPath.getName.startsWith(prefix))
    val leaves = for {
      site <- dirs(new org.apache.hadoop.fs.Path(baseDir), "site=")
      region <- dirs(site.getPath, "region=")
      exp <- dirs(region.getPath, "experience=")
      snap <- dirs(exp.getPath, "snapshot_date=")
    } yield snap.getPath
    leaves.toSeq.flatMap { leaf =>
      val dataFiles = fs.listStatus(leaf).filter(s =>
        s.isFile && s.getPath.getName.endsWith(".parquet"))
      val totalBytes = dataFiles.map(_.getLen).sum
      val want = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
      if (dataFiles.length <= want) None
      else {
        val tmp = new org.apache.hadoop.fs.Path(leaf, "_compact_tmp")
        fs.delete(tmp, true) // stale tmp from a crashed prior run
        // leaf-dir read: partition values live in the directory name, so
        // the rewritten rows carry exactly the data columns of the leaf
        spark.read.parquet(leaf.toString)
          .repartition(want)
          .write.mode("overwrite").parquet(tmp.toString)
        val newFiles = fs.listStatus(tmp).filter(s =>
          s.isFile && s.getPath.getName.endsWith(".parquet"))
        require(newFiles.nonEmpty, s"compaction produced no files for $leaf")
        // point of no return: tmp write is complete and non-empty
        dataFiles.foreach(f => fs.delete(f.getPath, false))
        newFiles.foreach(f =>
          fs.rename(f.getPath, new org.apache.hadoop.fs.Path(leaf, f.getPath.getName)))
        fs.delete(tmp, true)
        Some((leaf.toString, dataFiles.length, newFiles.length))
      }
    }
  }

  /** Spread the low 16 bits of `c` to even bit positions (Morton
    * spreading by magic-number masks — 4 codegen'd shift/and steps, no
    * UDF). Building block of [[zorderKey]].
    */
  private def spread16(c: Column): Column = {
    def step(x: Column, shift: Int, mask: Long): Column =
      x.bitwiseOR(shiftleft(x, shift)).bitwiseAND(lit(mask))
    val x0 = c.cast("long").bitwiseAND(lit(0xFFFFL))
    step(step(step(step(x0, 8, 0x00FF00FFL), 4, 0x0F0F0F0FL), 2, 0x33333333L), 1, 0x55555555L)
  }

  /** Scale a numeric column to a 16-bit bucket over [minV, maxV]. */
  private def bucket16(c: Column, minV: Double, maxV: Double): Column = {
    val span = math.max(maxV - minV, Double.MinPositiveValue)
    least(lit(65535L), greatest(lit(0L),
      ((c.cast("double") - minV) / span * 65535.0).cast("long")))
  }

  /** Z-order (Morton) key over two numeric columns: 16-bit buckets per
    * dimension, bits interleaved. Rows close in BOTH dimensions get
    * close keys, so range-partitioning + sorting on the key clusters
    * the file layout in both dimensions at once.
    */
  def zorderKey(a: Column, minA: Double, maxA: Double,
      b: Column, minB: Double, maxB: Double): Column =
    spread16(bucket16(a, minA, maxA))
      .bitwiseOR(shiftleft(spread16(bucket16(b, minB, maxB)), 1))

  /** Z-order clustered rewrite: the multi-dimensional cousin of
    * [[compact]]. A lake sorted by ONE column gives tight parquet
    * min/max footer stats — and therefore file/row-group skipping — for
    * that column only; interleaving two dimensions makes BOTH columns'
    * per-file ranges narrow (each dimension's span shrinks ~√nFiles
    * instead of 1 for the unsorted one), so predicates on either column
    * prune files. The classic layout choice for a 100 TB fact table
    * queried by both user and time/value ranges.
    *
    * One pass computes the bucket bounds (min/max agg), one range
    * shuffle clusters the rows; the key column never reaches the files.
    * Like [[compact]], the write goes to a NEW directory — swap, never
    * in place.
    *
    * Sibling: [[graft.operators.Layout]] (q205) carries the coarse
    * variant where the Morton bucket IS a partition column, making box
    * pruning a planning-time guarantee instead of a footer-stats
    * opportunity; within such a bucket, THIS sort is the layout.
    */
  def zorderWrite(df: DataFrame, outDir: String,
      colA: String, colB: String, nFiles: Int): Unit =
    zorderClustered(df, zorderKeyOf(df, colA, colB), nFiles)
      .write.mode("overwrite").parquet(outDir)

  /** The linear [[zorderKey]] of `df` over (colA, colB): one min/max
    * aggregate gives the bucket bounds; an all-NULL column has none and
    * fails loudly. The key of [[zorderWrite]] and of the versioned
    * table's z-order compaction ([[Versioned.optimizeZorder]]).
    */
  private[graft] def zorderKeyOf(df: DataFrame,
      colA: String, colB: String): Column = {
    val bounds = df.agg(
      min(col(colA)).cast("double"), max(col(colA)).cast("double"),
      min(col(colB)).cast("double"), max(col(colB)).cast("double")).head()
    require(!bounds.anyNull, s"z-order bounds need non-null $colA/$colB stats")
    zorderKey(
      col(colA), bounds.getDouble(0), bounds.getDouble(1),
      col(colB), bounds.getDouble(2), bounds.getDouble(3))
  }

  /** The one Z-ORDER CLUSTERING: `df` range-partitioned into `nFiles`
    * by the Morton key `z` and sorted by it within each partition. The
    * key rides a temp column named so that no column of `df` holds the
    * name — a fixed name would OVERWRITE a same-named user column
    * (withColumn) and the trailing drop would erase it — and never
    * reaches the output.
    */
  private[graft] def zorderClustered(df: DataFrame, z: Column,
      nFiles: Int): DataFrame = {
    val zc = Iterator.from(0).map(i => if (i == 0) "__z" else s"__z$i")
      .find(n => !df.columns.contains(n)).get
    df.withColumn(zc, z)
      .repartitionByRange(nFiles, col(zc))
      .sortWithinPartitions(zc)
      .drop(zc)
  }

  /** Quantile-bucketed z-order rewrite — the skew-resistant form of
    * [[zorderWrite]]. Linear 16-bit buckets collapse under skew (a
    * heavy-tailed column lands almost entirely in a few buckets, so the
    * interleave degenerates to a 1-D sort on the other column); here
    * each dimension is bucketed by its own approxQuantile boundaries
    * (one sketch pass per column, driver gets ≤256 doubles), so every
    * bucket holds ~1/256 of the ROWS regardless of the value
    * distribution and the key space fills evenly. The 256-way boundary
    * probe is a per-row scan of a literal array — trivial next to the
    * range shuffle the rewrite pays anyway.
    */
  def zorderWriteByQuantile(df: DataFrame, outDir: String,
      colA: String, colB: String, nFiles: Int): Unit = {
    val probes = (1 until 256).map(_ / 256.0).toArray
    def boundaries(c: String): Array[Double] =
      df.stat.approxQuantile(c, probes, 0.01).distinct.sorted
    def qbucket(c: Column, bounds: Array[Double]): Column = {
      val arr = typedLit(bounds.toSeq)
      // rank of c among the boundaries (# boundaries <= c), spread over
      // the 16-bit space spread16 expects
      val rank = size(filter(arr, b => b <= c.cast("double"))).cast("long")
      least(lit(65535L), rank * (65536L / 256L))
    }
    val bA = boundaries(colA)
    val bB = boundaries(colB)
    val z = spread16(qbucket(col(colA), bA))
      .bitwiseOR(shiftleft(spread16(qbucket(col(colB), bB)), 1))
    zorderClustered(df, z, nFiles).write.mode("overwrite").parquet(outDir)
  }

  /** JSONL training-data export — the delivery format most training
    * stacks consume (one JSON object per line; line-splittable, so any
    * downstream reader parallelizes over byte ranges). One codegen'd
    * `to_json` projection over the row struct through the text writer —
    * no shuffle beyond the explicit shard repartition, which exists so
    * the export lands as a CHOSEN number of roughly-equal shards
    * instead of mirroring whatever partitioning the query plan ended
    * with (training loaders want stable shard counts).
    */
  def writeJsonl(df: DataFrame, path: String, shards: Int): Unit =
    df.repartition(shards)
      .select(to_json(struct(df.columns.map(col): _*)).as("value"))
      .write.mode("overwrite").text(path)

  /** Read a JSONL export back with an explicit schema. `spark.read.json`
    * without one INFERS by reading everything twice — at export scale
    * always pass the schema (the writer knew it; the reader should too).
    * Fields `to_json` omitted (nulls) surface as nulls again, so a
    * write→read round trip is value-identical.
    */
  def readJsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** XML export through Spark 4's NATIVE xml source (one `<rowTag>`
    * element per row) — the partner-feed interchange format next to
    * [[writeJsonl]]'s training-loader JSONL. Same stable-shard-count
    * contract. The writer entity-escapes `< > &` and quotes inside
    * element text, which is exactly the framing hazard the q235 gate
    * round-trip checks value-invisibility through.
    */
  def writeXml(df: DataFrame, path: String, rowTag: String, shards: Int): Unit =
    df.repartition(shards)
      .write.mode("overwrite").option("rowTag", rowTag).xml(path)

  /** Read an XML export back with an explicit schema (inference would
    * re-read everything, same rule as [[readJsonl]]).
    * `ignoreSurroundingSpaces=false` because the DEFAULT trims element
    * text — a round trip of a document with leading/trailing whitespace
    * would silently change `n_chars`/token counts downstream.
    */
  def readXml(spark: SparkSession, path: String, rowTag: String,
      schema: StructType): DataFrame =
    spark.read.schema(schema)
      .option("rowTag", rowTag)
      .option("ignoreSurroundingSpaces", "false")
      .xml(path)

  /** Optimistic-concurrency commit ledger: the single-writer lock of
    * the versioned table ([[Versioned]]'s manifest commits, purges,
    * tags, branches and drops, and the catalog's CREATE TABLE). Two
    * writers that both read a table, mutate it and publish the result
    * would each lose the other's change; `withCommit` serializes them.
    * A writer claims the next commit slot in `baseDir/_graft_txn/` by
    * ATOMIC create-if-absent of `v<k+1>.inprogress` (the same
    * rename-if-absent discipline the `graft-offers` streaming sink's
    * epoch markers use — atomic on HDFS and on the local FS's
    * create(..., overwrite=false)), runs the mutation, then renames the
    * claim to `v<k+1>.commit`. A loser whose claim hits an existing
    * slot backs off and RETRIES FROM SCRATCH — its `op` is re-evaluated
    * against the winner's committed state, the optimistic-concurrency
    * contract — and a claim older than `staleClaimMs` (a crashed
    * writer; the versioned table's tmp-then-rename manifest publish
    * leaves at most orphaned data files behind) is reclaimed rather
    * than waited on forever. Exhausting `maxRetries` fails loudly —
    * never an interleaved commit.
    *
    * The underscore prefix keeps the ledger invisible to Spark scans,
    * like the sink's `_graft_commits`. The ledger is tiny (one empty
    * marker per mutation) and monotonic; [[vacuumCommits]] bounds it.
    */
  def withCommit[T](spark: SparkSession, baseDir: String,
      maxRetries: Int = 20, staleClaimMs: Long = 30 * 60 * 1000L)(op: => T): T = {
    val dir = new org.apache.hadoop.fs.Path(baseDir, "_graft_txn")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(dir)
    val Slot = """v(\d{9})\.(commit|inprogress)""".r
    var attempt = 0
    while (true) {
      val slots = fs.listStatus(dir).toSeq.flatMap(s => s.getPath.getName match {
        case Slot(k, kind) => Some((k.toLong, kind, s))
        case _ => None
      })
      // the next slot is committed-max + 1 — NOT overall-max + 1: a
      // loser that skipped past a live in-progress claim would run its
      // mutation concurrently with the claim holder, which is exactly
      // the interleaving this protocol exists to prevent. The loser
      // waits on the claimed slot until it commits (or goes stale).
      val next = (0L +: slots.collect { case (k, "commit", _) => k }).max + 1
      val claim = new org.apache.hadoop.fs.Path(dir, f"v$next%09d.inprogress")
      // a crashed writer's claim blocks the slot forever: reclaim by age
      slots.find(s => s._1 == next && s._2 == "inprogress" &&
        System.currentTimeMillis() - s._3.getModificationTime > staleClaimMs)
        .foreach(s => fs.delete(s._3.getPath, false))
      // HDFS create(overwrite=false) is atomic; the LOCAL FS wrapper
      // checks-then-creates, a window two in-JVM writers can both slip
      // through — claim through O_EXCL there, which the kernel makes
      // atomic, so the race spec cannot two-winner even in a tight loop
      val won =
        if ("file" == fs.getScheme)
          try {
            java.nio.file.Files.createFile(
              java.nio.file.Paths.get(claim.toUri.getPath))
            true
          } catch { case _: java.nio.file.FileAlreadyExistsException => false }
        else
          try { fs.create(claim, false).close(); true }
          catch { case _: java.io.IOException => false }
      if (won) {
        try {
          val r = op
          if (!fs.rename(claim, new org.apache.hadoop.fs.Path(dir, f"v$next%09d.commit")))
            throw new IllegalStateException(s"commit rename failed for slot $next")
          return r
        } catch {
          case e: Throwable =>
            fs.delete(claim, false) // release the slot for the next writer
            throw e
        }
      }
      attempt += 1
      if (attempt > maxRetries)
        throw new IllegalStateException(
          s"withCommit: lost $maxRetries commit races on $baseDir — giving up loudly")
      Thread.sleep(math.min(2000L, 50L << math.min(attempt, 5)))
    }
    throw new IllegalStateException("unreachable")
  }

  /** Retention for the [[withCommit]] ledger: keep the newest `keep`
    * commit markers, delete older ones (their mutations are long since
    * swapped in — the marker is history, not state). In-progress claims
    * are never touched here; [[withCommit]]'s age-based reclaim owns
    * those. Returns the number of markers removed.
    */
  def vacuumCommits(spark: SparkSession, baseDir: String, keep: Int = 100): Int = {
    val dir = new org.apache.hadoop.fs.Path(baseDir, "_graft_txn")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return 0
    val Commit = """v(\d{9})\.commit""".r
    val commits = fs.listStatus(dir).toSeq.flatMap(s => s.getPath.getName match {
      case Commit(k) => Some((k.toLong, s.getPath))
      case _ => None
    }).sortBy(-_._1)
    val stale = commits.drop(keep)
    stale.foreach(s => fs.delete(s._2, false))
    stale.size
  }

  /** Small-file compaction: rewrite a lake so each partition holds at
    * most `filesPerPartition` files. Incremental appends (the reference
    * writes one snapshot file per scrape round) accumulate small files
    * whose per-file open/footer cost eventually dominates scans — the
    * canonical 100 TB lake-maintenance op is this rewrite. repartition on
    * the partition keys routes each output partition's rows to
    * `filesPerPartition` tasks (salted so one huge leaf still splits),
    * and the write is to a NEW directory + swap, never in place — a
    * failed compaction must leave the live lake untouched.
    */
  def compact(spark: SparkSession, baseDir: String, outDir: String,
      filesPerPartition: Int = 1): Unit = {
    val lake = spark.read.parquet(baseDir)
    // row-content salt (NOT the partition keys — that would be constant
    // per leaf): deterministic split of one huge leaf across tasks.
    // pmod, not abs(...)%n: abs(Int.MinValue) is Int.MinValue in non-ANSI
    // Spark, so a hash landing there would mint a negative bucket beyond
    // the filesPerPartition contract.
    val salt = pmod(hash(lake.columns.map(col): _*), lit(filesPerPartition)).as("__salt")
    lake
      .withColumn("__salt", salt)
      .repartition(col("site"), col("region"), col("experience"),
        col("snapshot_date"), col("__salt"))
      .drop("__salt")
      .write
      .partitionBy("site", "region", "experience", "snapshot_date")
      .mode("overwrite")
      .parquet(outDir)
  }
}

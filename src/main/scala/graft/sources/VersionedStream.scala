package graft.sources.v2

import java.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.Versioned

/** The VERSIONED TABLE as a STREAMING SOURCE — Delta's
  * `readChangeFeed`-as-a-Source shape over the manifest log, replacing
  * q273's hand-rolled drain loop with a real `MicroBatchStream`:
  *
  * {{{
  *   spark.readStream.format("graft-versioned")
  *     .option("path", dir)
  *     .option("startingVersion", 1)   // default: the current version
  *     .load()
  * }}}
  *
  * OFFSETS are version numbers: a micro-batch (vA → vB] carries, for
  * every consecutive committed pair in the range, the rows of the data
  * files UNIQUE to each side of the pair (COW + immutable files make
  * the pair diff a manifest operation — scan cost ∝ changed data,
  * never table size; the [[Versioned.changesBetween]] argument). Rows
  * surface under the table's logical schema plus three metadata
  * columns: `_change_side` ('old' = file removed at the pair's TO
  * version, 'new' = file added), `_from_v`, `_to_v`. A consumer
  * classifies per (pair, key) in `foreachBatch` — old-only = delete,
  * new-only = insert, both-differing = update, both-identical = a COW
  * carry to drop (exactly the q273/q280 arbitration, now distributed
  * over one partition PER CHANGED FILE instead of a driver loop).
  *
  * The executor readers ([[VersionedFileReader]], shared with the
  * row-level scan) decode parquet through the public parquet-hadoop
  * Group API (no Spark-internal reader classes), with the era recipe
  * (rename mapping, added-later nulls, widened casts) computed
  * DRIVER-side at planning and shipped per file — so mixed-era
  * histories stream correctly. Loud-failure contracts, in the Delta
  * streaming-source tradition:
  *   - a schema-evolution commit AFTER stream start fails the stream
  *     (restart to pick up the new schema);
  *   - MOR delete sidecars STREAM by the rows they delete (q318): a
  *     pair diffs its two sidecar sets SYMMETRICALLY — rows a new
  *     sidecar deletes emit old-side (a MOR delete), rows a dropped
  *     sidecar deleted emit new-side (a restore re-inserting them),
  *     each decoded through its file's own era recipe — and file diffs
  *     emit each side's LIVE rows (the side's sidecars applied — a
  *     compaction after deletes never re-emits a delete);
  *   - column types outside the flat interchange set (integral, fp,
  *     boolean, string, binary, date, timestamp) are rejected at
  *     stream creation, not mid-flight.
  */
final class VersionedStreamSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-versioned"

  private def dirOf(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(throw new IllegalArgumentException(
      "graft-versioned requires option(\"path\", <table dir>)"))

  /** `option("branch", name)` streams that branch's lineage (q311). */
  private def lineageOf(branch: String): Versioned.Lineage =
    Option(branch).fold[Versioned.Lineage](Versioned.Main)(Versioned.Branch)

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val dir = dirOf(options)
    VersionedStreamTable.streamSchema(SparkSession.active, dir,
      lineageOf(options.get("branch")).head(SparkSession.active, dir).map(_._1))
  }

  // the WRITE path hands us the query's schema (a sink to a fresh dir
  // has no table to infer from); the READ path still infers
  override def supportsExternalMetadata(): Boolean = true

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new VersionedStreamTable(
      Option(properties.get("path")).getOrElse(throw new IllegalArgumentException(
        "graft-versioned requires option(\"path\", <table dir>)")),
      // default start: the current version on main; 0 (the base — the
      // audit feed) on a branch
      Option(properties.get("startingVersion")).map(_.toLong)
        .orElse(Option(properties.get("branch")).map(_ => 0L)),
      Option(properties.get("maxVersionsPerTrigger")).map { s =>
        val m = s.toInt
        require(m > 0, s"maxVersionsPerTrigger must be positive, got $m")
        m
      },
      Option(schema),
      lineageOf(properties.get("branch")))
}

object VersionedStreamTable {
  val MetaCols: Seq[StructField] = Seq(
    StructField("_change_side", StringType, nullable = false),
    StructField("_from_v", LongType, nullable = false),
    StructField("_to_v", LongType, nullable = false))

  private[v2] val Supported: Set[Class[_]] = Set(
    classOf[ByteType], classOf[ShortType], classOf[IntegerType],
    classOf[LongType], classOf[FloatType], classOf[DoubleType],
    classOf[BooleanType], classOf[StringType], classOf[BinaryType],
    classOf[DateType], classOf[TimestampType], classOf[TimestampNTZType])

  /** The change stream's schema over the `head` manifest: its logical
    * columns, each of the flat interchange set, then [[MetaCols]].
    * Fails when there is no head (no committed version).
    */
  def streamSchema(spark: SparkSession, dir: String,
      head: Option[Versioned.Manifest]): StructType = {
    val logical = Versioned.schemaOf(spark, dir, head.getOrElse(
      throw new IllegalStateException(s"$dir is not a versioned table")))
    logical.fields.foreach { f =>
      require(Supported.exists(_.isInstance(f.dataType)),
        s"graft-versioned cannot stream column '${f.name}' of type " +
          s"${f.dataType.catalogString} — the flat interchange set is " +
          "integral/fp/boolean/string/binary/date/timestamp")
    }
    StructType(logical.fields.toSeq ++ MetaCols)
  }
}

final class VersionedStreamTable(dir: String, startingVersion: Option[Long],
    maxVersionsPerTrigger: Option[Int] = None,
    externalSchema: Option[StructType] = None,
    lineage: Versioned.Lineage = Versioned.Main)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  // the stream's SCHEMA BASELINE, pinned EAGERLY when the source is
  // DEFINED (readStream.load()), not when each query run starts — so
  // an evolution commit racing the query startup still fails loudly
  // instead of being silently adopted. None only for a WRITE-only
  // table on a not-yet-created dir (the sink's CREATE case), which the
  // read path rejects below. A branch baseline is the branch HEAD's
  // (== its base's — branches never evolve schema).
  private val changes0AtDefinition: Option[Seq[(Int, String, String, String)]] =
    lineage.head(SparkSession.active, dir).map(_._1.changes)
  private def changes0 = changes0AtDefinition.getOrElse(
    throw new IllegalStateException(s"$dir is not a versioned table"))
  override def name(): String =
    s"graft-versioned(`$dir`)" + lineage.label
  override def schema(): StructType = {
    val head = lineage.head(SparkSession.active, dir).map(_._1)
    externalSchema.filter(_ => head.isEmpty).getOrElse(
      VersionedStreamTable.streamSchema(SparkSession.active, dir, head))
  }
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_READ, TableCapability.STREAMING_WRITE)

  /** The STREAMING SINK half ([[VersionedStreamingWrite]]): every
    * micro-batch appends as ONE manifest commit, exactly-once by the
    * `#txn` (queryId, epoch) watermark. Append mode only — update and
    * complete need semantics (keyed upsert / truncate) a log-structured
    * append sink must not fake, and Spark rejects them against these
    * capabilities on its own.
    */
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    require(lineage == Versioned.Main,
      s"graft-versioned sink: streaming INTO a branch is not supported — " +
        "branches stage batch audits (INSERT INTO t.branch_<name>); " +
        "stream into the table and branch from the result instead")
    new org.apache.spark.sql.connector.write.WriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.Write {
          override def toStreaming
              : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
            // a table declared PARTITIONED BY routes epochs through the
            // partitioned writer whichever surface reaches the sink —
            // by NAME (the catalog) or by PATH (here, spec from the
            // persisted graft.partition property)
            new VersionedStreamingWrite(dir, info.schema(), info.queryId(),
              Versioned.partitionSpecOf(SparkSession.active, dir))
          override def description(): String =
            s"graft-versioned streaming sink $dir"
        }
    }
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        private val out = schema()
        override def readSchema(): StructType = out
        override def description(): String =
          s"graft-versioned $dir change stream"
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new VersionedChangeStream(dir, startingVersion, out, changes0,
            maxVersionsPerTrigger, lineage = lineage)

        /** BATCH change read (Delta's batch readChangeFeed):
          * `spark.read.format("graft-versioned").option("path", dir)
          * .option("changesFrom", 1)[.option("changesTo", 4)].load()`
          * — every pair in (from, to] as one bounded DataFrame, same
          * schema/partitioning/guards as the streaming side.
          */
        override def toBatch: org.apache.spark.sql.connector.read.Batch = {
          val spark = SparkSession.active
          require(lineage == Versioned.Main,
            "batch change reads address MAIN versions — for a branch's " +
              "rows read t.branch_<name> (or Versioned.readBranch); for " +
              "its commit feed use readStream with option(\"branch\", ...)")
          val from = Option(options.get("changesFrom")).map(_.toLong)
            .getOrElse(throw new IllegalArgumentException(
              "batch change read requires option(\"changesFrom\", <version>)" +
                " (and optional changesTo; default = current version); for" +
                " the table's ROWS read the catalog table or Versioned.read"))
          val to = Option(options.get("changesTo")).map(_.toLong)
            .getOrElse(Versioned.latestVersion(spark, dir).getOrElse(
              throw new IllegalStateException(s"$dir is not a versioned table")))
          val vs = Versioned.versions(spark, dir)
          require(vs.contains(from) && vs.contains(to) && from <= to,
            s"changesFrom=$from, changesTo=$to must be committed versions " +
              s"of $dir in order (have ${vs.mkString(",")})")
          val dataFields = out.fields.toSeq
            .dropRight(VersionedStreamTable.MetaCols.size)
          val hconf = new org.apache.spark.util.SerializableConfiguration(
            spark.sessionState.newHadoopConf())
          new org.apache.spark.sql.connector.read.Batch {
            override def planInputPartitions(): Array[InputPartition] =
              VersionedChanges.partitions(spark, dir, from, to, changes0,
                dataFields, Versioned.Main)
            override def createReaderFactory(): PartitionReaderFactory =
              new VersionedChangeReaderFactory(hconf)
          }
        }
      }
    }
}

/** Monotone offset into the commit history: "every pair up to and
  * including (v-1, v) has been emitted".
  */
final case class VersionOffset(v: Long) extends Offset {
  override def json: String = v.toString
}

/** `bare = false` (the path-based `format("graft-versioned")` source):
  * rows of both pair sides with the three `_change_*` metadata
  * columns — a CDC feed the consumer classifies. `bare = true` (the
  * catalog `readStream.table` binding, [[VersionedScan]]): APPEND-ONLY
  * streaming of the table's own rows — only new-side files, no
  * metadata columns, and a pair that REMOVES a file (compaction, COW
  * rewrite, overwrite) fails the stream loudly (Delta's
  * ignoreChanges-off contract: silently re-emitting rewritten rows
  * would double-count them downstream; the path-based CDC source is
  * the surface that can represent such changes).
  */
final class VersionedChangeStream(dir: String, startingVersion: Option[Long],
    out: StructType,
    changes0: Seq[(Int, String, String, String)],
    maxVersionsPerTrigger: Option[Int] = None,
    bare: Boolean = false,
    lineage: Versioned.Lineage = Versioned.Main) extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  private def spark = SparkSession.active
  private val hconf = new org.apache.spark.util.SerializableConfiguration(
    SparkSession.active.sessionState.newHadoopConf())

  private val dataFields: Seq[StructField] =
    if (bare) out.fields.toSeq
    else out.fields.toSeq.dropRight(VersionedStreamTable.MetaCols.size)

  /** The streamed LINEAGE (q311): main's committed versions, or a
    * branch's commit seqs, where offset 0 is the BASE the branch was
    * cut from. A branch stream is the AUDIT FEED: a start at 0 emits
    * the branch's own writes (pair (0,1) = first staged batch), never
    * the base snapshot — main streams the base. A dropped/published
    * branch fails the stream loudly at the next offset resolution (the
    * ref is gone; redefine the stream).
    */
  private def points: Seq[Long] = lineage.points(spark, dir)

  override def initialOffset(): Offset = {
    val vs = points
    val start = startingVersion.getOrElse(vs.last)
    // 0 = "from before the first commit" (the Delta startingVersion=0
    // shape): the first micro-batch carries the whole oldest version.
    // On a branch 0 is the branch base — the audit feed's zero
    require(start == 0L || vs.contains(start),
      s"startingVersion $start does not exist in $dir (have ${vs.mkString(",")})")
    VersionOffset(start)
  }
  override def deserializeOffset(json: String): Offset =
    VersionOffset(json.trim.toLong)
  private def trueLatest: Long = lineage.headPoint(spark, dir).getOrElse(
    throw new IllegalStateException(s"$dir is not a versioned table"))

  override def latestOffset(): Offset = VersionOffset(trueLatest)

  /** ADMISSION CONTROL (the Delta `maxFilesPerTrigger` shape, version-
    * keyed): a consumer catching up on a long commit history gets
    * bounded micro-batches of at most `maxVersionsPerTrigger` version
    * pairs instead of one giant batch — state-store pressure and
    * retry cost stay bounded at any backlog size. Under
    * Trigger.AvailableNow the end is PINNED at prepare time
    * ([[prepareForTriggerAvailableNow]]), so the drain terminates even
    * against a live writer, in several bounded batches.
    */
  @volatile private var availableNowCap: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(trueLatest)

  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit =
    org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()

  override def latestOffset(start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset = {
    val s = start.asInstanceOf[VersionOffset].v
    val cap = availableNowCap.getOrElse(trueLatest)
    // the throttled end WALKS the committed versions rather than
    // adding m arithmetically: tag-pinned vacuum leaves GAPS in the
    // version sequence (e.g. [1,5,6,7]), and a checkpointed offset
    // synthesized inside a gap would wedge the stream on a
    // nonexistent manifest — offsets must always land on committed
    // versions (or the start itself)
    val end = maxVersionsPerTrigger.fold(cap) { m =>
      points.filter(v => v > s && v <= cap)
        .take(m).lastOption.getOrElse(s)
    }
    VersionOffset(math.max(end, s))
  }

  override def reportLatestOffset(): Offset = VersionOffset(trueLatest)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val ps = VersionedChanges.partitions(spark, dir,
      start.asInstanceOf[VersionOffset].v, end.asInstanceOf[VersionOffset].v,
      changes0, dataFields, lineage)
    if (!bare) ps
    else {
      ps.collectFirst {
        case p: VersionedChangePartition if p.side == "old" =>
          throw new IllegalStateException(
            s"version pair (${p.fromV}, ${p.toV}) of $dir removes " +
              (if (p.otherDvFilters.nonEmpty) "rows (a MOR delete)" else "data files " +
                "(a compaction / rewrite / overwrite)") +
              " — readStream.table streams appends only; restart from " +
              "a later startingVersion, or consume the change feed via " +
              "spark.readStream.format(\"graft-versioned\")")
      }
      ps
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new VersionedChangeReaderFactory(hconf, includeMeta = !bare)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** The pair walk shared by the STREAMING source's micro-batches and the
  * BATCH change read: for every consecutive committed pair in
  * (from, to], one partition per data file UNIQUE to a side — scan
  * cost ∝ changed data, never table size.
  */
private[v2] object VersionedChanges {
  /** `lineage` selects the walked points: main versions (0 = the
    * empty pre-first-commit base) or — the q311 branch stream — branch
    * seqs (0 = the branch's base manifest). Each file decodes under its
    * era recipe ([[Versioned.eraRecipes]]) for the stream's data
    * columns: the file's PHYSICAL column name ("" if the column was
    * added after the file's era — reads as NULL); widen needs no entry,
    * the reader converts by the file's own primitive and the column's
    * LOGICAL type.
    *
    * MOR-AWARE (q318): each side emits its LIVE rows — file-diff
    * partitions carry the side's own sidecar paths, and the executor
    * skips rows whose key sits in a sidecar set targeting its file
    * ([[VersionedFileReader]], the decode the row-level scan shares).
    * A file live on BOTH sides whose sidecars differ emits the diff by
    * the rows it deletes, symmetrically
    * ([[VersionedChangePartition.otherDvFilters]]): old-side the rows
    * the TO side's added sidecars delete and the FROM side's do not (a
    * MOR delete), new-side the rows the FROM side's dropped sidecars
    * deleted and the TO side's do not (a restore). A sidecar that a COW
    * commit rewrote ([[Versioned]]'s retireDvRows) deletes the same
    * rows on both sides and emits nothing. Scan cost stays ∝ changed
    * data: dv-free pairs (the steady state) attach nothing; a dv pair
    * costs the targeted files + sidecar reads. Compaction-after-deletes
    * pairs (OPTIMIZE retiring dvs) stream correctly: the old side's raw
    * rows are filtered by the OLD side's sidecars, so an
    * already-deleted row never re-emits as a second delete.
    */
  def partitions(spark: SparkSession, dir: String, from: Long, to: Long,
      changes0: Seq[(Int, String, String, String)],
      dataFields: Seq[StructField],
      lineage: Versioned.Lineage): Array[InputPartition] = {
    val vs = lineage.points(spark, dir).filter(v => v > from && v <= to)
    def manifestAt(p: Long) = lineage.manifestAt(spark, dir, p)
    val recipeFor = Versioned.eraRecipes(changes0,
      dataFields.map(f => (f.name, f.dataType)))
    // the key's LOGICAL type comes from the stream schema
    def dvFiltersOf(m: Versioned.Manifest, refs: Seq[Versioned.DvRef]) =
      VersionedFileReader.dvFilters(dir, changes0, refs, m.renames, kn =>
        dataFields.find(_.name == kn).map(_.dataType).getOrElse(
          throw new IllegalStateException(s"MOR delete key column '$kn' " +
            s"of $dir is not in the stream schema — dropped after " +
            "deletes? redefine the source")))
    (vs.foldLeft((from, Seq.empty[VersionedChangePartition])) {
      case ((prev, acc), v) =>
        val mA = manifestAt(prev)
        val mB = manifestAt(v)
        // prefix-compatible histories read fine: pairs predating a
        // later rename/add/widen surface under the CURRENT schema via
        // the era recipes (renames are append-only). What cannot be
        // read is a pair whose change list EXTENDS the baseline — a
        // schema evolution committed after the source was defined.
        require(mB.changes == changes0.take(mB.changes.size),
          s"schema evolution committed after stream definition " +
            s"(version $v carries ${mB.changes.size} changes, the " +
            s"baseline ${changes0.size}) — restart/redefine the source " +
            "to adopt the new schema")
        val aFiles = mA.entries.map(_._1).toSet
        val bFiles = mB.entries.map(_._1).toSet
        // one partition per entry of `m` that `pick` keeps, read LIVE
        // under m's own sidecars; with `other` sidecars (of `mo`, the
        // other side), only the rows those delete
        def parts(m: Versioned.Manifest, side: String,
            other: Seq[Versioned.DvRef] = Nil, mo: Versioned.Manifest = mA)(
            pick: String => Boolean) = {
          val own = dvFiltersOf(m, m.dvs)
          val others = dvFiltersOf(mo, other)
          m.entries.filter(e => pick(e._1)).map { case (f, _, era) =>
            VersionedChangePartition(s"$dir/data/$f", side, prev, v,
              recipeFor(era), own(era), others(era))
          }
        }
        // the data files a sidecar set targets — one small driver read
        // (sidecars are deleted-keys-sized); none for no sidecars
        def targets(refs: Seq[Versioned.DvRef]): Set[String] =
          if (refs.isEmpty) Set.empty
          else Versioned.readDataFiles(spark, dir, refs.map(_.file).distinct)
            .select("__target").distinct().collect()
            .map(_.getString(0)).toSet
        // the SIDECAR DIFF, by the rows it deletes: a file live on both
        // sides emits old-side the rows the TO side's new sidecars delete
        // (a MOR delete) and new-side the rows the FROM side's dropped
        // sidecars deleted (a restore) — each net of its own side's
        // sidecars, so a rewritten sidecar deleting the same rows (a COW
        // commit's retireDvRows) emits nothing
        val added = mB.dvs.filterNot(mA.dvs.toSet)
        val dropped = mA.dvs.filterNot(mB.dvs.toSet)
        val (addedT, droppedT) = (targets(added), targets(dropped))
        (v, acc ++ parts(mA, "old")(f => !bFiles(f)) ++
          parts(mB, "new")(f => !aFiles(f)) ++
          parts(mA, "old", added, mB)(f => bFiles(f) && addedT(f)) ++
          parts(mB, "new", dropped, mA)(f => aFiles(f) && droppedT(f)))
    })._2.toArray
  }
}

/** One changed data file on one side of one version pair. `fields` is
  * the era recipe: (logical name, physical name or "", logical DDL).
  * `dvFilters`: per key column, its recipe under THIS file's era plus
  * the sidecar paths whose rows (targeting this file) are EXCLUDED
  * from the emission — the side's live-row semantics.
  * `otherDvFilters`, the same shape for the OTHER side's sidecars,
  * non-empty only for a file live on both sides: emit ONLY the rows
  * those delete (and this side's do not) — the pair's sidecar diff as
  * row events (q318).
  */
final case class VersionedChangePartition(file: String, side: String,
    fromV: Long, toV: Long, fields: Array[(String, String, String)],
    dvFilters: Array[((String, String, String), Array[String])] = Array.empty,
    otherDvFilters: Array[((String, String, String), Array[String])] = Array.empty)
  extends InputPartition

final class VersionedChangeReaderFactory(
    conf: org.apache.spark.util.SerializableConfiguration,
    includeMeta: Boolean = true)
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[VersionedChangePartition]
    new VersionedFileReader(conf.value, p.file, p.fields, p.dvFilters,
      p.otherDvFilters,
      if (includeMeta) Array(UTF8String.fromString(p.side), p.fromV, p.toV)
      else Array.empty)
  }
}

/** The VERSIONED TABLE as a STREAMING SINK — the write half of the
  * q280 source, completing the table's streaming story end-to-end
  * (`readStream.format("graft-versioned")` in,
  * `writeStream.format("graft-versioned")` out):
  *
  * {{{
  *   df.writeStream.format("graft-versioned")
  *     .option("path", dir)
  *     .option("checkpointLocation", ck)
  *     .start()
  * }}}
  *
  * Each micro-batch appends as ONE manifest commit through the OCC
  * ledger; executors stream `InternalRow`s straight into parquet under
  * `data/` ([[ParquetRowWriters]] — the q283 writer), so there is no
  * staging copy. EXACTLY-ONCE: the commit carries a
  * `#txn (queryId, epochId)` watermark checked INSIDE the OCC block
  * ([[Versioned.commitStreamingEpoch]]) — a replayed epoch (crash
  * between sink commit and checkpoint advance, the classic
  * at-least-once window foreachBatch sinks inherit) sees its own
  * watermark and appends NOTHING; its freshly-staged files are deleted
  * (a crash before that delete leaves unreferenced orphans for the
  * aged vacuum). A first commit to a never-committed dir CREATES the
  * table with the stream's schema (flat interchange types only);
  * appends to an existing table must match its logical schema
  * name-for-name and type-for-type, loudly.
  *
  * PARTITIONED BY tables (q308, `partitionSpec` non-empty): the epoch's
  * task files land as RAW STAGING, and the driver-side commit reads
  * them back through the versioned layer's fresh-row writer
  * ([[Versioned.writeFresh]]) — the same clustering + `#pfile`
  * tagging every batch INSERT gets — before the tagged commit.
  * The epoch pays one extra read+write OF ITSELF (never of the table),
  * in exchange for the layout invariant the format's pruning rests on:
  * one file per partition value per commit, each tagged. The
  * alternative (per-task fanout writers, Iceberg's streaming shape)
  * avoids the rewrite but multiplies files by tasks × values per epoch
  * and loses the clustering — at epoch sizes (MBs, not the table) the
  * self-rewrite is the better trade, and it keeps ONE writer code
  * path for batch and stream. Exactly-once is unchanged: the `#txn`
  * watermark is pre-checked before the rewrite (a replayed epoch skips
  * the work) and authoritatively re-checked inside the OCC commit; a
  * crash between rewrite and commit leaves aged-vacuum orphans, like
  * every writer.
  */
final class VersionedStreamingWrite(dir: String, writeSchema: StructType,
    queryId: String,
    partitionSpec: Seq[Versioned.PartField] = Seq.empty)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {

  import org.apache.spark.sql.connector.write.{PhysicalWriteInfo, WriterCommitMessage}
  import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory

  private def spark = SparkSession.active
  private val token = java.util.UUID.randomUUID.toString.take(8)

  // validate once, driver-side, at write construction
  Versioned.Main.head(spark, dir) match {
    case Some((head, _)) =>
      val cur = Versioned.schemaOf(spark, dir, head)
      val have = cur.fields.map(f => f.name -> f.dataType.catalogString).toSet
      val got = writeSchema.fields.map(f => f.name -> f.dataType.catalogString).toSet
      require(got == have,
        s"graft-versioned sink: stream schema ${got.mkString(", ")} does not " +
          s"match table $dir schema ${have.mkString(", ")} — evolve the table " +
          "first (addColumn/renameColumn/widenColumn), the sink never " +
          "evolves it implicitly")
    case None =>
      writeSchema.fields.foreach { f =>
        require(VersionedStreamTable.Supported.exists(_.isInstance(f.dataType)),
          s"graft-versioned sink cannot create a table with column " +
            s"'${f.name}' of type ${f.dataType.catalogString} — the flat " +
            "interchange set is integral/fp/boolean/string/binary/date/timestamp")
      }
  }

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new VersionedStreamWriterFactory(s"$dir/data", token,
      ParquetRowWriters.writeConf(spark, dir, writeSchema))

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val added = messages.collect {
      case m: ParquetFileCommit if m.rows > 0 => (m.name, m.rows)
    }.toSeq
    // a data-less epoch (zero-data batch, or every row filtered out)
    // commits nothing — replaying it appends nothing either, so the
    // watermark needn't advance for it
    if (added.isEmpty) ()
    else if (partitionSpec.isEmpty) {
      if (Versioned.commitStreamingEpoch(spark, dir, queryId, epochId, added)
        .isEmpty)
        // replayed epoch: the watermark already covers it — drop the
        // just-staged duplicates instead of committing them
        discard(messages)
    } else {
      // PARTITIONED epoch: cluster + tag the raw task files through the
      // fresh-row writer, commit the CLUSTERED files, and drop the
      // raw staging either way (no manifest ever references it). The
      // watermark pre-check skips the rewrite on an obvious replay; the
      // OCC re-check stays authoritative against a zombie driver racing
      // live traffic.
      if (!Versioned.epochCommitted(spark, dir, queryId, epochId)) {
        val df = Versioned.readDataFiles(spark, dir, added.map(_._1),
          Some(writeSchema))
        val (entries, tags) = Versioned.writeFresh(df, dir, partitionSpec)
        if (Versioned.commitStreamingEpoch(spark, dir, queryId, epochId,
          entries, tags).isEmpty) {
          // lost the replay race inside the OCC block: the clustered
          // rewrite is a duplicate too
          val fs = new Path(dir)
            .getFileSystem(spark.sparkContext.hadoopConfiguration)
          entries.foreach { case (f, _) =>
            fs.delete(new Path(s"$dir/data/$f"), false)
          }
        }
      }
      discard(messages)
    }
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    discard(messages)

  private def discard(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    messages.foreach {
      case m: ParquetFileCommit =>
        fs.delete(new Path(s"$dir/data/${m.name}"), false)
      case _ => ()
    }
  }
}

/** Ships to executors; one parquet writer per (epoch, partition, task
  * attempt) with an attempt-unique name.
  */
final case class VersionedStreamWriterFactory(dataDir: String, token: String,
    conf: org.apache.spark.util.SerializableConfiguration)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    ParquetRowWriters.writer(dataDir,
      f"$token-e$epochId%05d-p$partitionId%05d-t$taskId.parquet", conf)
}

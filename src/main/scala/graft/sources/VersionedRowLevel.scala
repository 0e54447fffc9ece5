package graft.sources.v2

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.sources.Versioned

/** SQL ROW-LEVEL WRITES on the versioned table — `UPDATE`, `MERGE
  * INTO`, and arbitrary-predicate `DELETE` — via Spark's group-based
  * row-level operation API ([[RowLevelOperation]], the copy-on-write
  * shape Iceberg ships):
  *
  * {{{
  *   UPDATE graft_cat.db.t SET v = v + 1 WHERE k % 7 = 0
  *   MERGE INTO graft_cat.db.t t USING src s ON t.k = s.k
  *     WHEN MATCHED AND s.del THEN DELETE
  *     WHEN MATCHED THEN UPDATE SET *
  *     WHEN NOT MATCHED THEN INSERT *
  *   DELETE FROM graft_cat.db.t WHERE length(v) > 3  -- untranslatable
  * }}}
  *
  * HOW SPARK DRIVES IT: the analyzer rewrites the command into a
  * `ReplaceData` plan — scan whole GROUPS (here: data files), apply the
  * update/merge projection, write every surviving row of the touched
  * groups back, and commit the replacement. Two Spark facilities keep
  * the touched-group set small, and both need a REAL V2 scan:
  *
  *   - `GroupBasedRowLevelOperationScanPlanning` pushes the command's
  *     condition into [[RowLevelScanBuilder.pushFilters]]. The filters
  *     select CANDIDATE FILES ONLY (every filter stays residual — a
  *     group scan must return whole files, so row-filtering here would
  *     corrupt the rewrite).
  *   - `RowLevelOperationRuntimeGroupFiltering` plans a runtime
  *     subquery (for MERGE: source ⋈ target on the ON condition) that
  *     collects the `_file` metadata values of MATCHING rows and hands
  *     them to [[RowLevelScan.filter]] as an IN predicate — so a MERGE
  *     whose ON condition is not statically pushable still rewrites
  *     only the files that contain matches. This is the mechanism that
  *     makes a 10-row MERGE on a 100 TB table rewrite 10 files, not
  *     the table; it is why the scan implements
  *     [[SupportsRuntimeV2Filtering]] and why [[VersionedSqlTable]]
  *     exposes a `_file` metadata column.
  *
  * The scan decodes candidate files executor-side through
  * [[VersionedFileReader]], the decode the change feed shares: public
  * parquet-hadoop Group API, DRIVER-computed era recipes (rename
  * mapping, added-later nulls, widened casts), MOR delete sidecars
  * applied as per-file key sets built from the sidecar paths (a
  * rewrite must not resurrect dv-deleted rows), and `_file` appended
  * when asked. The write is a genuine V2 [[BatchWrite]] whose
  * executors write parquet through Spark's public
  * `ParquetWriteSupport` directly into `data/` under commit-unique
  * names (uncommitted files are unreachable orphans; vacuum's age
  * window protects in-flight writers), and whose driver-side commit is
  * ONE manifest commit through the OCC ledger: retire the scanned
  * files, add the staged files, reconcile delete sidecars — the
  * library COW verbs' manifest ([[Versioned.commitReplace]]).
  *
  * ISOLATION: the operation pins the table SNAPSHOT (version, schema
  * changes, dv lines) when Spark builds it. At commit, concurrent
  * APPENDS are compatible (their rows were outside the snapshot — the
  * Delta WriteSerializable stance); any concurrent change to scanned
  * state — a rewritten/vanished snapshot file, a new delete sidecar, a
  * schema evolution — fails the STATEMENT loudly rather than losing
  * the concurrent writer's effect. Staged data files of a failed
  * statement are orphans; vacuum reclaims them after the age window.
  */
final class GraftRowLevelOperationBuilder(tableName: String, dir: String,
    info: RowLevelOperationInfo,
    morKey: Option[String] = None,
    lineage: Versioned.Lineage = Versioned.Main) extends RowLevelOperationBuilder {
  override def build(): RowLevelOperation = morKey match {
    case Some(k) => new GraftDeltaOperation(tableName, dir, info.command, k)
    case None => new GraftRowLevelOperation(tableName, dir, info.command,
      lineage)
  }
}

sealed class GraftRowLevelOperation(tableName: String, dir: String,
    cmd: RowLevelOperation.Command,
    private[v2] val lineage: Versioned.Lineage = Versioned.Main)
    extends RowLevelOperation {

  private def spark: SparkSession = SparkSession.active

  /** The pinned snapshot: every piece of table state the scan consumed —
    * the lineage's head (on a branch, the q309 audit-fix DELETE: main's
    * lineage is never consulted and never touched). Commit-time
    * conflict detection compares against it. None before main's first
    * commit.
    */
  private[v2] val snapshot: Option[Versioned.Manifest] =
    lineage.head(spark, dir).map(_._1)

  // before main's first commit: the SQL table's declared schema
  private[v2] val currentSchema: StructType = snapshot.fold(
    new VersionedSqlTable(tableName, dir, None).schema())(
    Versioned.schemaOf(spark, dir, _))

  /** Set by [[RowLevelScan.planInputPartitions]]: the data files the
    * scan actually read after runtime group filtering — exactly the
    * set the commit retires. Volatile: planning and commit happen on
    * different driver threads under AQE.
    */
  @volatile private[v2] var replacedFiles: Option[Set[String]] = None

  override def command(): RowLevelOperation.Command = cmd

  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column(VersionedSqlTable.FileCol))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new RowLevelScanBuilder(this, dir)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new ReplaceDataBatchWrite(GraftRowLevelOperation.this, dir,
            currentSchema, info.schema())
        override def description(): String =
          s"graft-versioned replace-data $tableName ($cmd)"
      }
    }

  override def description(): String = s"graft-versioned $cmd $tableName"
}

/** Filters arriving here come from the command condition
  * (`GroupBasedRowLevelOperationScanPlanning`); each is a NECESSARY
  * condition of it. They prune candidate FILES through the manifest
  * stats (zero IO — same machinery as the SQL scan; a file whose
  * envelope excludes the bounds contains no matched row, so carrying
  * it by reference is sound), and EVERY filter is returned as
  * residual: a group scan must hand back whole files, so accepting a
  * filter (row-level semantics) would drop the unmatched rows of
  * touched files from the rewrite and corrupt the table. The runtime
  * `_file` group filter then narrows the statically-kept set exactly.
  */
final class RowLevelScanBuilder(op: GraftRowLevelOperation, dir: String)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {

  private val full: StructType = StructType(op.currentSchema.fields.toSeq :+
    StructField(VersionedSqlTable.FileCol, StringType, nullable = false))
  private var required: StructType = op.currentSchema
  private var bounds: Seq[(String, Versioned.Bound, Versioned.Bound)] = Seq.empty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    bounds = VersionedScan.boundsOf(filters)
    filters
  }
  override def pushedFilters(): Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    // honor the requested subset + order; unknown names cannot appear
    // (Spark prunes to scan output), _file resolves via `full`
    required = StructType(
      requiredSchema.fieldNames.toSeq.map(n => full(full.fieldIndex(n))))

  override def build(): Scan = new RowLevelScan(op, dir, required, bounds)
}

/** One whole-file group scan over the pinned snapshot. V2 `Batch` (one
  * [[InputPartition]] per live file) so `BatchScanExec` can apply the
  * runtime `_file` IN-filter; era recipes and dv sidecar paths are
  * resolved driver-side at planning.
  */
final class RowLevelScan(op: GraftRowLevelOperation, dir: String,
    required: StructType,
    bounds: Seq[(String, Versioned.Bound, Versioned.Bound)]) extends Scan
    with Batch with SupportsRuntimeV2Filtering {

  private def spark: SparkSession = SparkSession.active

  /** Candidate file names: all-live, statically pruned by the command
    * condition's manifest-stats bounds, then narrowed exactly by the
    * runtime `_file` group filter ([[filter]]).
    */
  @volatile private var candidates: Set[String] =
    op.snapshot.map(m => Versioned.prunedEntries(m)(bounds).map(_._1).toSet)
      .getOrElse(Set.empty)

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  override def filterAttributes(): Array[NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column(VersionedSqlTable.FileCol))

  /** The runtime group filter: an IN (or =) predicate on `_file` whose
    * values came from the matching-rows subquery. Anything else is
    * ignored (fail open — pruning is an optimization, the rewrite
    * stays correct on a superset of candidates).
    */
  override def filter(predicates: Array[Predicate]): Unit =
    predicates.foreach { p =>
      RowLevelScan.fileInValues(p).foreach { vs =>
        candidates = candidates.intersect(vs)
      }
    }

  override def planInputPartitions(): Array[InputPartition] = op.snapshot match {
    case None => // a created-but-never-committed target (MERGE can insert)
      op.replacedFiles = Some(Set.empty)
      Array.empty
    case Some(m) => planFor(m)
  }

  private def planFor(m: Versioned.Manifest): Array[InputPartition] = {
    val live = m.entries.filter(e => candidates(e._1))
    op.replacedFiles = Some(live.map(_._1).toSet)
    // MOR delete sidecars: per candidate file, the key values its
    // rewrite must NOT resurrect. The driver ships only the sidecar
    // PATHS and each reader builds its own file's key set
    // executor-side, decoding __key under the CURRENT logical type
    // (work ∝ candidates × sidecar rows, distributed; driver memory
    // stays O(paths), never O(deleted keys))
    val dvFilters = VersionedFileReader.dvFilters(dir, m.changes, m.dvs,
      m.renames, op.currentSchema(_).dataType)
    val fields = Versioned.eraRecipes(m.changes,
      required.fields.toSeq.filter(_.name != VersionedSqlTable.FileCol)
        .map(f => (f.name, f.dataType)))
    val wantFile = required.fieldNames.contains(VersionedSqlTable.FileCol)
    live.map { case (f, _, era) =>
      RowLevelPartition(s"$dir/data/$f", f, fields(era), wantFile,
        dvFilters(era))
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new RowLevelReaderFactory(new SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration))

  override def description(): String =
    s"graft-versioned row-level scan $dir (${required.fieldNames.mkString(", ")})"
}

object RowLevelScan {
  /** Extract the file-name values of a runtime `_file IN (...)` /
    * `_file = ...` predicate; None for anything else.
    */
  private[v2] def fileInValues(p: Predicate): Option[Set[String]] = {
    import org.apache.spark.sql.connector.expressions.{Expression, Literal => V2Literal}
    def ref(e: Expression): Boolean = e match {
      case r: NamedReference =>
        r.fieldNames.sameElements(Array(VersionedSqlTable.FileCol))
      case _ => false
    }
    def str(e: Expression): Option[String] = e match {
      case l: V2Literal[_] => Option(l.value).map(_.toString)
      case _ => None
    }
    p.name() match {
      case "IN" if p.children().nonEmpty && ref(p.children().head) =>
        val vs = p.children().tail.flatMap(str)
        if (vs.length == p.children().length - 1) Some(vs.toSet) else None
      case "=" if p.children().length == 2 && ref(p.children().head) =>
        str(p.children()(1)).map(Set(_))
      case _ => None
    }
  }
}

/** One candidate data file: absolute path, manifest name, era recipe
  * for the OUTPUT fields ((logical, physical-or-"", ddl)), whether to
  * append `_file`, and the dv filters — per key column, its era recipe
  * plus the sidecar paths the reader scans for its own `__target` rows
  * ([[VersionedFileReader.dvFilters]]).
  */
final case class RowLevelPartition(path: String, name: String,
    fields: Array[(String, String, String)], wantFile: Boolean,
    dvFilters: Array[((String, String, String), Array[String])])
  extends InputPartition

final class RowLevelReaderFactory(conf: SerializableConfiguration)
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[RowLevelPartition]
    new VersionedFileReader(conf.value, p.path, p.fields, p.dvFilters,
      Array.empty,
      if (p.wantFile) Array(UTF8String.fromString(p.name)) else Array.empty)
  }
}

/** The replacement write: executors stream `InternalRow`s into parquet
  * via Spark's `ParquetWriteSupport` (the exact writer Spark's own
  * parquet sink uses, so decimals/timestamps land byte-compatible with
  * [[Versioned]]'s files), directly under `data/` with commit-unique
  * names; the driver commit is one OCC manifest commit that retires
  * the scanned files and adds the staged ones.
  */
final class ReplaceDataBatchWrite(op: GraftRowLevelOperation, dir: String,
    tableSchema: StructType, writeSchema: StructType) extends BatchWrite {

  private def spark: SparkSession = SparkSession.active
  private val token = java.util.UUID.randomUUID.toString.take(8)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    require(writeSchema.fieldNames.sameElements(tableSchema.fieldNames),
      s"replace-data write schema ${writeSchema.fieldNames.mkString(",")} " +
        s"!= table schema ${tableSchema.fieldNames.mkString(",")}")
    new ParquetRowWriterFactory(s"$dir/data", token,
      ParquetRowWriters.writeConf(spark, dir, writeSchema))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val added = messages.collect {
      case m: ParquetFileCommit if m.rows > 0 => (m.name, m.rows)
    }.toSeq
    val replaced = op.replacedFiles.getOrElse(throw new IllegalStateException(
      "replace-data commit before its scan planned — nothing to retire"))
    // a declared PARTITIONED BY layout: the executor-landed raw files
    // re-cluster + re-tag through the partitioned writer (q317 — the
    // q308 epoch pattern) so an UPDATE/MERGE/DELETE never untags the
    // table; identity on plain tables
    val (clustered, tags) =
      Versioned.reclusterForLayout(spark, dir, added, tableSchema)
    Versioned.commitReplace(spark, dir, op.snapshot, replaced, clustered,
      tags, op.lineage)
    ()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    messages.foreach {
      case m: ParquetFileCommit =>
        fs.delete(new Path(s"$dir/data/${m.name}"), false)
      case _ => ()
    }
  }

  override def useCommitCoordinator(): Boolean = true
}

final case class ParquetFileCommit(name: String, rows: Long)
  extends WriterCommitMessage

/** Executor-side `InternalRow` → parquet, shared by the row-level
  * replace-data write and the streaming sink ([[VersionedStreamingWrite]]):
  * Spark's own `ParquetWriteSupport` does the encoding, so decimals and
  * timestamps land byte-compatible with [[Versioned]]'s batch files.
  */
private[v2] object ParquetRowWriters {

  /** The hadoop conf `ParquetWriteSupport.init` needs — the keys
    * Spark's own write path plants via ParquetUtils.prepareWrite —
    * with `data/` pre-created so executor writers never race mkdirs.
    */
  def writeConf(spark: SparkSession, dir: String,
      schema: StructType): SerializableConfiguration = {
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
      .setSchema(schema, conf)
    conf.set("spark.sql.parquet.writeLegacyFormat", "false")
    conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    conf.set("spark.sql.parquet.fieldId.write.enabled", "false")
    conf.set("spark.sql.parquet.datetimeRebaseModeInWrite", "EXCEPTION")
    conf.set("spark.sql.parquet.int96RebaseModeInWrite", "EXCEPTION")
    conf.set("spark.sql.parquet.variant.annotateLogicalType.enabled", "false")
    val fs = new Path(dir, "data").getFileSystem(conf)
    fs.mkdirs(new Path(dir, "data"))
    new SerializableConfiguration(conf)
  }

  /** One lazily-opened writer for one task attempt; `name` must be
    * attempt-unique (a speculative twin writes its own file; the
    * losing attempt's abort deletes it).
    */
  def writer(dataDir: String, name: String,
      conf: SerializableConfiguration): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      import org.apache.parquet.hadoop.ParquetWriter
      import org.apache.parquet.hadoop.api.WriteSupport
      import org.apache.parquet.hadoop.metadata.CompressionCodecName
      import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport

      private var writer: ParquetWriter[InternalRow] = _
      private var rows = 0L

      private final class Builder(p: Path)
          extends ParquetWriter.Builder[InternalRow, Builder](p) {
        override def self(): Builder = this
        override def getWriteSupport(c: org.apache.hadoop.conf.Configuration)
            : WriteSupport[InternalRow] = new ParquetWriteSupport
      }

      override def write(row: InternalRow): Unit = {
        if (writer == null) // lazy: an all-filtered partition writes no file
          writer = new Builder(new Path(dataDir, name))
            .withConf(conf.value)
            .withCompressionCodec(CompressionCodecName.SNAPPY)
            .build()
        writer.write(row)
        rows += 1
      }

      override def commit(): WriterCommitMessage = {
        if (writer != null) writer.close()
        ParquetFileCommit(name, rows)
      }

      override def abort(): Unit = {
        if (writer != null) {
          writer.close()
          new Path(dataDir, name).getFileSystem(conf.value)
            .delete(new Path(dataDir, name), false)
        }
      }

      override def close(): Unit = ()
    }
}

final class ParquetRowWriterFactory(dataDir: String, token: String,
    conf: SerializableConfiguration) extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    ParquetRowWriters.writer(dataDir,
      f"$token-part-$partitionId%05d-$taskId.parquet", conf)
}

/** MERGE-ON-READ row-level writes (q287) — the delta-based
  * [[SupportsDelta]] shape, selected by
  * `TBLPROPERTIES('graft.merge.mode'='mor', 'graft.key'=k)`:
  *
  * {{{
  *   UPDATE t SET v = ... WHERE cond   -- commits: sidecar + new rows
  *   DELETE FROM t WHERE cond          -- commits: sidecar only
  * }}}
  *
  * Where the copy-on-write path rewrites every file containing a match
  * (gigabytes for a one-row UPDATE at 100 TB), the delta path commits
  * only the CHANGE: Spark feeds the writer per-row operations — with
  * `representUpdateAsDeleteAndInsert`, deletes carrying the row id and
  * inserts carrying new rows — and the row id here is exactly the MOR
  * sidecar's coordinate, (`_file`, key). Executors write two lazy
  * parquet outputs per task (insert rows → a data file; delete ids →
  * a (__target, __key) sidecar, q277's format byte-for-byte), and the
  * driver commit is ONE manifest commit appending the data files and
  * `#dv` lines — NO existing file is rewritten or even read at commit.
  * Reads apply the sidecars as always ([[Versioned.applyDvs]]);
  * OPTIMIZE compacts them away; history stays exact (nDel = sidecar
  * rows, each a live (file,key) at scan time under the keyed-unique
  * contract mor mode requires). Same snapshot conflict rules as the
  * COW path — in particular a concurrent COW rewrite of a targeted
  * file fails the statement (its sidecar rows would silently go
  * stale).
  */
final class GraftDeltaOperation(tableName: String, dir: String,
    cmd: RowLevelOperation.Command, keyCol: String)
    extends GraftRowLevelOperation(tableName, dir, cmd)
    with org.apache.spark.sql.connector.write.SupportsDelta {

  override def rowId(): Array[NamedReference] = Array(
    org.apache.spark.sql.connector.expressions.Expressions
      .column(VersionedSqlTable.FileCol),
    org.apache.spark.sql.connector.expressions.Expressions.column(keyCol))

  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def newWriteBuilder(info: LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.DeltaWriteBuilder =
    new org.apache.spark.sql.connector.write.DeltaWriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.DeltaWrite =
        new org.apache.spark.sql.connector.write.DeltaWrite {
          override def toBatch
              : org.apache.spark.sql.connector.write.DeltaBatchWrite =
            new MorDeltaBatchWrite(GraftDeltaOperation.this, dir, keyCol, info)
          override def description(): String =
            s"graft-versioned write-delta $tableName ($cmd)"
        }
    }

  override def description(): String = s"graft-versioned mor $cmd $tableName"
}

final class MorDeltaBatchWrite(op: GraftDeltaOperation, dir: String,
    keyCol: String, info: LogicalWriteInfo)
    extends org.apache.spark.sql.connector.write.DeltaBatchWrite {

  import org.apache.spark.sql.connector.write.{DeltaWriterFactory, PhysicalWriteInfo}

  private def spark: SparkSession = SparkSession.active
  private val token = java.util.UUID.randomUUID.toString.take(8)
  private val keyType: DataType = op.currentSchema(keyCol).dataType
  private val dvSchema = StructType(Seq(
    StructField("__target", StringType, nullable = false),
    StructField("__key", keyType, nullable = false)))

  override def createBatchWriterFactory(pInfo: PhysicalWriteInfo): DeltaWriterFactory = {
    // inserts arrive in the table's column order; the row id arrives in
    // rowId() order — (_file, key). A pure DELETE inserts nothing and
    // carries an empty write schema.
    require(info.schema().isEmpty ||
      info.schema().fieldNames.sameElements(op.currentSchema.fieldNames),
      s"write-delta insert schema ${info.schema().fieldNames.mkString(",")} " +
        s"!= table schema ${op.currentSchema.fieldNames.mkString(",")}")
    new MorDeltaWriterFactory(s"$dir/data", token,
      ParquetRowWriters.writeConf(spark, dir, op.currentSchema),
      ParquetRowWriters.writeConf(spark, dir, dvSchema),
      keyType.catalogString)
  }

  override def commit(messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit = {
    val parts = messages.collect { case m: MorDeltaCommit => m }
    Versioned.commitDelta(spark, dir, op.snapshot, keyCol,
      parts.flatMap(_.dataFile).filter(_._2 > 0).toSeq,
      parts.flatMap(_.dvFile).filter(_._2 > 0).toSeq)
  }

  override def abort(messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    messages.collect { case m: MorDeltaCommit =>
      (m.dataFile.toSeq ++ m.dvFile.toSeq).foreach { case (f, _) =>
        fs.delete(new Path(s"$dir/data/$f"), false)
      }
    }
  }
}

final case class MorDeltaCommit(dataFile: Option[(String, Long)],
    dvFile: Option[(String, Long)])
  extends org.apache.spark.sql.connector.write.WriterCommitMessage

/** Per-task delta writer: two lazily-opened parquet outputs — insert
  * rows under the table schema, delete ids as (__target, __key)
  * sidecar rows. `update` never fires (updates arrive split as
  * delete + insert).
  */
final class MorDeltaWriterFactory(dataDir: String, token: String,
    dataConf: SerializableConfiguration, dvConf: SerializableConfiguration,
    keyTypeDdl: String)
    extends org.apache.spark.sql.connector.write.DeltaWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] =
    new org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] {
      private val keyType = DataType.fromDDL(keyTypeDdl)
      private val dataName = f"$token-part-$partitionId%05d-$taskId.parquet"
      private val dvName = f"$token-dv-$partitionId%05d-$taskId.parquet"
      private var data: DataWriter[InternalRow] = _
      private var dv: DataWriter[InternalRow] = _
      private var nData = 0L
      private var nDv = 0L

      override def insert(row: InternalRow): Unit = {
        if (data == null)
          data = ParquetRowWriters.writer(dataDir, dataName, dataConf)
        data.write(row)
        nData += 1
      }

      override def delete(metadata: InternalRow, id: InternalRow): Unit = {
        if (dv == null) dv = ParquetRowWriters.writer(dataDir, dvName, dvConf)
        // id carries the rowId projection in rowId() order: (_file, key)
        dv.write(new GenericInternalRow(Array[Any](
          id.getUTF8String(0).copy(), id.get(1, keyType))))
        nDv += 1
      }

      override def update(metadata: InternalRow, id: InternalRow,
          row: InternalRow): Unit =
        throw new IllegalStateException(
          "updates arrive as delete+insert (representUpdateAsDeleteAndInsert)")

      override def commit(): org.apache.spark.sql.connector.write.WriterCommitMessage = {
        if (data != null) data.commit()
        if (dv != null) dv.commit()
        MorDeltaCommit(
          if (data != null) Some((dataName, nData)) else None,
          if (dv != null) Some((dvName, nDv)) else None)
      }

      override def abort(): Unit = {
        if (data != null) data.abort()
        if (dv != null) dv.abort()
      }

      override def close(): Unit = ()
    }
}

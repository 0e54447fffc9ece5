package graft.sources.v2

import java.util

import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, NonEmptyNamespaceException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, SupportsNamespaces, SupportsRead, SupportsWrite, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.{Column, DataFrame, Row, SQLContext, SparkSession}

import graft.sources.Versioned

/** The VERSIONED TABLE as a first-class SQL citizen: a DataSource V2
  * `TableCatalog` over [[Versioned]]'s manifest machinery, so the whole
  * table-format surface is reachable from SQL TEXT —
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft_cat",
  *     "graft.sources.v2.GraftCatalog")
  *   spark.conf.set("spark.sql.catalog.graft_cat.warehouse", "/lake")
  *
  *   CREATE TABLE graft_cat.db.t (k BIGINT, v STRING)
  *   INSERT INTO graft_cat.db.t SELECT ...       -- a manifest commit
  *   INSERT OVERWRITE graft_cat.db.t SELECT ...  -- full-replace commit
  *   SELECT * FROM graft_cat.db.t                -- latest version
  *   SELECT * FROM graft_cat.db.t VERSION AS OF 3
  *   SELECT * FROM graft_cat.db.t TIMESTAMP AS OF '2026-08-15 12:00:00'
  *   ALTER TABLE graft_cat.db.t RENAME COLUMN a TO b   -- era manifest
  *   ALTER TABLE graft_cat.db.t ADD COLUMN c BIGINT    -- metadata-only
  *   ALTER TABLE graft_cat.db.t DROP COLUMN c
  *   ALTER TABLE graft_cat.db.t ALTER COLUMN k TYPE BIGINT -- widening
  * }}}
  *
  * (The reference's lake layout, `config.py:61-78`, is what the format
  * generalizes; this catalog is the SQL front door every warehouse user
  * reaches for first.)
  *
  * READ path: the returned table's scan is a [[V1Scan]] — the same
  * fallback Spark's own JDBC v2 catalog ships — whose relation is the
  * era-aware [[Versioned.readVersion]] DataFrame. Column pruning pushes
  * into the inner parquet scan via `pruneColumns`; accepted filters are
  * RE-APPLIED onto the inner DataFrame (so parquet row-group pruning
  * and predicate pushdown fire inside) while also being returned as
  * residuals — double evaluation of a deterministic predicate is sound,
  * and it keeps Spark's own semantics authoritative.
  *
  * WRITE path: `INSERT INTO` → [[Versioned.append]] (one manifest
  * commit through the OCC ledger), `INSERT OVERWRITE` →
  * [[Versioned.create]] (full-replace commit preserving the schema-
  * evolution lineage) — via [[V1Write]]/`InsertableRelation`, i.e. the
  * data lands through exactly the same commit protocol as the library
  * API, so SQL writers and API writers serialize against each other.
  *
  * TIME TRAVEL: `VERSION AS OF` resolves through
  * `loadTable(ident, version)`, `TIMESTAMP AS OF` through
  * `loadTable(ident, timestampMicros)` → [[Versioned.versionAsOf]]
  * (Spark hands the timestamp in MICROSECONDS since epoch; commit times
  * are milliseconds).
  *
  * The warehouse root is re-read from the ACTIVE session's
  * `spark.sql.catalog.<name>.warehouse` conf on every operation rather
  * than pinned at initialize — Spark caches catalog instances per name
  * for the session's lifetime, and a long-lived session (the gate
  * harness, a notebook) must be able to re-point the warehouse without
  * forging a new catalog name.
  */
final class GraftCatalog extends TableCatalog with SupportsNamespaces
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.StagingTableCatalog {

  private var catalogName: String = _
  private var initialWarehouse: Option[String] = None

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    initialWarehouse = Option(options.get("warehouse"))
    // manifest statistics → join planning (q298): V1ScanWrapper hides
    // the scan's SupportsReportStatistics; this rule re-exposes it
    graft.plans.VersionedStatsRule.register(SparkSession.active)
  }

  override def name(): String = catalogName

  private def spark: SparkSession = SparkSession.active

  private def warehouse: String =
    spark.conf.getOption(s"spark.sql.catalog.$catalogName.warehouse")
      .orElse(initialWarehouse)
      .getOrElse(throw new IllegalArgumentException(
        s"catalog $catalogName needs spark.sql.catalog.$catalogName.warehouse"))

  private def fs = new Path(warehouse)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def nsPath(ns: Array[String]): Path =
    ns.foldLeft(new Path(warehouse))((p, n) => new Path(p, n))

  private def tablePath(ident: Identifier): Path =
    new Path(nsPath(ident.namespace), ident.name)

  /** A directory IS a table iff it carries the manifest dir or the
    * pre-first-commit schema file — anything else under the warehouse
    * is a namespace.
    */
  private def isTable(p: Path): Boolean =
    (fs.exists(new Path(p, "_manifests")) ||
      fs.exists(new Path(p, "_schema.ddl"))) &&
      // a dir carrying a drop marker is a CRASHED DROP's shell, not a
      // table — it reads as nonexistent until CREATE/DROP heals it
      !fs.exists(new Path(p, Versioned.DroppedMarker)) &&
      !fs.exists(new Path(p, s"${Versioned.DroppedMarker}.tmp"))

  // ---- tables -------------------------------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val p = nsPath(namespace)
    if (!fs.exists(p)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && isTable(s.getPath))
      .map(s => Identifier.of(namespace, s.getPath.getName))
      .toArray
  }

  override def tableExists(ident: Identifier): Boolean = {
    val p = tablePath(ident)
    fs.exists(p) && isTable(p)
  }

  override def loadTable(ident: Identifier): Table = {
    if (tableExists(ident))
      new VersionedSqlTable(fullName(ident), tablePath(ident).toString, None)
    else metaTableFor(ident).getOrElse(throw new NoSuchTableException(ident))
  }

  /** SQL METADATA TABLES (the Iceberg suffixed-identifier convention):
    * `SELECT * FROM graft_cat.db.t.history | .files | .tags` — table
    * inspection where SQL users look first (`CALL system.history`
    * exists, but nobody finds a procedure before a table). Resolution
    * fires ONLY when the identifier itself is not a real table AND its
    * namespace resolves to one — so a genuine table named `history`
    * always wins (tableExists is checked first), and a DATA column
    * named like a suffix is untouched (column resolution never reaches
    * the catalog). Read-only; rows come off the manifest/tag state at
    * scan time ([[VersionedMetaTable]]).
    */
  private def metaTableFor(ident: Identifier): Option[Table] = {
    val isMeta = VersionedMetaTable.Suffixes(ident.name)
    val isBranch = ident.name.startsWith("branch_")
    if (ident.namespace.isEmpty || (!isMeta && !isBranch)) None
    else {
      val parent = Identifier.of(ident.namespace.init, ident.namespace.last)
      if (!tableExists(parent)) None
      else if (isMeta) Some(new VersionedMetaTable(fullName(ident),
        tablePath(parent).toString, ident.name))
      else {
        // `t.branch_<name>` — the WRITABLE branch binding (q307):
        // resolves only while the branch ref exists, so a published or
        // dropped branch disappears from SQL too
        val branch = ident.name.stripPrefix("branch_")
        if (!Versioned.branches(spark, tablePath(parent).toString)
          .contains(branch)) None
        else Some(new VersionedBranchTable(fullName(ident),
          tablePath(parent).toString, branch))
      }
    }
  }

  /** `VERSION AS OF x` — a number resolves directly and the pinned
    * table reads exactly that manifest; a name resolves as a TAG first
    * ([[Versioned.tags]]), then as a BRANCH ([[Versioned.branches]] —
    * q311: the branch HEAD reads through the time-travel syntax, the
    * Iceberg branch-ref convention; live — it follows branch commits —
    * where a tag is a pinned version). Precedence number > tag > branch
    * is spec-pinned. A version that never committed (or was vacuumed)
    * fails loudly here, at analysis time; a dropped branch stops
    * resolving with a loud error naming both ref kinds.
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val dir = tablePath(ident).toString
    version.toLongOption match {
      case Some(v) =>
        require(Versioned.versions(spark, dir).contains(v),
          s"version $v of ${fullName(ident)} does not exist")
        new VersionedSqlTable(fullName(ident), dir, Some(v))
      case None => Versioned.tags(spark, dir).get(version) match {
        case Some(v) =>
          require(Versioned.versions(spark, dir).contains(v),
            s"version $v of ${fullName(ident)} does not exist")
          new VersionedSqlTable(fullName(ident), dir, Some(v))
        case None if Versioned.branches(spark, dir).contains(version) =>
          new VersionedBranchTable(s"${fullName(ident)}@$version", dir,
            version)
        case None => throw new IllegalArgumentException(
          s"'$version' is neither a version number, a tag, nor a branch " +
            s"of ${fullName(ident)} (tags: ${Versioned.tags(spark, dir)
              .keys.toSeq.sorted.mkString(", ")}; branches: ${Versioned
              .branches(spark, dir).keys.toSeq.sorted.mkString(", ")})")
      }
    }
  }

  /** `TIMESTAMP AS OF <ts>` — Spark hands MICROSECONDS since epoch;
    * resolve to the newest version committed at or before it.
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val dir = tablePath(ident).toString
    val v = Versioned.versionAsOf(spark, dir, Math.floorDiv(timestamp, 1000L))
    new VersionedSqlTable(fullName(ident), dir, Some(v))
  }

  private def fullName(ident: Identifier): String =
    (catalogName +: ident.namespace :+ ident.name).mkString(".")

  /** CREATE TABLE: record the declared schema in `_schema.ddl` so the
    * empty table is loadable before its first commit; the first INSERT
    * becomes manifest v1. `PARTITIONED BY (a, b, days(ts), ...)` — any
    * mix of IDENTITY columns and the TEMPORAL transforms days/months —
    * persists as the `graft.partition` property: every INSERT then
    * routes through the partitioned writer
    * ([[Versioned.append]] with the spec), whose per-file `#pfile`
    * tags (one line per spec field) drive the SQL scan's partition
    * pruning — equality values per identity axis (q293), RANGES over
    * the source column per temporal axis (a ts predicate prunes
    * `days(ts)` files with zero IO). Bucket transforms are rejected
    * with guidance — the format's clustering knob is OPTIMIZE ZORDER.
    */
  private[v2] def parsePartitionSpec(partitions: Array[Transform])
      : Seq[Versioned.PartField] = {
    def oneRef(t: Transform): String = {
      require(t.references.length == 1 &&
        t.references.head.fieldNames.length == 1,
        s"PARTITIONED BY: $t must reference exactly one top-level column")
      t.references.head.fieldNames.head
    }
    partitions.toSeq.map {
      case t if t.name == "identity" => Versioned.PartField.Identity(oneRef(t))
      case t if t.name == "hours" => Versioned.PartField.Hours(oneRef(t))
      case t if t.name == "days" => Versioned.PartField.Days(oneRef(t))
      case t if t.name == "months" => Versioned.PartField.Months(oneRef(t))
      case t if t.name == "years" => Versioned.PartField.Years(oneRef(t))
      case other => throw new UnsupportedOperationException(
        s"PARTITIONED BY ($other) — supported transforms are identity " +
          "columns and hours/days/months/years(col); for clustering use " +
          "CALL system.optimize_zorder")
    }
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val graftProps = VersionedSqlTable.declaredProps(properties,
      parsePartitionSpec(partitions), schema)
    // the existence check re-runs INSIDE the ledger, so a staged
    // commit or another CREATE racing this one is serialized — not a
    // check-then-act clobber
    graft.sources.Lake.withCommit(spark, tablePath(ident).toString) {
      if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
      // reusing the name of a crashed DROP: finish its cleanup inside
      // this slot before laying fresh metadata
      Versioned.healDroppedIfAny(spark, tablePath(ident).toString)
      writeTableMeta(ident, schema, graftProps)
    }
    new VersionedSqlTable(fullName(ident), tablePath(ident).toString, None)
  }

  /** The declared-schema + properties control files (`_schema.ddl`,
    * `_props.tsv`) — shared by CREATE and the staged CREATE/REPLACE
    * commit (which overwrites both under the OCC ledger).
    */
  private[v2] def writeTableMeta(ident: Identifier, schema: StructType,
      graftProps: Map[String, String]): Unit = {
    val p = tablePath(ident)
    fs.mkdirs(p)
    val out = fs.create(new Path(p, "_schema.ddl"), true)
    try out.write(schema.toDDL.getBytes("UTF-8")) finally out.close()
    Versioned.writeProps(spark, p.toString, graftProps)
  }

  /** ATOMIC CREATE/REPLACE TABLE [AS SELECT] — Spark routes CTAS and
    * REPLACE through these when the catalog stages ([[GraftStagedTable]]):
    * the CTAS data lands as uncommitted files, and `commitStagedChanges`
    * publishes metadata + the first/replacing manifest in ONE ledger
    * slot — a schema-breaking rebuild is no longer DROP + CREATE with a
    * visible gap, and concurrent readers see the old head until the
    * manifest rename lands. Pre-replace versions remain time-travelable
    * (a REPLACE is a commit whose schema lineage RESETS; every older
    * manifest keeps its own).
    */
  override def stageCreate(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo)
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    new GraftStagedTable(this, ident, info, GraftStagedTable.Create)
  }

  override def stageReplace(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo)
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    new GraftStagedTable(this, ident, info, GraftStagedTable.Replace)
  }

  override def stageCreateOrReplace(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo)
      : org.apache.spark.sql.connector.catalog.StagedTable =
    new GraftStagedTable(this, ident, info, GraftStagedTable.CreateOrReplace)

  private[v2] def sparkSessionForStaging: SparkSession = spark
  private[v2] def fsForStaging = fs
  private[v2] def tablePathFor(ident: Identifier): Path = tablePath(ident)
  private[v2] def fullNameFor(ident: Identifier): String = fullName(ident)
  private[v2] def tableExistsNow(ident: Identifier): Boolean = tableExists(ident)

  /** ALTER TABLE → the metadata-only era-manifest evolution commits:
    * RENAME/ADD/DROP COLUMN and ALTER COLUMN TYPE (lossless widening
    * only — [[Versioned.widenColumn]] rejects narrowing loudly). Each
    * change is one OCC commit, in statement order. SET/UNSET
    * TBLPROPERTIES rewrites `_props.tsv` under the same validation as
    * CREATE — the intended flow for renaming a mor table's key column:
    * RENAME COLUMN, then SET ('graft.key'='<new name>').
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val dir = tablePath(ident).toString
    def one(names: Array[String]): String = {
      require(names.length == 1,
        s"nested column paths are not supported: ${names.mkString(".")}")
      names.head
    }
    changes.foreach {
      case c: TableChange.RenameColumn =>
        Versioned.renameColumn(spark, dir, one(c.fieldNames), c.newName)
      case c: TableChange.AddColumn =>
        Versioned.addColumn(spark, dir, one(c.fieldNames),
          c.dataType.catalogString)
      case c: TableChange.DeleteColumn =>
        Versioned.dropColumn(spark, dir, one(c.fieldNames))
      case c: TableChange.UpdateColumnType =>
        Versioned.widenColumn(spark, dir, one(c.fieldNames),
          c.newDataType.catalogString)
      case c: TableChange.SetProperty =>
        setTableProps(ident, _ + (c.property -> c.value))
      case c: TableChange.RemoveProperty =>
        setTableProps(ident, _ - c.property)
      case other => throw new UnsupportedOperationException(
        s"unsupported ALTER TABLE change: $other")
    }
    loadTable(ident)
  }

  private def setTableProps(ident: Identifier,
      f: Map[String, String] => Map[String, String]): Unit = {
    val table = loadTable(ident).asInstanceOf[VersionedSqlTable]
    val next = f(table.graftProps).filter(_._1.startsWith("graft."))
    VersionedSqlTable.validateProps(next, table.schema())
    Versioned.writeProps(spark, tablePath(ident).toString, next)
  }

  /** DROP TABLE through the OCC ledger (q312): the drop serializes
    * with every writer via the same slot protocol commits use —
    * mark + content-delete inside the slot
    * ([[Versioned.dropTableContents]]), then the shell (ledger +
    * marker) goes. A writer racing the drop loses its slot loudly
    * (its commit sees the marker) instead of interleaving with the
    * `fs.delete`; a crash mid-drop leaves the marker, the dir reads as
    * no-table, and the next CREATE or DROP of the name finishes the
    * cleanup idempotently.
    */
  override def dropTable(ident: Identifier): Boolean = {
    val p = tablePath(ident)
    if (tableExists(ident)) {
      Versioned.dropTableContents(spark, p.toString)
      fs.delete(p, true)
      true
    } else if (fs.exists(p) && Versioned.isDropped(spark, p.toString)) {
      // a crashed drop's shell: finish it; the table itself was
      // already gone, so this drop still reports not-found
      fs.delete(p, true)
      false
    } else false
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(newIdent)
    // the target name may be a crashed drop's shell — an fs.rename
    // INTO an existing dir would nest the table under it
    if (fs.exists(tablePath(newIdent)) &&
      Versioned.isDropped(spark, tablePath(newIdent).toString))
      fs.delete(tablePath(newIdent), true)
    fs.mkdirs(nsPath(newIdent.namespace))
    require(fs.rename(tablePath(oldIdent), tablePath(newIdent)),
      s"rename ${fullName(oldIdent)} -> ${fullName(newIdent)} failed")
  }

  // ---- procedures (SQL CALL) ------------------------------------------

  /** The table-maintenance verbs as SQL `CALL`s — the Iceberg
    * stored-procedure convention, on Spark 4's ProcedureCatalog:
    *
    * {{{
    *   CALL graft_cat.system.optimize('db.t', 4)
    *   CALL graft_cat.system.optimize_zorder('db.t', 8, 'a', 'b')
    *   CALL graft_cat.system.vacuum('db.t', 3)
    *   CALL graft_cat.system.history('db.t')
    * }}}
    *
    * Each mutation runs through the same OCC commit as the library
    * API; outputs come back as result rows (LocalScan).
    */
  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("system")))
      GraftProcedures.names.map(n => Identifier.of(Array("system"), n))
    else Array.empty

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    require(ident.namespace.sameElements(Array("system")),
      s"unknown procedure namespace ${ident.namespace.mkString(".")} " +
        "(procedures live under `system`)")
    GraftProcedures.load(ident.name, this)
  }

  /** Resolve a procedure's table argument ('t' or 'db.t', relative to
    * this catalog) to its directory.
    */
  private[v2] def dirForName(name: String): String = {
    val parts = name.split("\\.")
    val ident = Identifier.of(parts.init, parts.last)
    require(tableExists(ident), s"no such table $catalogName.$name")
    tablePath(ident).toString
  }

  // ---- namespaces ---------------------------------------------------

  override def listNamespaces(): Array[Array[String]] = {
    val root = new Path(warehouse)
    if (!fs.exists(root)) Array.empty
    else fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && !isTable(s.getPath))
      .map(s => Array(s.getPath.getName)).toArray
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else {
      val p = nsPath(namespace)
      if (!fs.exists(p)) throw new NoSuchNamespaceException(namespace)
      fs.listStatus(p).toSeq
        .filter(s => s.isDirectory && !isTable(s.getPath))
        .map(s => namespace :+ s.getPath.getName).toArray
    }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || {
      val p = nsPath(namespace)
      fs.exists(p) && !isTable(p)
    }

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    util.Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    if (namespaceExists(namespace) && fs.exists(nsPath(namespace)))
      throw new NamespaceAlreadyExistsException(namespace)
    fs.mkdirs(nsPath(namespace))
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("ALTER NAMESPACE is not supported")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    val p = nsPath(namespace)
    if (!cascade && fs.exists(p) && fs.listStatus(p).nonEmpty)
      throw new NonEmptyNamespaceException(namespace)
    fs.delete(p, true)
  }
}

object VersionedSqlTable {
  /** The metadata column row-level operations group by (Iceberg's
    * `_file` convention): each row's data-file NAME as listed in the
    * manifest. Also directly selectable (`SELECT _file, * FROM t`).
    */
  val FileCol = "_file"

  /** `_file` as a metadata column of a table (main or branch) whose
    * data schema is `schema` — shadowed if a data column claims the
    * name, per the SupportsMetadataColumns contract.
    */
  private[v2] def fileColumn(schema: StructType)
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    if (schema.fieldNames.contains(FileCol)) Array.empty
    else Array(new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = FileCol
      override def dataType(): DataType = org.apache.spark.sql.types.StringType
      override def isNullable: Boolean = false
      override def comment(): String = "data file name (manifest entry)"
    })

  /** The LOGICAL schema of `lineage` at the `pinned` point, else at its
    * head — before main's first commit, point 0's: the declared
    * `_schema.ddl` ([[Versioned.schemaOf]]). Main and branch tables
    * cache it once per table instance: Spark fixes a relation's output
    * at analysis, while each query's scan still resolves its own
    * snapshot ([[VersionedScanBuilder]]).
    */
  private[v2] def schemaAt(spark: SparkSession, dir: String,
      lineage: Versioned.Lineage, pinned: Option[Long]): StructType =
    Versioned.schemaOf(spark, dir, lineage.manifestAt(spark, dir,
      pinned.orElse(lineage.headPoint(spark, dir)).getOrElse(0L)))

  /** The `graft.*` TBLPROPERTIES a CREATE or staged CREATE/REPLACE
    * declares: only the graft.* namespace persists (Spark itself injects
    * provider/owner/etc), plus `graft.partition` for a PARTITIONED BY
    * spec. 'graft.key' + 'graft.merge.mode' select the q287
    * merge-on-read row-level path; validated HERE so a typo fails the
    * CREATE, not the first UPDATE.
    */
  private[v2] def declaredProps(properties: util.Map[String, String],
      partitionSpec: Seq[Versioned.PartField],
      schema: StructType): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    val props = properties.asScala.toMap.filter(_._1.startsWith("graft.")) ++
      (if (partitionSpec.isEmpty) Map.empty
      else Map("graft.partition" -> Versioned.PartField.render(partitionSpec)))
    validateProps(props, schema)
    props
  }

  /** The `graft.*` property keys CREATE/ALTER accept, with their
    * value validation — shared so a typo fails the DDL statement, not
    * the first operation that consults the property.
    */
  private[v2] def validateProps(props: Map[String, String],
      schema: => StructType): Unit = {
    val known = Set("graft.key", "graft.merge.mode", "graft.retention.versions",
      "graft.partition")
    props.keys.foreach(k => require(known(k),
      s"unknown table property $k (have ${known.toSeq.sorted.mkString(", ")})"))
    props.get("graft.merge.mode").foreach { m =>
      require(m == "cow" || m == "mor",
        s"graft.merge.mode must be cow or mor, got $m")
      require(m != "mor" || props.contains("graft.key"),
        "graft.merge.mode=mor needs graft.key (merge-on-read deletes are " +
          "equality deletes on a declared unique key)")
    }
    props.get("graft.key").foreach(k =>
      require(schema.fieldNames.contains(k),
        s"graft.key column '$k' is not in the schema " +
          s"(${schema.fieldNames.mkString(", ")})"))
    props.get("graft.retention.versions").foreach(v =>
      require(v.toIntOption.exists(_ >= 1),
        s"graft.retention.versions must be a positive int, got '$v'"))
    props.get("graft.partition").foreach { spec =>
      val fields = Versioned.PartField.parse(spec)
      require(fields.nonEmpty, "graft.partition must not be empty")
      require(fields.map(_.tagCol).distinct.size == fields.size,
        s"graft.partition repeats a field: $spec")
      fields.foreach { f =>
        require(schema.fieldNames.contains(f.source),
          s"partition column '${f.source}' is not in the schema " +
            s"(${schema.fieldNames.mkString(", ")})")
        f match {
          case _: Versioned.PartField.Identity => ()
          case _: Versioned.PartField.Hours =>
            // a date has no hour — hours() is timestamp-only (the
            // Iceberg rule)
            val dt = schema(f.source).dataType
            require(dt == org.apache.spark.sql.types.TimestampType,
              s"${f.tagCol}: hours() needs a timestamp column, " +
                s"'${f.source}' is ${dt.catalogString}")
          case _ =>
            val dt = schema(f.source).dataType
            require(dt == org.apache.spark.sql.types.DateType ||
              dt == org.apache.spark.sql.types.TimestampType,
              s"${f.tagCol}: temporal partitioning needs a date or " +
                s"timestamp column, '${f.source}' is ${dt.catalogString}")
        }
      }
    }
  }
}

/** One versioned table as seen by the SQL layer — optionally pinned to
  * a time-travel version (in which case it is read-only).
  */
final class VersionedSqlTable(tableName: String, dir: String,
    pinnedVersion: Option[Long]) extends Table
    with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {

  private def spark: SparkSession = SparkSession.active

  /** The persisted `graft.*` TBLPROPERTIES (empty for plain tables). */
  private[v2] lazy val graftProps: Map[String, String] =
    Versioned.readProps(spark, dir)

  override def properties(): util.Map[String, String] = {
    import scala.jdk.CollectionConverters._
    graftProps.asJava
  }

  /** UPDATE / MERGE INTO / group-based DELETE — copy-on-write
    * ReplaceData through the manifest commit protocol by default
    * ([[GraftRowLevelOperation]]), runtime-group-filtered to the files
    * that contain matches. A table declared
    * `TBLPROPERTIES('graft.merge.mode'='mor','graft.key'=k)` routes
    * ALL THREE commands through the MERGE-ON-READ delta path instead
    * ([[GraftDeltaOperation]] — equality-delete sidecars + insert
    * files, NO data file rewritten): for MERGE, matched UPDATEs split
    * into delete+insert rows carrying the (`_file`, key) row id,
    * matched DELETEs carry the row id alone, and NOT MATCHED inserts
    * are plain insert rows — a CDC upsert on a MOR table commits
    * kilobytes of sidecar + new data at any table size, where the COW
    * shape it previously fell back to rewrote every matched file.
    */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(pinnedVersion.isEmpty,
      s"cannot ${info.command} a time-travel read $name — writes go to the table head")
    val mor = graftProps.get("graft.merge.mode").contains("mor")
    if (!mor) new GraftRowLevelOperationBuilder(tableName, dir, info)
    else {
      val key = graftProps("graft.key")
      require(schema().fieldNames.contains(key),
        s"graft.key column '$key' is no longer in $name's schema " +
          s"(${schema().fieldNames.mkString(", ")}) — a rename of the key " +
          "column must update the table's graft.key property too")
      new GraftRowLevelOperationBuilder(tableName, dir, info, Some(key))
    }
  }

  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    VersionedSqlTable.fileColumn(schema())

  /** SQL `DELETE FROM ... WHERE` — accepted only when EVERY conjunct
    * translates ([[VersionedScan.toColumn]]); Spark then calls
    * [[deleteWhere]] and the delete lands as one COW commit through
    * the OCC ledger, rewriting only the files whose live rows match
    * ([[Versioned.deleteWhere]]). An untranslatable predicate makes
    * Spark fail the statement loudly instead of over- or
    * under-deleting.
    */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    pinnedVersion.isEmpty &&
      // a merge-on-read table never takes the COW predicate-delete
      // shortcut — its whole point is that DELETE costs a sidecar, not
      // a file rewrite, so every delete stays on the q287 delta path
      !graftProps.get("graft.merge.mode").contains("mor") &&
      filters.forall(f => VersionedScan.toColumn(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(pinnedVersion.isEmpty,
      s"cannot DELETE from time-travel read $name")
    val cond = filters.flatMap(VersionedScan.toColumn)
      .reduceOption(_ && _).getOrElse(lit(true))
    Versioned.deleteWhere(spark, dir, cond)
  }

  override def name(): String =
    pinnedVersion.fold(tableName)(v => s"$tableName@v$v")

  /** Latest (or pinned) version's LOGICAL schema
    * ([[VersionedSqlTable.schemaAt]], once per table instance). On a
    * merge-on-read table the declared key surfaces NON-NULLABLE — the
    * keyed-unique contract forbids null keys anyway, and Spark's delta
    * row-level rewrite requires non-nullable row-id attributes.
    */
  private lazy val schemaNow: StructType = {
    val base = VersionedSqlTable.schemaAt(spark, dir, Versioned.Main,
      pinnedVersion)
    if (!graftProps.get("graft.merge.mode").contains("mor")) base
    else graftProps.get("graft.key").fold(base)(k => StructType(
      base.fields.toSeq.map(f =>
        if (f.name == k) f.copy(nullable = false) else f)))
  }
  override def schema(): StructType = schemaNow

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER,
      // `MERGE ... WITH SCHEMA EVOLUTION`: Spark's
      // ResolveMergeIntoSchemaEvolution computes the source-only
      // columns (and lossless type widenings) as TableChanges and
      // routes them through alterTable — i.e. the q268/q278 era
      // machinery — before the row-level rewrite plans; each change is
      // a metadata-only commit, old files read the new column as NULL
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION,
      TableCapability.STREAMING_WRITE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new VersionedScanBuilder(dir, Versioned.Main, pinnedVersion, schema(),
      options)

  /** The declared partition spec (`PARTITIONED BY` at CREATE → the
    * `graft.partition` property) — reported so DESCRIBE/SHOW surface
    * it and writes route through the partitioned writer.
    */
  override def partitioning(): Array[Transform] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    graftProps.get("graft.partition").toSeq
      .flatMap(s => Versioned.PartField.parse(s)).map {
        case Versioned.PartField.Identity(c) => Expressions.identity(c)
        case Versioned.PartField.Hours(c) => Expressions.hours(c)
        case Versioned.PartField.Days(c) => Expressions.days(c)
        case Versioned.PartField.Months(c) => Expressions.months(c)
        case Versioned.PartField.Years(c) => Expressions.years(c)
      }.toArray
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(pinnedVersion.isEmpty,
      s"cannot write to time-travel read $name — writes go to the table head")
    new VersionedWriteBuilder(dir, info, schema(),
      graftProps.get("graft.partition").toSeq
        .flatMap(s => Versioned.PartField.parse(s)))
  }
}

private[v2] object GraftStagedTable {
  sealed trait Mode
  case object Create extends Mode
  case object Replace extends Mode
  case object CreateOrReplace extends Mode
}

/** One in-flight atomic CREATE/REPLACE TABLE [AS SELECT]
  * ([[GraftCatalog.stageCreate]] family). The CTAS write lands data
  * files UNCOMMITTED under the final `data/` dir (the entries are
  * remembered here, not in any manifest — a crash leaves vacuum-aged
  * orphans, every writer's guarantee); `commitStagedChanges` then
  * validates the mode against the CURRENT catalog state, rewrites
  * `_schema.ddl`/`_props.tsv`, and publishes ONE manifest with a RESET
  * schema lineage through the OCC ledger. Plain REPLACE TABLE (no AS
  * SELECT) commits a ZERO-ENTRY manifest — the table becomes empty
  * under its new schema, old versions stay time-travelable.
  * `abortStagedChanges` deletes the staged files (and, for a CREATE
  * that made the directory, the directory).
  */
final class GraftStagedTable(cat: GraftCatalog, ident: Identifier,
    info: org.apache.spark.sql.connector.catalog.TableInfo,
    mode: GraftStagedTable.Mode)
    extends org.apache.spark.sql.connector.catalog.StagedTable
    with SupportsWrite {

  private def spark = cat.sparkSessionForStaging
  private val dir = cat.tablePathFor(ident).toString
  private val dirPreExisted =
    cat.fsForStaging.exists(cat.tablePathFor(ident))
  private val declaredSchema: StructType = info.schema()
  private val partitionSpec: Seq[Versioned.PartField] =
    cat.parsePartitionSpec(info.partitions())
  private val graftProps: Map[String, String] = VersionedSqlTable
    .declaredProps(info.properties(), partitionSpec, declaredSchema)

  // the CTAS write's staged output — set by insert, read by commit
  @volatile private var staged
      : (Seq[(String, Long)], Seq[(String, String, String)]) =
    (Seq.empty, Seq.empty)

  override def name(): String = cat.fullNameFor(ident)
  override def schema(): StructType = declaredSchema
  override def partitioning(): Array[Transform] = info.partitions()
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)

  // a REPLACE ... AS SELECT arrives as a truncate-shaped write into
  // the staged table — which holds no data by construction, so
  // truncate is the identity here (the actual replacement of the OLD
  // table's state happens at commitStagedChanges)
  override def newWriteBuilder(writeInfo: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      override def truncate(): WriteBuilder = this
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, ov: Boolean): Unit =
              staged = Versioned.writeFresh(data, dir, partitionSpec)
          }
      }
    }

  override def commitStagedChanges(): Unit = {
    // mode revalidation AND the metadata rewrite run INSIDE the OCC
    // slot (commitStagedState's prepare hook): a concurrent
    // CREATE/DROP is genuinely serialized against this commit — a
    // check outside the slot was a clobber window — and a commit that
    // cannot win the slot never half-writes `_schema.ddl`/`_props.tsv`
    // over the surviving table's metadata. A conflict throws out of
    // the slot; Spark's exec then calls abortStagedChanges.
    Versioned.commitStagedState(spark, dir, staged._1, staged._2,
      declaredSchema) { () =>
      mode match {
        case GraftStagedTable.Create if cat.tableExistsNow(ident) =>
          throw new TableAlreadyExistsException(ident)
        case GraftStagedTable.Replace if !cat.tableExistsNow(ident) =>
          throw new NoSuchTableException(ident)
        case _ => ()
      }
      // a crashed DROP's leftovers (marker + stray metadata) are
      // healed inside this same slot before the name is reused — the
      // staged data/ files stay (they are this commit's content)
      Versioned.healDroppedIfAny(spark, dir)
      cat.writeTableMeta(ident, declaredSchema, graftProps)
    }
    ()
  }

  override def abortStagedChanges(): Unit = {
    val fs = cat.fsForStaging
    staged._1.foreach(e =>
      fs.delete(new Path(dir, s"data/${e._1}"), false))
    // remove the directory ONLY if this staging made it AND no real
    // table occupies it now — a CREATE that lost its commit-time race
    // must never delete the concurrent winner's table
    if (!dirPreExisted && !cat.tableExistsNow(ident))
      fs.delete(new Path(dir), true)
    staged = (Seq.empty, Seq.empty)
  }
}

/** A WRITABLE BRANCH as a SQL table ([[GraftCatalog]]'s
  * `t.branch_<name>` suffix resolution — the write-audit-publish
  * surface, q307): `INSERT INTO t.branch_audit SELECT ...` appends a
  * BRANCH manifest ([[Versioned.appendToBranch]]) that main readers
  * cannot see; `SELECT * FROM t.branch_audit` reads the branch head
  * for the audit; `DELETE FROM t.branch_audit WHERE ...` (q309) is the
  * AUDIT-FIX verb — a copy-on-write rewrite of only the branch files
  * containing matches, committed as the next branch manifest
  * ([[Versioned.commitReplace]] on the branch lineage), main untouched
  * until fast_forward. UPDATE/MERGE stay unsupported by design (stated in
  * DESCRIBE via the `graft.branch.verbs` property): an audit stages
  * exactly what it intends to publish — bad rows are DELETEd and
  * corrected rows re-INSERTed, which composes the two supported verbs
  * without inheriting the full row-level matrix into the staging area.
  * SELECT is the main table's scan on the branch lineage (branch
  * manifests carry fstats, and q316 staging tags branch files, so an
  * audit WHERE reads O(matching files) of a staged terabyte); the
  * row-level DELETE's own scan prunes through the same manifest plus
  * the runtime `_file` group filter, exactly like main-table DELETEs.
  */
final class VersionedBranchTable(tableName: String, dir: String,
    branch: String) extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {

  private def spark: SparkSession = SparkSession.active

  override def name(): String = tableName
  private lazy val schemaNow: StructType = VersionedSqlTable.schemaAt(spark,
    dir, Versioned.Branch(branch), None)
  override def schema(): StructType = schemaNow
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE,
      TableCapability.MICRO_BATCH_READ)

  override def properties(): util.Map[String, String] = {
    import scala.jdk.CollectionConverters._
    Map("graft.branch.verbs" ->
      ("INSERT INTO (stage), DELETE FROM (audit-fix); UPDATE/MERGE " +
        "unsupported — re-stage corrected rows instead")).asJava
  }

  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    VersionedSqlTable.fileColumn(schema())

  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(info.command ==
      org.apache.spark.sql.connector.write.RowLevelOperation.Command.DELETE,
      s"branch $tableName takes INSERT INTO and DELETE only — " +
        "UPDATE/MERGE on an audit staging area are unsupported by design " +
        "(DELETE the bad rows and re-INSERT corrected ones; see the " +
        "graft.branch.verbs table property)")
    new GraftRowLevelOperationBuilder(tableName, dir, info,
      lineage = Versioned.Branch(branch))
  }

  /** The branch head's manifest prunes, answers COUNT/MIN/MAX and
    * estimates statistics exactly as a main version's does;
    * `readStream.table` streams the branch's commit feed (q311).
    */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new VersionedScanBuilder(dir, Versioned.Branch(branch), None, schema(),
      options)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, ov: Boolean): Unit = {
              require(!ov,
                s"branch $tableName takes INSERT INTO only — an audit " +
                  "staging area is append-only (publish replaces nothing; " +
                  "drop_branch + branch to start over)")
              Versioned.appendToBranch(data, dir, branch)
              ()
            }
          }
      }
    }
}

/** One read-only SQL metadata table over a versioned table's manifest
  * and tag state ([[GraftCatalog.loadTable]]'s suffix resolution):
  *   - `t.history`  — (version, committed_at, n_files, n_rows, tags):
  *     one row per committed version, row counts EXACT on any on-disk
  *     lineage ([[Versioned.exactRowCounts]] — entry rows minus the
  *     sidecar rows targeting that version's LIVE entries, the same
  *     live-targeting arithmetic as the pushed COUNT(*), so
  *     inspection and answers always agree; one shared sidecar-only
  *     job when sidecars exist, pure driver arithmetic otherwise),
  *     `tags` the comma-joined names pinning that version (NULL if
  *     none);
  *   - `t.files`    — (file, n_rows, era, partition_col,
  *     partition_value): the CURRENT version's manifest entries with
  *     their q281 partition tags (NULL for untagged files);
  *   - `t.tags`     — (name, version, created_at): the named refs with
  *     their creation time (NULL for tags written pre-times);
  *   - `t.branches` — (name, base_version, head_seq, staged_files,
  *     staged_rows): the live write-audit-publish branches with the
  *     size of the staged delta a fast_forward/cherry_pick would
  *     publish (q307/q314) — the audit operator's dashboard row.
  * Rows are computed at scan time from the same driver-side manifest
  * state every read already parses — metadata-sized, zero data-file
  * IO; Spark evaluates WHERE/aggregates on top (a LocalScan needs no
  * pushdown to be cheap at this cardinality: rows ∝ versions / files
  * / tags, the same O(manifest) the catalog holds in memory anyway).
  */
object VersionedMetaTable {
  /** The recognized metadata-table suffixes. */
  val Suffixes: Set[String] = Set("history", "files", "tags", "branches")
}

final class VersionedMetaTable(tableName: String, dir: String,
    kind: String) extends Table with SupportsRead {
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.types._
  import org.apache.spark.unsafe.types.UTF8String

  private def spark: SparkSession = SparkSession.active

  override def name(): String = tableName

  override def schema(): StructType = kind match {
    case "history" => StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("committed_at", TimestampType, nullable = true),
      StructField("n_files", IntegerType, nullable = false),
      StructField("n_rows", LongType, nullable = false),
      StructField("tags", StringType, nullable = true)))
    case "files" => StructType(Seq(
      StructField("file", StringType, nullable = false),
      StructField("n_rows", LongType, nullable = false),
      StructField("era", IntegerType, nullable = false),
      StructField("partition_col", StringType, nullable = true),
      StructField("partition_value", StringType, nullable = true)))
    case "branches" => StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("base_version", LongType, nullable = false),
      StructField("head_seq", LongType, nullable = false),
      StructField("staged_files", IntegerType, nullable = false),
      StructField("staged_rows", LongType, nullable = false)))
    case _ => StructType(Seq( // "tags"
      StructField("name", StringType, nullable = false),
      StructField("version", LongType, nullable = false),
      StructField("created_at", TimestampType, nullable = true)))
  }

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  private def utf8(s: String): UTF8String = UTF8String.fromString(s)
  private def micros(ms: Long): Long = Math.multiplyExact(ms, 1000L)

  private def rowsNow(): Array[InternalRow] = {
    val s = spark
    val out: Seq[Array[Any]] = kind match {
      case "history" =>
        val tagsByV = Versioned.tagsWithTimes(s, dir).toSeq
          .groupBy(_._2._1)
          .map { case (v, ts) =>
            v -> ts.map(_._1).sorted.mkString(",")
          }
        val ms = Versioned.versions(s, dir)
          .map(v => v -> Versioned.manifestOf(s, dir, v))
        // EXACT per-version row counts (one shared sidecar-only job,
        // zero when dv-free) — inspection and the pushed COUNT(*)
        // agree on any on-disk lineage, stale sidecar rows included
        val rowsOf = Versioned.exactRowCounts(s, dir, ms)
        ms.map { case (v, m) =>
          Array[Any](v,
            m.commitMs.map(micros).orNull,
            m.entries.size,
            rowsOf(v),
            tagsByV.get(v).map(utf8).orNull)
        }
      case "files" =>
        Versioned.latestVersion(s, dir).toSeq.flatMap { v =>
          val m = Versioned.manifestOf(s, dir, v)
          // multi-field specs: comma-joined in manifest tag order
          // (single-field renders exactly as before)
          val tagsOf = m.ptags.groupBy(_._1).view
            .mapValues(ts => (ts.map(_._2).mkString(","),
              ts.map(_._3).mkString(","))).toMap
          m.entries.map { case (f, n, era) =>
            val pt = tagsOf.get(f)
            Array[Any](utf8(f), n, era,
              pt.map(t => utf8(t._1)).orNull,
              pt.map(t => utf8(t._2)).orNull)
          }
        }
      case "branches" =>
        // one row per live branch: its base, local head seq, and the
        // STAGED DELTA's size (head entries beyond the base manifest —
        // what fast_forward/cherry_pick would publish); pure manifest
        // arithmetic like every metadata table
        Versioned.branches(s, dir).toSeq.sortBy(_._1)
          .map { case (n, base) =>
            val (head, seq) = Versioned.branchHead(s, dir, n)
            val baseFiles = Versioned.manifestOf(s, dir, base)
              .entries.map(_._1).toSet
            val delta = head.entries.filterNot(e => baseFiles(e._1))
            Array[Any](utf8(n), base, seq, delta.size,
              delta.map(_._2).sum)
          }
      case _ => // "tags"
        Versioned.tagsWithTimes(s, dir).toSeq.sortBy(_._1)
          .map { case (n, (v, ms)) =>
            Array[Any](utf8(n), v, ms.map(micros).orNull)
          }
    }
    out.map(vals => new GenericInternalRow(vals): InternalRow).toArray
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan =
        new org.apache.spark.sql.connector.read.LocalScan {
          override def readSchema(): StructType = schema()
          override def rows(): Array[InternalRow] = rowsNow()
          override def description(): String =
            s"graft-versioned metadata table $tableName ($kind)"
        }
    }
}

/** Column pruning reaches the inner parquet scan; accepted filters are
  * applied to the inner DataFrame (parquet pushdown fires inside) AND
  * left for Spark to re-check — sound for deterministic predicates.
  * A bare `COUNT(*)` (no grouping, no surviving filter) never touches
  * data at all: the count is MANIFEST ARITHMETIC — entry row counts
  * minus delete-sidecar counts, both recorded at commit time — so the
  * classic "how big is this table" question costs one metadata read at
  * any scale. Spark only offers the pushdown when every filter was
  * fully consumed; since this scan keeps all filters residual, any
  * WHERE clause automatically falls back to the real scan. One builder
  * serves main and branch tables: it reads `lineage`'s head, or the
  * `pinned` point (`VERSION AS OF`).
  */
final class VersionedScanBuilder(dir: String, lineage: Versioned.Lineage,
    pinned: Option[Long], full: StructType,
    options: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty())
    extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  private var required: StructType = full
  private var accepted: Array[Filter] = Array.empty
  private var pushedAggs: Seq[(VersionedScan.PushedAgg, Option[Any])] = Seq.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    accepted = filters.filter(f => VersionedScan.toColumn(f).isDefined)
    filters // ALL stay residual — Spark's evaluation remains authoritative
  }

  override def pushedFilters(): Array[Filter] = accepted

  /** The query's snapshot, (manifest, point), resolved ONCE: the
    * aggregate verdict, the statistics estimate and the read all use
    * it, so a pushed value is the one its manifest proved. None before
    * main's first commit.
    */
  private lazy val snapshot: Option[(Versioned.Manifest, Long)] =
    VersionedScan.resolve(SparkSession.active, dir, lineage, pinned)

  /** A grouping-free COUNT(*)/COUNT(col)/MIN/MAX list answers from the
    * MANIFEST ([[VersionedScan]]'s agg path): COUNT(*) always, the
    * others only when the snapshot's stats prove the value exact
    * ([[VersionedScan.statsValue]]). Anything else falls back to the
    * real scan, which Spark plans automatically when this returns
    * false. Residual filters disable the offer on Spark's side, as with
    * the q290 count.
    */
  // Spark calls supportCompletePushDown and then pushAggregation with
  // the same Aggregation, so the per-Aggregation verdict memoizes
  private var lastAgg: AnyRef = _
  private var lastVerdict: Option[Seq[(VersionedScan.PushedAgg, Option[Any])]] = None

  private def verdict(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[Seq[(VersionedScan.PushedAgg, Option[Any])]] = {
    if (!(agg eq lastAgg)) {
      lastAgg = agg
      lastVerdict = VersionedScan.translateAggs(agg)
        .map(_.map(a => a -> snapshot.flatMap(s =>
          VersionedScan.statsValue(s._1, a, full))))
        .filter(_.forall { case (a, v) =>
          a == VersionedScan.CountAll || v.isDefined })
    }
    lastVerdict
  }

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = verdict(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = verdict(agg) match {
    case Some(aggs) => pushedAggs = aggs; true
    case None => false
  }

  override def build(): Scan =
    new VersionedScan(dir, lineage, pinned, snapshot,
      // with aggregates pushed, the scan's output IS the aggregate
      // schema (Spark zips the relation output positionally)
      if (pushedAggs.nonEmpty)
        StructType(pushedAggs.map(_._1).map {
          case VersionedScan.CountAll =>
            org.apache.spark.sql.types.StructField("count_star",
              org.apache.spark.sql.types.LongType, nullable = false)
          case VersionedScan.CountCol(c) =>
            org.apache.spark.sql.types.StructField(s"count_$c",
              org.apache.spark.sql.types.LongType, nullable = false)
          case VersionedScan.MinOf(c) =>
            org.apache.spark.sql.types.StructField(s"min_$c",
              full(c).dataType, nullable = true)
          case VersionedScan.MaxOf(c) =>
            org.apache.spark.sql.types.StructField(s"max_$c",
              full(c).dataType, nullable = true)
        })
      else required,
      accepted, pushedAggs, options,
      // derived HERE, where the full schema is known (the scan only
      // carries the pruned one, and a filter column may not survive
      // projection pruning)
      VersionedScan.temporalRangesOf(VersionedScan.boundsOf(accepted), full))
}

/** The V1Scan fallback (the JDBC-v2-catalog shape): `buildScan` hands
  * Spark the era-aware versioned read with pruning and accepted
  * filters applied, so the inner plan is an ordinary pushdown-bearing
  * parquet scan.
  */
final class VersionedScan(dir: String, lineage: Versioned.Lineage,
    pinned: Option[Long], snapshot: Option[(Versioned.Manifest, Long)],
    required: StructType, accepted: Array[Filter],
    pushedAggs: Seq[(VersionedScan.PushedAgg, Option[Any])] = Seq.empty,
    options: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty(),
    tagRanges: Seq[(String, Long, Long)] = Seq.empty)
    extends V1Scan
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  private def countStar: Boolean = pushedAggs.nonEmpty

  /** TABLE STATISTICS FROM THE MANIFEST (q298): without this, Spark
    * prices every catalog-table scan at `defaultSizeInBytes`
    * (Long.MaxValue-ish) and NEVER broadcasts it — a 25-row dimension
    * table joined to a 100 TB fact plans a full sort-merge shuffle of
    * the fact side unless the user hand-writes a hint. Row counts are
    * manifest arithmetic (kept-entry rows after the SAME stats+ptag
    * prune the scan will read, minus sidecar deletes — so a selective
    * pushed range also shrinks the estimate, and join planning sees
    * the post-prune size); bytes = rows × the schema's default field
    * widths (Spark's own estimation currency — these are PLANNING
    * estimates feeding broadcast/join decisions, not answers, so
    * advisory nDel arithmetic is fine here where the q290 COUNT
    * required exactness). Zero file IO, called at plan time after
    * pushdown.
    */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = estimated

  // stats visitors may ask repeatedly during one query's planning
  private lazy val estimated: org.apache.spark.sql.connector.read.Statistics = {
    val (rows, width) = snapshot match {
      case None => (0L, 1L)
      case Some((m, _)) =>
        val kept = Versioned.prunedEntries(m)(
          VersionedScan.boundsOf(accepted), VersionedScan.eqValuesOf(accepted),
          VersionedScan.nullPredsOf(accepted), tagRanges)
        val n = math.max(0L, kept.map(_._2).sum - m.dvs.map(_.nDel).sum)
        val w = math.max(1L,
          required.fields.map(_.dataType.defaultSize.toLong).sum)
        (if (countStar) 1L else n, w)
    }
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(math.max(1L, rows * width))
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows)
    }
  }

  override def readSchema(): StructType = required

  /** `spark.readStream.table("graft_cat.db.t")` — the catalog table as
    * an APPEND-ONLY streaming source, composing the two round-13
    * surfaces (SQL catalog, q276; versioned stream, q280) so a table
    * created in SQL streams by NAME. Offsets, admission control
    * (`maxVersionsPerTrigger`), AvailableNow pinning, and the
    * pair-walk over the manifest log are [[VersionedChangeStream]] in
    * `bare` mode: only NEW-side rows under the table's own schema (no
    * change-metadata columns — the table's schema IS the stream's),
    * and a file-removing pair (compaction / rewrite) fails loudly —
    * the path-based `format("graft-versioned")` CDC source is the
    * surface that can represent those. The DEFAULT start is version 0
    * — the initial snapshot streams as the first batches, the
    * Delta/Iceberg `readStream.table` convention this binding mirrors
    * (the path-based CDC source keeps its changes-from-now default;
    * a CHANGE feed and a TABLE read have different natural zeros) —
    * `option("startingVersion", v)` overrides.
    *
    * MIGRATION NOTES on that default, stated loudly (round-15
    * ADVICE): (a) on a VACUUMED lineage, 0 means "the earliest
    * RETAINED version streams whole as the first batch" — offsets
    * land only on committed versions, so 0 is always valid and never
    * wedges on a dropped manifest; (b) a long retained history
    * replays IN FULL before live data arrives — set startingVersion
    * to the current version for the old changes-from-now behavior;
    * (c) a retained file-REMOVING pair (OPTIMIZE, COW rewrite,
    * replaceWhere) inside the replay fails the stream loudly (the
    * bare-mode appends-only contract — re-emitting rewritten rows
    * would double-count downstream), where a changes-from-now start
    * silently skipped it: start AFTER the rewrite
    * (`startingVersion` ≥ its version, which the error names) or
    * consume the path-based CDC feed, which represents removals.
    *
    * On a BRANCH table (q311) the offsets are branch seqs (0 = the
    * base), each batch the staged rows of one branch commit — the
    * audit feed; a q309 branch DELETE removes files, so a stream
    * crossing that pair fails loudly, and a published/dropped branch
    * fails at the next offset resolution.
    */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(pinned.isEmpty,
      s"cannot stream a time-travel read of $dir — streams follow the head")
    val (head, _) = snapshot.getOrElse(
      throw new IllegalStateException(
        s"$dir has no committed version to stream from"))
    required.fields.foreach { f =>
      require(VersionedStreamTable.Supported.exists(_.isInstance(f.dataType)),
        s"cannot stream column '${f.name}' of type " +
          s"${f.dataType.catalogString} — the flat interchange set is " +
          "integral/fp/boolean/string/binary/date/timestamp")
    }
    new VersionedChangeStream(dir,
      Some(Option(options.get("startingVersion")).map(_.toLong).getOrElse(0L)),
      required,
      head.changes,
      Option(options.get("maxVersionsPerTrigger")).map { s =>
        val m = s.toInt
        require(m > 0, s"maxVersionsPerTrigger must be positive, got $m")
        m
      },
      bare = true, lineage = lineage)
  }

  override def description(): String =
    s"graft-versioned $dir${lineage.label}" +
      pinned.fold("")(v => s" VERSION AS OF $v") +
      (if (pushedAggs.isEmpty) "" else pushedAggs.map(_._1).map {
        case VersionedScan.CountAll => "COUNT(*)"
        case VersionedScan.CountCol(c) => s"COUNT($c)"
        case VersionedScan.MinOf(c) => s"MIN($c)"
        case VersionedScan.MaxOf(c) => s"MAX($c)"
      }.mkString(" PushedAggregates: [", ", ", "]")) +
      s" PushedFilters: [${accepted.mkString(", ")}]" +
      s" ReadSchema: ${required.catalogString}"

  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T =
    new BaseRelation with TableScan {
      override def sqlContext: SQLContext = context
      override def schema: StructType = required
      override def buildScan(): RDD[Row] = {
        val spark = context.sparkSession
        snapshot match {
          case None if countStar =>
            // a created-but-never-committed table pushes COUNT(*) only
            // (nothing else is proven without a manifest): 0 is exact
            spark.sparkContext.parallelize(
              Seq(Row(pushedAggs.map(_ => 0L): _*)), 1)
          case None => // created, never committed: a legitimate empty table
            spark.sparkContext.emptyRDD[Row]
          case Some((m, v)) if countStar =>
            // Aggregates from the MANIFEST — zero data files opened.
            // COUNT(*): [[Versioned.exactRowCounts]], the same count
            // `history` reports — entry rows minus the sidecar deletes
            // that target live entries, exact on ANY on-disk lineage;
            // pure driver arithmetic with zero jobs when the version
            // has no sidecars, else one cached sidecar-only job. The
            // others: the values the verdict proved on this manifest.
            val values: Seq[Any] = pushedAggs.map {
              case (VersionedScan.CountAll, _) =>
                Versioned.exactRowCounts(spark, dir, Seq(v -> m))(v)
              case (_, proven) => proven.get
            }
            spark.sparkContext.parallelize(Seq(Row(values: _*)), 1)
          case Some((m, _)) =>
            VersionedScan.prunedScan(spark, dir, m, accepted, tagRanges,
              required).rdd
        }
      }
    }.asInstanceOf[T]
}

object VersionedScan {

  /** The scanned (manifest, point): the pinned point, else the
    * lineage's head — None before main's first commit.
    */
  private[v2] def resolve(spark: SparkSession, dir: String,
      lineage: Versioned.Lineage, pinned: Option[Long])
      : Option[(Versioned.Manifest, Long)] =
    pinned.fold(lineage.head(spark, dir))(p =>
      Some((lineage.manifestAt(spark, dir, p), p)))

  /** The SQL read of one resolved manifest — a main version or a
    * branch head (q316: branch manifests carry stats and `#pfile`
    * tags, so an audit WHERE reads O(matching files) of a staged
    * table). Prunes files by the accepted conjuncts
    * ([[Versioned.prunedEntries]], ZERO file IO before the parquet
    * scan is planned): column-stats bounds (numeric/decimal/date/
    * timestamp/string domains), PARTITION TAGS for equality conjuncts
    * (the q281 era-aware logic — files of another spec era fail open),
    * temporal tag ranges, and NULL COUNTS for IS [NOT] NULL conjuncts
    * (incl. the IsNotNull Spark injects under every equality/range
    * filter). Reads the kept files ([[Versioned.readPruned]]),
    * re-applies the accepted filters in full (every prune is a pure
    * optimization) and selects the required columns. `_file` (the
    * metadata column) is captured AT the scan and kept through the dv
    * anti-join, where an outer input_file_name() would read blank
    * post-shuffle.
    */
  private[v2] def prunedScan(spark: SparkSession, dir: String,
      m: Versioned.Manifest, accepted: Array[Filter],
      tagRanges: Seq[(String, Long, Long)], required: StructType): DataFrame = {
    val kept = Versioned.prunedEntries(m)(boundsOf(accepted),
      eqValuesOf(accepted), nullPredsOf(accepted), tagRanges)
    val (base, _, _) = Versioned.readPruned(spark, dir, m, kept,
      Some(VersionedSqlTable.FileCol).filter(required.fieldNames.contains))
    val filtered = accepted.flatMap(toColumn).foldLeft(base)(_.filter(_))
    if (required.isEmpty) filtered // COUNT(*): no columns needed
    else filtered.select(required.fieldNames.map(col).toIndexedSeq: _*)
  }

  /** One pushed aggregate expression ([[VersionedScanBuilder]]). */
  private[v2] sealed trait PushedAgg
  private[v2] case object CountAll extends PushedAgg
  private[v2] final case class CountCol(column: String) extends PushedAgg
  private[v2] final case class MinOf(column: String) extends PushedAgg
  private[v2] final case class MaxOf(column: String) extends PushedAgg

  /** A grouping-free aggregation list whose every expression is
    * COUNT(*) / COUNT(col) / MIN(col) / MAX(col) on a top-level
    * column; None for anything else (grouping, COUNT(DISTINCT), SUM,
    * expressions).
    */
  private[v2] def translateAggs(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[Seq[PushedAgg]] = {
    import org.apache.spark.sql.connector.expressions.aggregate.{Count, CountStar, Max, Min}
    import org.apache.spark.sql.connector.expressions.{Expression, NamedReference}
    def ref(e: Expression): Option[String] = e match {
      case r: NamedReference if r.fieldNames.length == 1 =>
        Some(r.fieldNames.head)
      case _ => None
    }
    if (agg.groupByExpressions().nonEmpty) None
    else {
      val translated = agg.aggregateExpressions().toSeq.map {
        case _: CountStar => Some(CountAll)
        case c: Count if !c.isDistinct => ref(c.column).map(CountCol)
        case m: Min => ref(m.column).map(MinOf)
        case m: Max => ref(m.column).map(MaxOf)
        case _ => None
      }
      if (translated.forall(_.isDefined) && translated.nonEmpty)
        Some(translated.flatten)
      else None
    }
  }

  /** TEMPORAL-TAG ranges implied by the pushed bounds: for a bound
    * [lo, hi] on a date/timestamp column `c`, any row in range has
    * `hours(c)` ∈ [hour(lo), hour(hi)] (timestamps only — dates carry
    * no hour), `days(c)` ∈ [day(lo), day(hi)], `months(c)` and
    * `years(c)` likewise — necessary conditions, so files tagged on
    * those axes range-prune soundly
    * ([[Versioned.ptagRangePrunedEntries]]) whether or not the table's
    * CURRENT spec matches (tags speak for their own files). Timestamp
    * bounds are epoch MICROS, date bounds epoch DAYS (the [[boundsOf]]
    * encodings); all convert by exact floor arithmetic, months/years
    * through the UTC calendar walk.
    */
  private[v2] def temporalRangesOf(bounds: Seq[(String, Versioned.Bound,
      Versioned.Bound)], schema: StructType): Seq[(String, Long, Long)] = {
    import org.apache.spark.sql.types.{DateType, TimestampType}
    val MicrosPerDay = BigDecimal(86400000000L)
    val MicrosPerHour = BigDecimal(3600000000L)
    def floorDiv(b: Versioned.Bound, unit: BigDecimal, ifInf: Long): Long =
      b match {
        case Versioned.Bound.Num(v) =>
          val d = (v / unit).setScale(0, BigDecimal.RoundingMode.FLOOR)
          if (!d.isValidLong) ifInf else d.toLong
        case _ => ifInf
      }
    def dayOf(b: Versioned.Bound, isTs: Boolean, ifInf: Long): Long =
      floorDiv(b, if (isTs) MicrosPerDay else BigDecimal(1), ifInf)
    def calendarOf(day: Long): java.time.LocalDate = {
      // LocalDate.ofEpochDay is bounded; clamp far-range days to the
      // representable window (still a sound, merely looser, bound)
      val clamped = math.max(-365243219162L, math.min(365241780471L, day))
      java.time.LocalDate.ofEpochDay(clamped)
    }
    def monthOf(day: Long): Long = {
      val d = calendarOf(day)
      (d.getYear - 1970).toLong * 12 + d.getMonthValue - 1
    }
    def yearOf(day: Long): Long = (calendarOf(day).getYear - 1970).toLong
    bounds.flatMap { case (c, lo, hi) =>
      schema.fields.find(_.name == c).toSeq.flatMap { f =>
        val isTs = f.dataType match {
          case TimestampType => Some(true)
          case DateType => Some(false)
          case _ => None
        }
        isTs.toSeq.flatMap { ts =>
          val dLo = dayOf(lo, ts, Long.MinValue)
          val dHi = dayOf(hi, ts, Long.MaxValue)
          def cal(f: Long => Long, d: Long, inf: Long): Long =
            if (d == Long.MinValue || d == Long.MaxValue) inf else f(d)
          Seq((s"days($c)", dLo, dHi),
            (s"months($c)", cal(monthOf, dLo, Long.MinValue),
              cal(monthOf, dHi, Long.MaxValue)),
            (s"years($c)", cal(yearOf, dLo, Long.MinValue),
              cal(yearOf, dHi, Long.MaxValue))) ++
            (if (!ts) Seq.empty
             else Seq((s"hours($c)",
               floorDiv(lo, MicrosPerHour, Long.MinValue),
               floorDiv(hi, MicrosPerHour, Long.MaxValue))))
        }
      }
    }
  }

  /** Top-level IS NULL / IS NOT NULL conjuncts — the null-count prune
    * axis ([[Versioned.nullPrunedEntries]]). IsNotNull fires on nearly
    * every filtered query (Spark injects it under each equality/range
    * conjunct), so an all-null file prunes everywhere it soundly can.
    */
  private[v2] def nullPredsOf(filters: Array[Filter])
      : Seq[(String, Boolean)] =
    filters.toSeq.flatMap {
      case IsNull(a) => Some((a, true))
      case IsNotNull(a) => Some((a, false))
      case _ => None
    }.distinct

  /** A pushed COUNT(col)/MIN/MAX of a column of `full`, answered
    * EXACTLY from manifest `m`'s stats: COUNT(col) as rows − nulls
    * ([[Versioned.statsNonNullCount]] — no sidecars, every entry's
    * null count recorded), MIN/MAX as the envelope extreme in the
    * direction pushed ([[Versioned.statsExtreme]] — integral/decimal
    * only: fp is NaN-blind, string bounds are truncated; no sidecars,
    * which could tombstone the extreme). None when the stats cannot
    * prove it, and for COUNT(*), which [[Versioned.exactRowCounts]]
    * answers at execution.
    */
  private[v2] def statsValue(m: Versioned.Manifest, agg: PushedAgg,
      full: StructType): Option[Any] = agg match {
    case CountCol(c) if full.fieldNames.contains(c) =>
      Versioned.statsNonNullCount(m, c)
    case MinOf(c) if full.fieldNames.contains(c) =>
      Versioned.statsExtreme(m, c, full(c).dataType, isMin = true)
    case MaxOf(c) if full.fieldNames.contains(c) =>
      Versioned.statsExtreme(m, c, full(c).dataType, isMin = false)
    case _ => None
  }

  /** The v1 `Filter` shapes the inner DataFrame can re-express; `None`
    * leaves the filter entirely to Spark (it re-checks everything
    * anyway — this translation only exists to light up parquet
    * row-group pruning inside the wrapped scan).
    */
  private[v2] def toColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(col(a) === lit(v))
    case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case GreaterThan(a, v) => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v) => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case In(a, vs) => Some(col(a).isInCollection(vs.toSeq))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case StringContains(a, v) => Some(col(a).contains(v))
    case And(l, r) => for (a <- toColumn(l); b <- toColumn(r)) yield a && b
    case Or(l, r) => for (a <- toColumn(l); b <- toColumn(r)) yield a || b
    case Not(c) => toColumn(c).map(!_)
    case _ => None
  }

  /** Per-column [lo, hi] bounds IMPLIED by the pushed conjuncts —
    * necessary conditions only, so manifest-stats pruning on them is
    * sound whatever the full predicate does. Each literal maps into
    * its stats kind's EXACT domain ([[Versioned.Bound]]): integral /
    * fp / decimal → exact BigDecimal; date → epoch days; timestamp →
    * epoch micros (both Java-time and legacy java.sql literal
    * classes); string → UTF-8 byte order. Disjunctions and anything
    * unrecognized contribute no bound (fail open). A GreaterThan's
    * exclusive edge relaxes to inclusive — a sound superset is all
    * pruning needs.
    */
  private[v2] def boundsOf(filters: Array[Filter])
      : Seq[(String, Versioned.Bound, Versioned.Bound)] = {
    import Versioned.Bound
    def bnd(v: Any): Option[Bound] = v match {
      case n: Byte => Some(Bound.Num(BigDecimal(n.toLong)))
      case n: Short => Some(Bound.Num(BigDecimal(n.toLong)))
      case n: Int => Some(Bound.Num(BigDecimal(n.toLong)))
      case n: Long => Some(Bound.Num(BigDecimal(n)))
      case n: Float if !n.isNaN => Some(Bound.Num(BigDecimal(n.toDouble)))
      case n: Double if !n.isNaN => Some(Bound.Num(BigDecimal(n)))
      case d: java.math.BigDecimal => Some(Bound.Num(BigDecimal(d)))
      case d: BigDecimal => Some(Bound.Num(d))
      case s: String => Some(Bound.Str(s))
      case d: java.sql.Date =>
        Some(Bound.Num(BigDecimal(d.toLocalDate.toEpochDay)))
      case d: java.time.LocalDate => Some(Bound.Num(BigDecimal(d.toEpochDay)))
      case t: java.sql.Timestamp => Some(Bound.Num(BigDecimal(
        Math.addExact(Math.multiplyExact(
          Math.floorDiv(t.getTime, 1000L), 1000000L),
          t.getNanos / 1000L))))
      case t: java.time.Instant => Some(Bound.Num(BigDecimal(
        Math.addExact(Math.multiplyExact(t.getEpochSecond, 1000000L),
          t.getNano / 1000L))))
      case t: java.time.LocalDateTime => Some(Bound.Num(BigDecimal(
        Math.addExact(Math.multiplyExact(
          t.toEpochSecond(java.time.ZoneOffset.UTC), 1000000L),
          t.getNano / 1000L))))
      case _ => None
    }
    def ord(a: Bound, b: Bound): Int = (a, b) match {
      case (Bound.Num(x), Bound.Num(y)) => x.compare(y)
      case (Bound.Str(x), Bound.Str(y)) => Versioned.utf8Compare(x, y)
      case _ => 0 // mixed-domain IN: no total order, caller falls back
    }
    val perFilter: Seq[(String, Bound, Bound)] = filters.toSeq.flatMap {
      case EqualTo(a, v) => bnd(v).map(b => (a, b, b))
      case GreaterThan(a, v) => bnd(v).map(b => (a, b, Bound.PosInf))
      case GreaterThanOrEqual(a, v) => bnd(v).map(b => (a, b, Bound.PosInf))
      case LessThan(a, v) => bnd(v).map(b => (a, Bound.NegInf, b))
      case LessThanOrEqual(a, v) => bnd(v).map(b => (a, Bound.NegInf, b))
      case In(a, vs) if vs.nonEmpty =>
        val bs = vs.toSeq.flatMap(v => bnd(v))
        val sameDomain = bs.forall(_.isInstanceOf[Bound.Num]) ||
          bs.forall(_.isInstanceOf[Bound.Str])
        if (bs.length != vs.length || !sameDomain) None
        else Some((a, bs.min((x: Bound, y: Bound) => ord(x, y)),
          bs.max((x: Bound, y: Bound) => ord(x, y))))
      case _ => None
    }
    // conjunct semantics: bounds on the same column intersect
    def tight(bs: Seq[Bound], lower: Boolean): Bound =
      bs.reduce { (x, y) =>
        (x, y) match {
          case (Bound.NegInf, o) => if (lower) o else Bound.NegInf
          case (o, Bound.NegInf) => if (lower) o else Bound.NegInf
          case (Bound.PosInf, o) => if (lower) Bound.PosInf else o
          case (o, Bound.PosInf) => if (lower) Bound.PosInf else o
          case (a, b) => if ((ord(a, b) >= 0) == lower) a else b
        }
      }
    perFilter.groupBy(_._1).toSeq.sortBy(_._1).map { case (c, bs) =>
      (c, tight(bs.map(_._2), lower = true), tight(bs.map(_._3), lower = false))
    }
  }

  /** A literal rendered the way the partitioned writer's leaf
    * directories (and hence the `#pfile` tags) render it — Spark's OWN
    * path escaping, so tag comparisons are exact for every value.
    */
  private def renderTagValue(v: Any): Option[String] = v match {
    case null => None
    case _: String | _: java.lang.Number | _: java.lang.Boolean |
         _: java.sql.Date | _: java.time.LocalDate =>
      Some(org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .escapePathName(v.toString))
    case _ => None
  }

  /** Does a file's partition-tag map PROVE the entire filter set true
    * for EVERY row of the file? (The replaceWhere whole-file-retire
    * test: a tag (c → x) certifies all rows have c = x, so an
    * equality/IN conjunct on a tagged column is provable; anything
    * else — ranges, other columns, untagged files — is not, and the
    * file falls to the scan-for-hits path.) Conservative by
    * construction: false never loses a row, it only costs a scan.
    */
  private[v2] def provedByTags(filters: Array[Filter],
      tags: Map[String, String]): Boolean = {
    def proved(f: Filter): Boolean = f match {
      case EqualTo(a, v) => renderTagValue(v).exists(r => tags.get(a).contains(r))
      case In(a, vs) =>
        tags.get(a).exists(t => vs.exists(v => renderTagValue(v).contains(t)))
      case And(l, r) => proved(l) && proved(r)
      case Or(l, r) => proved(l) || proved(r)
      case _ => false
    }
    filters.nonEmpty && filters.forall(proved)
  }

  /** Per-column EQUALITY value sets implied by the pushed conjuncts,
    * for PARTITION-TAG pruning ([[Versioned.ptagPrunedEntries]]) —
    * each literal renders through Spark's OWN partition-path escaping
    * (`ExternalCatalogUtils.escapePathName`, the function that named
    * the leaf directories the tags were read from), so the compare is
    * exact for every value — an ad-hoc "path-special" blacklist here
    * would drift from Spark's real escape set (it did: DEL) and a
    * missed escape would wrongly PRUNE a same-column tag, which is not
    * fail-open.
    */
  private[v2] def eqValuesOf(filters: Array[Filter])
      : Seq[(String, Set[String])] = {
    val perFilter: Seq[(String, Set[String])] = filters.toSeq.flatMap {
      case EqualTo(a, v) => renderTagValue(v).map(s => (a, Set(s)))
      case In(a, vs) if vs.nonEmpty =>
        val rs = vs.toSeq.flatMap(renderTagValue)
        if (rs.length == vs.length) Some((a, rs.toSet)) else None
      case _ => None
    }
    // conjuncts on the same column intersect
    perFilter.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (c, ss) => (c, ss.map(_._2).reduce(_ intersect _)) }
  }
}

/** The `system.*` maintenance procedures ([[GraftCatalog.loadProcedure]]).
  * Each is one UnboundProcedure whose bind is trivial (parameters are
  * fixed-shape), whose call runs the library operation, and whose
  * output rows come back through a [[org.apache.spark.sql.connector.read.LocalScan]].
  */
private[v2] object GraftProcedures {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
  import org.apache.spark.sql.connector.read.{LocalScan, Scan}
  import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField}

  val names: Array[String] =
    Array("optimize", "optimize_zorder", "vacuum", "history", "purge",
      "tag", "drop_tag", "restore", "branch", "fast_forward", "drop_branch",
      "cherry_pick")

  private def p(name: String, dt: org.apache.spark.sql.types.DataType) =
    ProcedureParameter.in(name, dt).build()

  private def pDefault(name: String, dt: org.apache.spark.sql.types.DataType,
      default: String) =
    ProcedureParameter.in(name, dt).defaultValue(default).build()

  private def output(schema: StructType, data: Seq[Array[Any]])
      : java.util.Iterator[Scan] =
    java.util.List.of[Scan](new LocalScan {
      override def readSchema(): StructType = schema
      override def rows(): Array[InternalRow] =
        data.map(vals => new GenericInternalRow(vals): InternalRow).toArray
    }).iterator()

  private def proc(procName: String, params: Seq[ProcedureParameter],
      out: StructType)(run: (SparkSession, InternalRow) => Seq[Array[Any]])
      : UnboundProcedure =
    new UnboundProcedure { self =>
      override def name(): String = procName
      override def bind(inputType: StructType): BoundProcedure =
        new BoundProcedure {
          override def name(): String = procName
          override def parameters(): Array[ProcedureParameter] = params.toArray
          override def isDeterministic: Boolean = false
          override def call(input: InternalRow): java.util.Iterator[Scan] =
            output(out, run(SparkSession.active, input))
        }
    }

  def load(name: String, cat: GraftCatalog): UnboundProcedure = name match {
    case "optimize" => proc("optimize",
      Seq(p("table", StringType), p("n_files", IntegerType)),
      StructType(Seq(StructField("version", LongType, nullable = false)))) {
      (spark, in) =>
        val v = Versioned.optimize(spark,
          cat.dirForName(in.getUTF8String(0).toString), in.getInt(1))
        Seq(Array[Any](v))
    }
    case "optimize_zorder" => proc("optimize_zorder",
      Seq(p("table", StringType), p("n_files", IntegerType),
        p("col_a", StringType), p("col_b", StringType)),
      StructType(Seq(StructField("version", LongType, nullable = false)))) {
      (spark, in) =>
        val v = Versioned.optimizeZorder(spark,
          cat.dirForName(in.getUTF8String(0).toString), in.getInt(1),
          in.getUTF8String(2).toString, in.getUTF8String(3).toString)
        Seq(Array[Any](v))
    }
    // RETENTION POLICY: `CALL system.vacuum('db.t')` with no count
    // reads the table's declared policy —
    // TBLPROPERTIES('graft.retention.versions'='K') — the way
    // Delta/Iceberg operators actually run retention (one policy on
    // the table, one parameterless maintenance job across the fleet).
    // An explicit count still overrides; no count and no policy fails
    // loudly rather than guessing a default that deletes history.
    case "vacuum" => proc("vacuum",
      Seq(p("table", StringType),
        // NULL is the omitted-argument default — unlike any integer
        // sentinel it is NOT expressible as a user value, so an
        // explicit non-positive count (including the old sentinel -1)
        // always reaches the loud rejection below instead of being
        // silently rerouted to the retention policy
        pDefault("keep_versions", IntegerType, "CAST(NULL AS INT)")),
      StructType(Seq(
        StructField("manifests_removed", IntegerType, nullable = false),
        StructField("data_files_removed", IntegerType, nullable = false)))) {
      (spark, in) =>
        val tableArg = in.getUTF8String(0).toString
        val dir = cat.dirForName(tableArg)
        val keep =
          if (in.isNullAt(1)) // omitted: the table's declared policy
            Versioned.readProps(spark, dir)
              .get("graft.retention.versions").map(_.toInt)
              .getOrElse(throw new IllegalArgumentException(
                s"vacuum('$tableArg') without keep_versions needs " +
                  "TBLPROPERTIES('graft.retention.versions'='K') on the table"))
          else in.getInt(1) match {
            case k if k >= 1 => k
            case k => throw new IllegalArgumentException(
              // an EXPLICIT non-positive count must fail, not silently
              // reroute to the policy (0 would mean "delete everything")
              s"vacuum('$tableArg', $k): keep_versions must be >= 1")
          }
        val (m, f) = Versioned.vacuum(spark, dir, keep)
        Seq(Array[Any](m, f))
    }
    case "history" => proc("history",
      Seq(p("table", StringType)),
      StructType(Seq(
        StructField("version", LongType, nullable = false),
        StructField("n_files", IntegerType, nullable = false),
        StructField("n_rows", LongType, nullable = false)))) {
      (spark, in) =>
        Versioned.history(spark, cat.dirForName(in.getUTF8String(0).toString))
          .map { case (v, nf, nr) => Array[Any](v, nf, nr) }
    }
    // RIGHT-TO-BE-FORGOTTEN from SQL: CALL system.purge('db.t', 'k',
    // '5,12,19') — keys parse as strings and CAST to the key column's
    // type (a value that does not parse fails the CALL rather than
    // silently purging nothing); the purge itself is
    // [[Versioned.purgeKeys]]'s history-rewriting erasure.
    case "purge" => proc("purge",
      Seq(p("table", StringType), p("key_col", StringType),
        p("keys_csv", StringType)),
      StructType(Seq(
        StructField("files_rewritten", IntegerType, nullable = false),
        StructField("versions_touched", IntegerType, nullable = false)))) {
      (spark, in) =>
        val dir = cat.dirForName(in.getUTF8String(0).toString)
        val keyCol = in.getUTF8String(1).toString
        val keyType = VersionedSqlTable.schemaAt(spark, dir, Versioned.Main,
          None)(keyCol).dataType
        import spark.implicits._
        val raw = in.getUTF8String(2).toString.split(",").toSeq.map(_.trim)
        val keys = raw.toDF(keyCol)
          .select(org.apache.spark.sql.functions.col(keyCol)
            .cast(keyType).as(keyCol))
        require(keys.filter(org.apache.spark.sql.functions.col(keyCol)
          .isNull).isEmpty,
          s"purge: some keys do not parse as ${keyType.catalogString}: " +
            raw.mkString(", "))
        val (files, versions) = Versioned.purgeKeys(spark, dir, keyCol, keys)
        Seq(Array[Any](files, versions))
    }
    // NAMED VERSION REFS: CALL system.tag('db.t', 'baseline', 3) pins
    // version 3 under a name — readable as VERSION AS OF 'baseline',
    // immune to vacuum until CALL system.drop_tag releases it.
    case "tag" => proc("tag",
      Seq(p("table", StringType), p("name", StringType),
        p("version", LongType)),
      StructType(Seq(StructField("version", LongType, nullable = false)))) {
      (spark, in) =>
        val v = in.getLong(2)
        Versioned.tagVersion(spark,
          cat.dirForName(in.getUTF8String(0).toString),
          in.getUTF8String(1).toString, v)
        Seq(Array[Any](v))
    }
    case "drop_tag" => proc("drop_tag",
      Seq(p("table", StringType), p("name", StringType)),
      StructType(Seq(StructField("dropped", StringType, nullable = false)))) {
      (spark, in) =>
        val name = in.getUTF8String(1).toString
        Versioned.dropTag(spark,
          cat.dirForName(in.getUTF8String(0).toString), name)
        Seq(Array[Any](org.apache.spark.unsafe.types.UTF8String
          .fromString(name)))
    }
    // OPERATIONAL UNDO: CALL system.restore('db.t', v) — one metadata
    // commit whose state is version v's ([[Versioned.restore]]):
    // history grows (the bad versions stay inspectable), COW sharing
    // makes it free, vacuum re-pins the restored files through the new
    // head. The first thing an operator reaches for after a bad write.
    case "restore" => proc("restore",
      Seq(p("table", StringType), p("version", LongType)),
      StructType(Seq(
        StructField("restored_version", LongType, nullable = false),
        StructField("new_version", LongType, nullable = false)))) {
      (spark, in) =>
        val v = in.getLong(1)
        val nv = Versioned.restore(spark,
          cat.dirForName(in.getUTF8String(0).toString), v)
        Seq(Array[Any](v, nv))
    }
    // WRITE-AUDIT-PUBLISH: CALL system.branch('t','audit') cuts a
    // writable side lineage at the current head; INSERT INTO
    // t.branch_audit stages audit writes invisible to main readers;
    // CALL system.fast_forward('t','audit') publishes the branch head
    // as ONE main commit (only while main has not moved — loud on
    // divergence); drop_branch abandons it.
    case "branch" => proc("branch",
      Seq(p("table", StringType), p("name", StringType)),
      StructType(Seq(StructField("base_version", LongType, nullable = false)))) {
      (spark, in) =>
        Seq(Array[Any](Versioned.createBranch(spark,
          cat.dirForName(in.getUTF8String(0).toString),
          in.getUTF8String(1).toString)))
    }
    case "fast_forward" => proc("fast_forward",
      Seq(p("table", StringType), p("name", StringType)),
      StructType(Seq(StructField("version", LongType, nullable = false)))) {
      (spark, in) =>
        Seq(Array[Any](Versioned.fastForward(spark,
          cat.dirForName(in.getUTF8String(0).toString),
          in.getUTF8String(1).toString)))
    }
    // CALL system.cherry_pick('t','audit') — publish an APPEND-ONLY
    // branch delta onto a MOVED main (the divergence fast_forward
    // refuses): one commit = current head + the branch's added files,
    // conflict (branch rewrote/deleted base state, or main's schema
    // lineage reset) rejected loudly with nothing moved.
    case "cherry_pick" => proc("cherry_pick",
      Seq(p("table", StringType), p("name", StringType)),
      StructType(Seq(StructField("version", LongType, nullable = false)))) {
      (spark, in) =>
        Seq(Array[Any](Versioned.cherryPick(spark,
          cat.dirForName(in.getUTF8String(0).toString),
          in.getUTF8String(1).toString)))
    }
    case "drop_branch" => proc("drop_branch",
      Seq(p("table", StringType), p("name", StringType)),
      StructType(Seq(StructField("dropped", StringType, nullable = false)))) {
      (spark, in) =>
        val name = in.getUTF8String(1).toString
        Versioned.dropBranch(spark,
          cat.dirForName(in.getUTF8String(0).toString), name)
        Seq(Array[Any](org.apache.spark.unsafe.types.UTF8String
          .fromString(name)))
    }
    case other => throw new IllegalArgumentException(
      s"unknown procedure system.$other (have ${names.mkString(", ")})")
  }
}

/** INSERT INTO → append commit; INSERT OVERWRITE (TRUNCATE) → full-
  * replace commit; `INSERT OVERWRITE t PARTITION (c = 'x')` and
  * `df.writeTo(t).overwrite(cond)` → [[SupportsOverwrite]] →
  * [[Versioned.overwriteWhere]], the replaceWhere commit (retire the
  * proven partition files by reference, COW-rewrite boundary files,
  * append the new data — ONE commit; untranslatable conditions fail at
  * planning, Spark's own loud fallback). All run through
  * [[graft.sources.Lake.withCommit]]'s OCC ledger inside Versioned, so
  * SQL and library writers serialize.
  * The SAME builder serves `df.writeStream.toTable("graft_cat.db.t")`
  * (q297): `toStreaming` routes to [[VersionedStreamingWrite]] — one
  * manifest commit per micro-batch, exactly-once by the `#txn`
  * (queryId, epoch) watermark, the q286 sink now reachable by table
  * NAME. Append output mode only: Complete arrives as truncate(), and
  * a log-structured table must not fake per-epoch truncation — loud
  * rejection, Delta's stance.
  */
final class VersionedWriteBuilder(dir: String, info: LogicalWriteInfo,
    tableSchema: StructType,
    partitionSpec: Seq[Versioned.PartField] = Seq.empty) extends WriteBuilder
    with SupportsTruncate
    with org.apache.spark.sql.connector.write.SupportsOverwrite {

  private var overwrite = false
  private var overwriteFilters: Option[Array[Filter]] = None

  override def truncate(): WriteBuilder = { overwrite = true; this }

  /** Spark's V2Writes routes a truncate-shaped condition (literal
    * TRUE) to [[truncate]]; anything reaching here is a real
    * replace condition — held as the pushed conjuncts, from which the
    * insert derives the residual Column, the prune bounds, and the
    * tag-proof check (all three from the SAME filters, so they can
    * never disagree). Defensive: an AlwaysTrue slipping through still
    * means full overwrite.
    */
  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    if (filters.isEmpty || filters.forall(_.isInstanceOf[AlwaysTrue])) {
      overwrite = true
    } else overwriteFilters = Some(filters)
    this
  }

  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation =
      new InsertableRelation {
        // a PARTITIONED BY table routes through the partitioned
        // writer: one file per partition value per commit, each tagged
        // `#pfile` — the tags the SQL scan's partition pruning (q293)
        // and readPartitionPruned (q281) consult
        override def insert(data: DataFrame, ov: Boolean): Unit =
          overwriteFilters match {
            case Some(fs) =>
              val cols = fs.map(f => VersionedScan.toColumn(f).getOrElse(
                throw new UnsupportedOperationException(
                  s"INSERT OVERWRITE on $dir: condition conjunct $f has " +
                    "no exact re-expression — use a translatable " +
                    "predicate or overwrite the whole table")))
              Versioned.overwriteWhere(data, dir,
                cols.reduce(_ && _),
                VersionedScan.boundsOf(fs),
                VersionedScan.eqValuesOf(fs),
                tags => VersionedScan.provedByTags(fs, tags),
                partitionSpec)
            case None =>
              if (overwrite || ov) Versioned.create(data, dir, partitionSpec)
              else Versioned.append(data, dir, partitionSpec)
          }
      }

    override def toStreaming
        : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
      require(!overwrite,
        s"graft-versioned table $dir takes streaming APPEND only — " +
          "Complete mode would truncate per epoch, which a log-structured " +
          "table must not fake (aggregate in foreachBatch + INSERT " +
          "OVERWRITE if that is really wanted)")
      // a PARTITIONED BY table's epochs route through the partitioned
      // writer at commit (q308): the raw task files are read back,
      // clustered per partition value, `#pfile`-tagged, and the tagged
      // files commit under the same `#txn` watermark — the declared
      // layout and partition pruning hold for streamed-in files exactly
      // as for batch INSERTs (the spec rides through to
      // [[VersionedStreamingWrite]] below)
      // against a CREATE'd-but-never-committed table the sink's own
      // validation sees no manifest — hold the stream to the DECLARED
      // schema here, so the first commit cannot silently diverge from
      // the CREATE TABLE statement
      val declared = tableSchema.fields
        .map(f => f.name -> f.dataType.catalogString).toSet
      val got = info.schema().fields
        .map(f => f.name -> f.dataType.catalogString).toSet
      require(got == declared,
        s"stream schema ${got.mkString(", ")} does not match table " +
          s"$dir schema ${declared.mkString(", ")}")
      new VersionedStreamingWrite(dir, info.schema(), info.queryId(),
        partitionSpec)
    }
  }
}

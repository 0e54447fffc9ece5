package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** VERSIONED TABLE layer (time travel) — the engine's one copy-on-write
  * table, with a table format's atomic commit protocol realized
  * Delta-style with Spark-native pieces:
  *
  *   - DATA FILES are immutable, written once under `dir/data/` with a
  *     commit-unique name prefix; a mutation never touches an existing
  *     file's bytes.
  *   - Each commit writes a MANIFEST `dir/_manifests/v<k>.manifest` — a
  *     text file listing exactly the live data files of version k (plus
  *     their row counts, so `history` answers without opening parquet).
  *     Reading version k is `spark.read.parquet(those files)`; readers
  *     of any version are never affected by in-flight writers because
  *     the files they were handed are immutable.
  *   - COW upsert/delete rewrite ONLY the files containing matched keys
  *     (the minimal-rewrite discipline: untouched files stay
  *     byte-identical) into NEW files; the next manifest points at
  *     rewritten + untouched + fresh appends. Untouched files are
  *     SHARED between manifests — an upsert's storage cost is the
  *     affected files, not the table. Every COW writer — [[upsert]],
  *     [[deleteKeys]], [[deleteWhere]], [[overwriteWhere]] and the SQL
  *     row-level [[commitReplace]] — shares one hit scan
  *     ([[hitScan]]), one sized rewrite of the touched files
  *     ([[cowRewrite]]) and one retire-and-add manifest
  *     ([[cowManifest]]); every write of fresh rows goes through one
  *     layout writer ([[writeFresh]]). [[optimize]] and
  *     [[optimizeZorder]] are one compaction ([[compact]]) committing
  *     through the same [[cowManifest]], and every data or sidecar file
  *     lands through one staged writer ([[writeStaged]]).
  *   - SCHEMA EVOLUTION is metadata-only: the four ALTER verbs
  *     ([[renameColumn]], [[addColumn]], [[dropColumn]],
  *     [[widenColumn]]) share one commit ([[alterSchema]]) appending
  *     one change to the manifest, and one forward change-list walk
  *     ([[eraFrame]]) is the only code turning a file era's physical
  *     columns into the logical schema — every read ([[readEntries]])
  *     and [[schemaOf]] project each era through it. [[eraRecipes]]
  *     is its reverse, for executor-side decodes and physical names.
  *   - Writers serialize through [[Lake.withCommit]]'s optimistic
  *     claim/commit ledger (atomic create-if-absent); the manifest
  *     rename itself is tmp-then-rename, so a crashed writer leaves at
  *     most orphaned data files (reclaimed by [[vacuum]]), never a
  *     half-visible version.
  *   - [[vacuum]] keeps the newest `keepVersions` manifests and deletes
  *     every data file unreachable from them — time travel's storage
  *     bound. Reading a vacuumed version fails loudly (missing files),
  *     the Delta contract.
  *
  * At 100 TB the manifest becomes the scaling concern (millions of
  * files): the format here is one line per file precisely so it can
  * shard into manifest-of-manifests without changing readers' contract;
  * the COW rewrite and the per-commit append both stay proportional to
  * the touched data.
  */
object Versioned {

  private val ManifestRe = """v(\d{9})\.manifest""".r

  private def fsOf(spark: SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestDir(dir: String) =
    new org.apache.hadoop.fs.Path(dir, "_manifests")

  /** Committed versions, ascending (empty for a non-table). */
  def versions(spark: SparkSession, dir: String): Seq[Long] =
    listPoints(spark, dir, ManifestRe)

  /** The points of the manifests in `_manifests` whose names `re`
    * matches (its one group is the point), ascending.
    */
  private def listPoints(spark: SparkSession, dir: String,
      re: scala.util.matching.Regex): Seq[Long] = {
    val fs = fsOf(spark, dir)
    val md = manifestDir(dir)
    if (!fs.exists(md)) Seq.empty
    else fs.listStatus(md).toSeq.flatMap(_.getPath.getName match {
      case re(k) => Some(k.toLong)
      case _ => None
    }).sorted
  }

  def latestVersion(spark: SparkSession, dir: String): Option[Long] =
    versions(spark, dir).lastOption

  /** One MERGE-ON-READ delete commit's sidecar reference (`#dv` line):
    * `file` is a parquet under `data/` holding (__target, __key) rows —
    * the keys deleted from each still-live data file — applied at read
    * as an anti-join ([[applyDvs]]). `gen` is the schema-change
    * generation at delete time, so `keyName` can be mapped forward
    * through later renames; `nDel` is the sidecar's row count (for
    * [[history]] under the keyed-unique contract).
    */
  private[graft] final case class DvRef(
      gen: Int, keyName: String, file: String, nDel: Long)

  /** A manifest: SCHEMA CHANGES (generation, kind, a, b — metadata-only
    * evolution, the Iceberg name-mapping idea without column IDs) plus
    * (file, rows, era) entries, where a file's era = how many changes
    * had been committed when it was WRITTEN. Kinds:
    *   - ("rename", old, new): physical `old` surfaces as `new`;
    *   - ("add", name, typeDdl): files of era < generation read the new
    *     column as NULL of `typeDdl`; later files carry it physically;
    *   - ("drop", name, ""): the column vanishes from this version on,
    *     NON-retroactively (time travel before the drop still shows it;
    *     the bytes stay until a purge/rewrite — drop is metadata-only).
    *   - ("widen", name, typeDdl): the column casts up to `typeDdl`.
    * Physical column layouts are frozen at write time; reading applies
    * every change with generation > era in generation order (the
    * forward walk, [[eraFrame]]), so old files surface under the
    * current logical schema with zero rewrite.
    *
    * `shards`: MANIFEST-OF-MANIFESTS structure (the 100 TB scaling move
    * the header names — a million-file table cannot rewrite a
    * million-line manifest per commit). Each shard is an IMMUTABLE
    * `_manifests/s-<token>.shard` file holding entry lines; the
    * manifest lists `#mshard` pointers instead of inline entries once
    * the table exceeds `graft.versioned.shardEntries` (session conf,
    * default 4096). Commits REUSE every base shard whose entries all
    * survive and write new shards only for the remainder — commit
    * manifest-IO cost ∝ changed shards, not table size. Readers'
    * contract is unchanged: [[manifestOf]] resolves the pointers and
    * `entries` is always the flat list. Empty for inline manifests.
    * Append-heavy histories accumulate one small shard per commit;
    * [[optimize]]'s full rewrite produces all-new entries and hence
    * re-shards at the bound — shard compaction rides data compaction.
    *
    * `fstats`: per-file COLUMN STATS (file → [[FileStats]] encoding),
    * the Iceberg manifest-stats idea — min/max envelopes recorded ONCE
    * at commit time (one footer read per freshly-written file, inside
    * [[commitManifest]]) and carried by reference forever after, so
    * range/point predicates prune files as a pure MANIFEST operation
    * with ZERO file IO at read time ([[prunedEntries]]; re-reading
    * footers per query would cost one footer read per file — at a
    * million files that walk IS the query). Stats ride the ENTRY LINE
    * (4th field), so they shard with the entries and shard reuse stays
    * byte-stable (a file's stats are a pure function of its immutable
    * bytes). Files without stats (pre-stats manifests, unsupported
    * column types) simply never prune — fail open, the q281 discipline.
    *
    * `txns`: per-streaming-query idempotence watermarks (`#txn` lines;
    * the Delta txnAppId/txnVersion pattern) — queryId → the highest
    * epoch whose sink commit landed. Carried forward on EVERY commit;
    * a replayed epoch (crash between the sink's commit and the
    * checkpoint advancing) sees its own watermark and becomes a no-op.
    * Size = number of distinct streaming queries that ever wrote.
    */
  private[graft] final case class Manifest(
      changes: Seq[(Int, String, String, String)],
      entries: Seq[(String, Long, Int)],
      shards: Seq[(String, Seq[(String, Long, Int)])] = Seq.empty,
      commitMs: Option[Long] = None,
      dvs: Seq[DvRef] = Seq.empty,
      ptags: Seq[(String, String, String)] = Seq.empty,
      fstats: Map[String, String] = Map.empty,
      txns: Map[String, Long] = Map.empty) {
    /** Rename pairs only — the name-mapping subset [[currentName]] walks. */
    def renames: Seq[(Int, String, String)] =
      changes.collect { case (g, "rename", o, n) => (g, o, n) }
  }

  private def parseEntryLine(line: String)
      : ((String, Long, Int), Option[(String, String)]) =
    line.split("\t") match {
      // era absent in pre-evolution manifests
      case Array(f, n) => ((f, n.toLong, 0), None)
      case Array(f, n, e) => ((f, n.toLong, e.toInt), None)
      case Array(f, n, e, st) => ((f, n.toLong, e.toInt), Some(f -> st))
      case other => throw new IllegalStateException(
        s"malformed manifest line: ${other.mkString("\\t")}")
    }

  /** (changes, inline entries, shard names, commit time, dv refs,
    * partition tags, per-file stats, txn watermarks). */
  private def parseManifest(text: String)
      : (Seq[(Int, String, String, String)], Seq[(String, Long, Int)],
         Seq[String], Option[Long], Seq[DvRef],
         Seq[(String, String, String)], Map[String, String],
         Map[String, Long]) = {
    val lines = text.split("\n").filter(_.nonEmpty).toSeq
    val changes = lines.filter(_.startsWith("#")).flatMap { l =>
      l.split("\t") match {
        case Array("#rename", g, o, n) => Some((g.toInt, "rename", o, n))
        case Array("#addcol", g, name, ddl) => Some((g.toInt, "add", name, ddl))
        case Array("#dropcol", g, name) => Some((g.toInt, "drop", name, ""))
        case Array("#widen", g, name, ddl) => Some((g.toInt, "widen", name, ddl))
        // #mshard handled below; unknown '#' headers are ignored
        // (forward compatibility)
        case _ => None
      }
    }
    val shardNames = lines.collect {
      case l if l.startsWith("#mshard\t") => l.split("\t")(1)
    }
    val commitMs = lines.collectFirst {
      case l if l.startsWith("#commitms\t") => l.split("\t")(1).toLong
    }
    val dvs = lines.flatMap(_.split("\t") match {
      case Array("#dv", g, keyName, file, nDel) =>
        Some(DvRef(g.toInt, keyName, file, nDel.toLong))
      case _ => None
    })
    val ptags = lines.flatMap(_.split("\t") match {
      case Array("#pfile", file, c, v) => Some((file, c, v))
      case _ => None
    })
    val txns = lines.flatMap(_.split("\t") match {
      case Array("#txn", q, e) => Some(q -> e.toLong)
      case _ => None
    }).toMap
    val parsed = lines.filterNot(_.startsWith("#")).map(parseEntryLine)
    (changes.sortBy(_._1), parsed.map(_._1), shardNames, commitMs, dvs, ptags,
      parsed.flatMap(_._2).toMap, txns)
  }

  private def readTextFile(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  private[graft] def manifestOf(spark: SparkSession, dir: String, v: Long): Manifest = {
    val fs = fsOf(spark, dir)
    val p = new org.apache.hadoop.fs.Path(manifestDir(dir), Main.fileName(v))
    require(fs.exists(p), s"version $v does not exist under $dir")
    manifestAtPath(fs, dir, p)
  }

  /** Parse one manifest FILE (main version or branch head) — shard
    * pointers resolve against the same `_manifests` dir either way.
    */
  private def manifestAtPath(fs: org.apache.hadoop.fs.FileSystem,
      dir: String, p: org.apache.hadoop.fs.Path): Manifest = {
    val (changes, inline, shardNames, commitMs, dvs, ptags, stats, txns) =
      parseManifest(readTextFile(fs, p))
    val shards = shardNames.map { name =>
      val text = readTextFile(fs,
        new org.apache.hadoop.fs.Path(manifestDir(dir), name))
      name -> text.split("\n").filter(_.nonEmpty).toSeq.map(parseEntryLine)
    }
    // pre-#commitms manifests fall back to the manifest file's mtime,
    // so AS-OF-timestamp reads work on tables written before the header
    val ms = commitMs.orElse(Some(fs.getFileStatus(p).getModificationTime))
    Manifest(changes, inline ++ shards.flatMap(_._2.map(_._1)),
      shards.map { case (n, es) => (n, es.map(_._1)) }, ms, dvs, ptags,
      stats ++ shards.flatMap(_._2.flatMap(_._2)), txns)
  }

  /** A LINEAGE of the table: main's committed versions, or one
    * write-audit-publish branch's commits ([[createBranch]]). It owns
    * everything that differs between the two — a point's manifest file
    * name, how the points are listed, what point 0 means, and where the
    * head is — so the manifest commit ([[commitManifest]]), the read of
    * a resolved manifest, the SQL scan and the change feed each have
    * one body serving both.
    */
  private[graft] sealed trait Lineage {
    /** The manifest file name of point `p` ≥ 1. */
    def fileName(p: Long): String

    /** Committed points, ascending (point 0 is never listed). */
    def points(spark: SparkSession, dir: String): Seq[Long]

    /** Point `p`'s manifest. */
    def manifestAt(spark: SparkSession, dir: String, p: Long): Manifest

    /** The head point; None only before main's first commit. */
    def headPoint(spark: SparkSession, dir: String): Option[Long]

    /** `@<branch>` for a branch, empty for main — table and scan names. */
    def label: String

    /** (head manifest, head point). */
    final def head(spark: SparkSession, dir: String): Option[(Manifest, Long)] =
      headPoint(spark, dir).map(p => (manifestAt(spark, dir, p), p))
  }

  /** Main: `v<n>.manifest`; point 0 is the empty pre-first-commit
    * manifest (a change feed from 0 carries the whole oldest version).
    */
  private[graft] case object Main extends Lineage {
    def fileName(p: Long): String = f"v$p%09d.manifest"
    def points(spark: SparkSession, dir: String): Seq[Long] =
      versions(spark, dir)
    def manifestAt(spark: SparkSession, dir: String, p: Long): Manifest =
      if (p == 0L) Manifest(Seq.empty, Seq.empty) else manifestOf(spark, dir, p)
    def headPoint(spark: SparkSession, dir: String): Option[Long] =
      latestVersion(spark, dir)
    def label: String = ""
  }

  /** A branch: `b-<seq>-<name>.manifest`; point 0 is the BASE (the main
    * version the branch was cut from), so an unwritten branch's head is
    * its base. A dropped or published branch has no lineage: listing
    * its points fails loudly.
    */
  private[graft] final case class Branch(name: String) extends Lineage {
    def fileName(p: Long): String = f"b-$p%09d-$name.manifest"
    private def base(spark: SparkSession, dir: String): Long =
      branches(spark, dir).getOrElse(name,
        throw new IllegalArgumentException(
          s"no branch '$name' on $dir (have ${branches(spark, dir)
            .keys.toSeq.sorted.mkString(", ")}) — dropped or published; " +
            "a stream over it cannot continue (redefine the source)"))
    def points(spark: SparkSession, dir: String): Seq[Long] = {
      base(spark, dir)
      listPoints(spark, dir, ("""b-(\d{9})-""" +
        java.util.regex.Pattern.quote(name) + """\.manifest""").r)
    }
    def manifestAt(spark: SparkSession, dir: String, p: Long): Manifest =
      if (p == 0L) manifestOf(spark, dir, base(spark, dir))
      else manifestAtPath(fsOf(spark, dir), dir,
        new org.apache.hadoop.fs.Path(manifestDir(dir), fileName(p)))
    def headPoint(spark: SparkSession, dir: String): Option[Long] =
      Some(points(spark, dir).lastOption.getOrElse(0L))
    def label: String = s"@$name"
  }

  private def renderEntry(e: (String, Long, Int),
      fstats: Map[String, String]): String =
    s"${e._1}\t${e._2}\t${e._3}" +
      fstats.get(e._1).fold("")(st => s"\t$st")

  private def renderManifest(m: Manifest): String =
    (m.commitMs.toSeq.map(ms => s"#commitms\t$ms") ++ m.changes.map {
      case (g, "rename", o, n) => s"#rename\t$g\t$o\t$n"
      case (g, "add", name, ddl) => s"#addcol\t$g\t$name\t$ddl"
      case (g, "drop", name, _) => s"#dropcol\t$g\t$name"
      case (g, "widen", name, ddl) => s"#widen\t$g\t$name\t$ddl"
      case other => throw new IllegalStateException(s"unknown change: $other")
    } ++ m.dvs.map(dv =>
      s"#dv\t${dv.gen}\t${dv.keyName}\t${dv.file}\t${dv.nDel}") ++
      m.ptags.map { case (f, c, v) => s"#pfile\t$f\t$c\t$v" } ++
      m.txns.toSeq.sortBy(_._1).map { case (q, e) => s"#txn\t$q\t$e" } ++ (
      if (m.shards.nonEmpty) m.shards.map { case (name, _) => s"#mshard\t$name" }
      else m.entries.map(renderEntry(_, m.fstats)))).mkString("\n")

  /** Shard the built manifest if the table crossed the inline bound:
    * reuse every base shard whose entries ALL survive into the new
    * version, write new immutable shard files only for the remainder.
    * Below the bound (or if sharding is off) the manifest stays inline.
    */
  private def shardManifest(spark: SparkSession, dir: String,
      base: Manifest, built: Manifest): Manifest = {
    val threshold = spark.conf
      .getOption("graft.versioned.shardEntries").map(_.toInt).getOrElse(4096)
    if (built.entries.size <= threshold) built.copy(shards = Seq.empty)
    else {
      val fs = fsOf(spark, dir)
      val live = built.entries.toSet
      val kept = base.shards.filter(sh => sh._2.nonEmpty && sh._2.forall(live))
      val covered = kept.flatMap(_._2).toSet
      val rest = built.entries.filterNot(covered)
      fs.mkdirs(manifestDir(dir))
      val fresh = rest.grouped(threshold).map { grp =>
        val name = s"s-${java.util.UUID.randomUUID.toString.take(8)}.shard"
        val p = new org.apache.hadoop.fs.Path(manifestDir(dir), name)
        val out = fs.create(p, false) // shards are immutable — never overwrite
        try out.write((grp.map(renderEntry(_, built.fstats)).mkString("\n") + "\n")
          .getBytes("UTF-8"))
        finally out.close()
        name -> grp
      }.toSeq
      built.copy(entries = kept.flatMap(_._2) ++ rest, shards = kept ++ fresh)
    }
  }

  /** (file, rows) entries of version `v`'s manifest. */
  private def manifestEntries(spark: SparkSession, dir: String,
      v: Long): Seq[(String, Long)] =
    manifestOf(spark, dir, v).entries.map(e => (e._1, e._2))

  /** Open one parquet footer reader under the SESSION's Hadoop conf.
    * The single-argument `ParquetFileReader.open(InputFile)` builds its
    * `ParquetReadOptions` over a FRESH `new Configuration()`, which
    * re-inflates and XML-parses the default resources from the
    * classpath on every call — tens of ms of pure driver CPU per
    * footer, paid by every versioned-table metadata read (measured via
    * driver thread dumps: `Configuration.loadResource` under
    * `ParquetReadOptions$Builder.<init>` was a top stack across the
    * catalog gates). Passing explicit `HadoopReadOptions` built from
    * the already-loaded session conf removes that cost (guide §5: the
    * driver should do almost no per-query work).
    */
  private def openFooter(conf: org.apache.hadoop.conf.Configuration,
      path: org.apache.hadoop.fs.Path): org.apache.parquet.hadoop.ParquetFileReader =
    org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(path, conf),
      org.apache.parquet.HadoopReadOptions.builder(conf, path).build())

  /** Spark-SQL schema of one parquet data file, read from its FOOTER on
    * the driver (the [[writeStaged]] metadata-read discipline, through
    * Spark's own parquet→Catalyst converter under the session's conf).
    * Internal readers pass it to `spark.read.schema(...)`: a bare
    * `spark.read.parquet(paths)` INFERS the schema through a Spark job
    * plus relation-resolution overhead — measured at ~30 such
    * inference jobs (~25 ms each inside the job, more around it) per
    * catalog scenario gate, a pure fixed cost at any table size
    * (optimization guide §5: the driver should do almost no work per
    * query, and §1.2: remove work that is thrown away). Files of one
    * era/sidecar group share a writer schema by construction, so one
    * footer speaks for the group — the same single-file arbitration
    * Spark's own non-merging inference applies.
    */
  private def footerSchema(spark: SparkSession,
      path: String): org.apache.spark.sql.types.StructType = {
    val conf = spark.sparkContext.hadoopConfiguration
    val reader = openFooter(conf, new org.apache.hadoop.fs.Path(path))
    val msg = try reader.getFooter.getFileMetaData.getSchema
      finally reader.close()
    new org.apache.spark.sql.execution.datasources.parquet
      .ParquetToSparkSchemaConverter(spark.sessionState.conf).convert(msg)
  }

  /** The versioned layer's one driver-side read of manifest-listed
    * files (data files or delete sidecars, by manifest NAME) from
    * `dir/data/`, under `schema` or, by default, the first file's
    * [[footerSchema]] — files of one era/sidecar group share a writer
    * schema.
    */
  private[graft] def readDataFiles(spark: SparkSession, dir: String,
      names: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    val paths = names.map(n => s"$dir/data/$n")
    spark.read.schema(schema.getOrElse(footerSchema(spark, paths.head)))
      .parquet(paths: _*)
  }

  /** THE FORWARD WALK — the one rule turning a frame of schema era
    * `era` (a file's physical columns) into the LOGICAL schema of
    * `changes`. Every change newer than the era applies in GENERATION
    * order (a later rename may chain onto an earlier one's new name, a
    * rename may target an added column, a drop may remove a renamed
    * one):
    *   - "rename" relabels the column;
    *   - "add" replaces a present column in place with NULL of the
    *     declared type, or appends one (pre-add files);
    *   - "drop" removes the column (column pruning pushes the non-read
    *     into the parquet scan);
    *   - "widen" applies to EVERY era, not just pre-widen ones: the cast
    *     is idempotent on already-widened files (Catalyst elides
    *     same-type casts), and always applying it guarantees the
    *     declared logical type even when a library-API writer appended
    *     a file under the old physical type AFTER the widen commit. A
    *     widen whose recorded name no longer resolves (it predates a
    *     rename, so post-rename eras already carry the type) is a no-op.
    * The result is ONE `select`, resolving source columns by exact
    * (backtick-quoted) name; an era the walk leaves unchanged returns
    * `df` itself. [[readEntries]] walks each era's files, [[schemaOf]]
    * an empty frame under each era's footer; [[eraRecipes]] is the
    * reverse walk for the executor-side decode.
    */
  private def eraFrame(changes: Seq[(Int, String, String, String)],
      era: Int, df: DataFrame): DataFrame = {
    // (logical name, expression, untouched source column?)
    val start = df.columns.toVector.map(n =>
      (n, col("`" + n.replace("`", "``") + "`"), true))
    val out = changes.filter(c => c._1 > era || c._2 == "widen").sortBy(_._1)
      .foldLeft(start) {
        case (acc, (_, "rename", o, n)) =>
          acc.map(s => if (s._1 == o) (n, s._2, false) else s)
        case (acc, (_, "add", name, ddl)) =>
          val added = (name, lit(null).cast(ddl), false)
          if (acc.exists(_._1 == name)) acc.map(s => if (s._1 == name) added else s)
          else acc :+ added
        case (acc, (_, "drop", name, _)) => acc.filterNot(_._1 == name)
        case (acc, (_, "widen", name, ddl)) =>
          acc.map(s => if (s._1 == name) (name, s._2.cast(ddl), false) else s)
        case (_, other) =>
          throw new IllegalStateException(s"unknown change: $other")
      }
    if (out.forall(_._3) && out.size == start.size) df
    else df.select(out.map { case (n, c, same) => if (same) c else c.as(n) }: _*)
  }

  /** Read a set of manifest entries under the LOGICAL schema of
    * `changes`: each era's files (one footer speaks for the era — see
    * [[footerSchema]]) through the forward walk ([[eraFrame]]), then
    * unionByName across eras. Era count is the number of schema
    * evolutions ever made (tiny), so the union fan-in is bounded by
    * history, not data.
    */
  private def readEntries(spark: SparkSession, dir: String,
      changes: Seq[(Int, String, String, String)],
      entries: Seq[(String, Long, Int)]): DataFrame =
    entries.groupBy(_._3).toSeq.sortBy(_._1).map { case (era, es) =>
      eraFrame(changes, era, readDataFiles(spark, dir, es.map(_._1)))
    }.reduce(_.unionByName(_))

  /** A logical column's name under renames NEWER than `gen`, applied
    * forward, used to map a DV sidecar's key column (recorded at
    * delete time) into the current logical schema.
    */
  private[graft] def currentName(name: String, gen: Int,
      renames: Seq[(Int, String, String)]): String =
    renames.filter(_._1 > gen).sortBy(_._1).foldLeft(name) {
      case (n, (_, o, nw)) => if (n == o) nw else n
    }

  /** Apply MERGE-ON-READ delete sidecars: one anti-join on
    * (file, key) against the union of the manifest's DV files. The DV
    * side is deleted-keys-sized, so AQE broadcasts it in practice — at
    * 100 TB the scan side never reshuffles for a small delete, which is
    * the whole point of MOR (the COW path rewrites gigabytes for a
    * one-key delete; see [[deleteKeysMor]]). `fileCol` must already
    * hold each row's data-file NAME (captured AT THE SCAN — an
    * input_file_name() above this join would read blank post-shuffle).
    * Sidecars referencing files not in the frame (rewritten since, or
    * a subset read) anti-match nothing — stale DV rows are READ no-ops.
    * (COW commits still reconcile them via [[retireDvRows]], purely so
    * [[history]]'s nDel subtraction stays exact.)
    */
  private def applyDvs(spark: SparkSession, dir: String, dvs: Seq[DvRef],
      renames: Seq[(Int, String, String)], df: DataFrame,
      fileCol: String): DataFrame =
    if (dvs.isEmpty) df
    else dvs.groupBy(dv => currentName(dv.keyName, dv.gen, renames))
      .toSeq.sortBy(_._1)
      .foldLeft(df) { case (acc, (keyName, refs)) =>
        val dv = readDataFiles(spark, dir, refs.map(_.file))
          .select(col("__target"), col("__key"))
        acc.join(dv,
          acc(fileCol) === dv("__target") && acc(keyName) === dv("__key"),
          "left_anti")
      }

  /** The LIVE rows of a manifest's entry subset: era-aware logical read
    * with the manifest's delete sidecars applied. `fileCol`, when set,
    * survives in the output (the per-row data file name — what COW hit
    * detection needs, captured scan-side).
    */
  private def readLive(spark: SparkSession, dir: String, m: Manifest,
      entries: Seq[(String, Long, Int)],
      fileCol: Option[String] = None): DataFrame = {
    val fc = fileCol.getOrElse("__graft_file")
    val named = readEntries(spark, dir, m.changes, entries)
      .withColumn(fc, element_at(split(input_file_name(), "/"), -1))
    val out = applyDvs(spark, dir, m.dvs, m.renames, named, fc)
    if (fileCol.isDefined) out else out.drop(fc)
  }

  /** Time-travel read: the exact row set committed as version `v`,
    * under the logical schema THAT version carried (renames committed
    * later do not retroactively rename history). A ZERO-ENTRY version
    * (a staged REPLACE with no/empty SELECT) reads as an empty frame
    * under the table's declared `_schema.ddl` — the only writer of
    * empty manifests is the staged path, which rewrites the ddl in the
    * same operation; a zero-entry manifest WITHOUT a ddl (hand-rolled)
    * still fails loudly.
    */
  def readVersion(spark: SparkSession, dir: String, v: Long): DataFrame =
    readManifest(spark, dir, manifestOf(spark, dir, v))

  /** The live rows of one resolved manifest (a main version or a
    * branch point): a dv-free one as a plain era-aware read, anything
    * else as the [[readPruned]] read of every entry — a zero-entry
    * manifest reads as an empty frame under its [[schemaOf]].
    * `fileCol`, when set, keeps each row's data-file name ("" on the
    * empty frame).
    */
  private[graft] def readManifest(spark: SparkSession, dir: String,
      m: Manifest, fileCol: Option[String] = None): DataFrame =
    if (m.entries.nonEmpty && m.dvs.isEmpty && fileCol.isEmpty)
      readEntries(spark, dir, m.changes, m.entries)
    else readPruned(spark, dir, m, m.entries, fileCol)._1

  /** The LOGICAL schema [[readManifest]] reads `m` under, planned from
    * the manifest and one footer per era, without resolving a relation:
    * the forward walk ([[eraFrame]]) over an empty frame under each
    * era's first-file footer schema (made nullable, as a parquet
    * relation reads it), unioned by name as [[readEntries]] unions the
    * full read — nullability merge included. A zero-entry manifest
    * walks an empty frame at era 0: the staged path records the
    * declared schema as metadata-only adds, so its change list builds
    * the shape from no columns (later renames/drops/widens apply); a
    * legacy zero-entry manifest without changes — and main's point 0,
    * before the first commit — takes the table's [[declaredSchema]].
    */
  private[graft] def schemaOf(spark: SparkSession, dir: String,
      m: Manifest): org.apache.spark.sql.types.StructType = {
    val eras =
      if (m.entries.nonEmpty)
        m.entries.groupBy(_._3).toSeq.sortBy(_._1).map { case (era, es) =>
          era -> org.apache.spark.sql.graftshim.GraftSqlShim.asNullable(
            footerSchema(spark, s"$dir/data/${es.head._1}"))
        }
      else if (m.changes.isEmpty) Seq(0 -> declaredSchema(spark, dir))
      else Seq(0 -> new org.apache.spark.sql.types.StructType())
    eras.map { case (era, s) => eraFrame(m.changes, era, emptyOf(spark, s)) }
      .reduce(_.unionByName(_)).schema
  }

  private def emptyOf(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** The table's declared schema, `_schema.ddl` (written by the SQL
    * catalog's CREATE and staged REPLACE); fails loudly when absent.
    */
  private def declaredSchema(spark: SparkSession,
      dir: String): org.apache.spark.sql.types.StructType = {
    val fs = fsOf(spark, dir)
    val p = new org.apache.hadoop.fs.Path(dir, "_schema.ddl")
    if (!fs.exists(p))
      throw new IllegalStateException(
        s"$dir lists no data files and no _schema.ddl describes its shape")
    org.apache.spark.sql.types.StructType.fromDDL(readTextFile(fs, p))
  }

  /** The latest committed version. */
  def read(spark: SparkSession, dir: String): DataFrame =
    readVersion(spark, dir, latestVersion(spark, dir).getOrElse(
      throw new IllegalStateException(s"$dir is not a versioned table")))

  /** (version, commit epoch-ms) per committed version, ascending —
    * every manifest carries a `#commitms` header (pre-header manifests
    * fall back to file mtime).
    */
  def commitTimes(spark: SparkSession, dir: String): Seq[(Long, Long)] =
    versions(spark, dir).map(v =>
      v -> manifestOf(spark, dir, v).commitMs.get)

  /** Delta's `TIMESTAMP AS OF`: the newest version committed at or
    * before `tsMs` (ties to the higher version — commit times are
    * non-decreasing but two commits can share a millisecond). Reading
    * before the first commit fails loudly, the Delta contract.
    */
  def versionAsOf(spark: SparkSession, dir: String, tsMs: Long): Long =
    commitTimes(spark, dir).filter(_._2 <= tsMs).map(_._1).maxOption
      .getOrElse(throw new IllegalStateException(
        s"$dir has no version committed at or before $tsMs"))

  def readAsOfTimestamp(spark: SparkSession, dir: String, tsMs: Long): DataFrame =
    readVersion(spark, dir, versionAsOf(spark, dir, tsMs))

  /** Per-target DISTINCT deleted-pair counts for one version's dv
    * sidecar SET, cached by the set's file signature — sidecar files
    * are IMMUTABLE once committed, so entries never invalidate, and
    * repeated `history()` / `t.history` calls on the same lineage cost
    * ZERO jobs after the first (the round-15 ADVICE: each call
    * re-scanned every sidecar). Pairs count DISTINCT (key column,
    * key) per target — robust to a (current-writer-impossible, but
    * never validated) writer recording the same (target, key) twice
    * across overlapping sidecars, which the old raw-row sum would
    * have silently double-subtracted. Keys compare via their string
    * rendering after a per-(keyName, gen) read (mixed-gen sidecars
    * can carry different physical key types; same-gen keys render
    * identically, so distinctness is exact where overlap can occur).
    */
  private val dvPairCache =
    scala.collection.concurrent.TrieMap.empty[String, Map[String, Long]]

  private def dvPairCounts(spark: SparkSession, dir: String,
      refs: Seq[DvRef]): Map[String, Long] = {
    val sig = s"$dir|${refs.map(_.file).distinct.sorted.mkString("|")}"
    if (dvPairCache.size > 256) dvPairCache.clear() // bound the cache
    dvPairCache.getOrElseUpdate(sig, {
      refs.groupBy(r => (r.keyName, r.gen)).toSeq.sortBy(_._1)
        .map { case ((kn, _), rs) =>
          readDataFiles(spark, dir, rs.map(_.file).distinct)
            .select(col("__target"), lit(kn).as("__kn"),
              col("__key").cast("string").as("__k"))
        }
        .reduce(_ unionByName _)
        .distinct()
        .groupBy("__target").count()
        .collect().toSeq
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    })
  }

  /** EXACT live row count per version — the [[history]] /
    * `t.history` arithmetic, which the pushed COUNT(*) also answers
    * with, so both agree on ANY on-disk lineage: a version's rows =
    * its entry totals minus the sidecar rows that TARGET one of its
    * live entries (a row targeting a retired file is stale — the
    * rewrite already shed it physically, so subtracting its recorded
    * nDel would double-count).
    * Cost: ZERO jobs for dv-free histories (pure driver arithmetic);
    * otherwise ONE sidecar-only job shared across every version —
    * per-(sidecar, target) row counts, collected driver-side bounded
    * by (sidecars × files they target) PAIRS, not deleted rows —
    * then per-version arithmetic against each manifest's live set.
    */
  private[graft] def exactRowCounts(spark: SparkSession, dir: String,
      ms: Seq[(Long, Manifest)]): Map[Long, Long] =
    ms.map { case (v, m) =>
      val del =
        if (m.dvs.isEmpty) 0L
        else {
          val live = m.entries.map(_._1).toSet
          dvPairCounts(spark, dir, m.dvs)
            .collect { case (tgt, c) if live(tgt) => c }.sum
        }
      v -> (m.entries.map(_._2).sum - del)
    }.toMap

  /** (version, nFiles, nRows) per committed version, ascending —
    * manifest arithmetic plus (only when sidecars exist) one shared
    * sidecar-only job, so nRows is EXACT on any lineage — including a
    * pre-reconcile legacy table whose sidecars still hold stale rows —
    * and always agrees with the pushed COUNT(*) on the same version
    * ([[exactRowCounts]]). No data file is ever opened.
    */
  def history(spark: SparkSession, dir: String): Seq[(Long, Int, Long)] = {
    val ms = versions(spark, dir).map(v => v -> manifestOf(spark, dir, v))
    val rows = exactRowCounts(spark, dir, ms)
    ms.map { case (v, m) => (v, m.entries.size, rows(v)) }
  }

  /** One file's column stats from its parquet FOOTER (a driver-side
    * metadata read, the [[writeStaged]] row-count discipline): per
    * top-level primitive column, the min/max envelope across row
    * groups, encoded for the manifest entry line. Four kinds, each
    * compared in its own EXACT domain ([[statsOverlap]]):
    *   - `l` integral / date / timestamp-micros (raw footer long; a
    *     non-micros timestamp annotation is skipped — its raw millis
    *     would mis-compare against micro literals);
    *   - `d` fp, skipped if any block's envelope touches NaN;
    *   - `c` decimal — the unscaled envelope re-scaled to an exact
    *     decimal string, so precision widening never shifts it;
    *   - `s` string — TRUNCATED bounds, the Iceberg `truncate(16)`
    *     rule: lower = 16-code-point prefix of the min (a prefix sorts
    *     ≤ its string), upper = truncate-then-increment of the max (a
    *     sound upper bound for every string sharing the prefix);
    *     an un-incrementable max (all U+10FFFF) yields no entry.
    * Anything else — booleans, a block with missing stats — yields no
    * ENVELOPE for that column, and the envelope readers FAIL OPEN.
    *
    * NULL COUNTS (the Iceberg manifest null_value_counts idea) ride
    * each column's stat as a trailing field — recorded whenever every
    * block's footer carries one, INDEPENDENTLY of the envelope (an
    * all-null column has no min/max but an exact null count; it
    * encodes as the envelope-less `n` kind). They serve the other
    * half of real WHERE clauses: `IS NULL` prunes zero-null files,
    * `IS NOT NULL` prunes all-null files, and a grouping-free
    * `COUNT(col)` = rows − nulls answers from the manifest exactly
    * like q290's COUNT(*) ([[statsNonNullCount]]).
    */
  private def statsOf(spark: SparkSession, dir: String,
      names: Seq[String]): Map[String, String] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val conf = spark.sparkContext.hadoopConfiguration
    names.flatMap { name =>
      val reader = openFooter(conf,
        new org.apache.hadoop.fs.Path(s"$dir/data/$name"))
      try {
        val schema = reader.getFooter.getFileMetaData.getSchema
        val blocks = reader.getFooter.getBlocks
        val cols = (0 until schema.getFieldCount).flatMap { i =>
          val t = schema.getType(i)
          if (!t.isPrimitive) None
          else {
            val prim = t.asPrimitiveType().getPrimitiveTypeName
            val ann = t.asPrimitiveType().getLogicalTypeAnnotation
            val decimalAnn = ann match {
              case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation => Some(d)
              case _ => None
            }
            val isString = ann
              .isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation]
            val nonMicrosTs = ann match {
              case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
                ts.getUnit != LogicalTypeAnnotation.TimeUnit.MICROS
              case _ => false
            }
            val kind = prim match {
              case INT32 | INT64 if decimalAnn.isEmpty && !nonMicrosTs => Some("l")
              case FLOAT | DOUBLE => Some("d")
              case _ if decimalAnn.isDefined => Some("c")
              case BINARY if isString => Some("s")
              case _ => None
            }
            val sts = (0 until blocks.size).map(b =>
              blocks.get(b).getColumns.get(i).getStatistics)
            // null count: known iff EVERY block's footer records one —
            // recorded regardless of envelope availability (an all-null
            // column has an exact count and no envelope)
            val nulls: Option[Long] =
              if (sts.isEmpty || sts.exists(st => st == null ||
                !st.isNumNullsSet)) None
              else Some(sts.map(_.getNumNulls).sum)
            val envelope = kind.flatMap { k =>
              // any block with absent stats disqualifies the ENVELOPE —
              // conservative, fail open. hasNonNullValue is the
              // load-bearing guard: an ALL-NULL block reports
              // isEmpty=false (its null count is set) and
              // genericGetMin returns the primitive's GARBAGE default
              // (boxed 0, never null) — without the check that 0
              // silently enters the envelope and poisons MIN/MAX
              if (sts.isEmpty || sts.exists(st => st == null || st.isEmpty ||
                !st.hasNonNullValue ||
                st.genericGetMin == null || st.genericGetMax == null)) None
              else k match {
                case "l" =>
                  val mins = sts.map(_.genericGetMin.asInstanceOf[Number].longValue)
                  val maxs = sts.map(_.genericGetMax.asInstanceOf[Number].longValue)
                  Some(s"${enc(t.getName)}:l:${mins.min}:${maxs.max}")
                case "d" =>
                  val mins = sts.map(_.genericGetMin.asInstanceOf[Number].doubleValue)
                  val maxs = sts.map(_.genericGetMax.asInstanceOf[Number].doubleValue)
                  if (mins.exists(_.isNaN) || maxs.exists(_.isNaN)) None
                  else Some(s"${enc(t.getName)}:d:${mins.min}:${maxs.max}")
                case "c" =>
                  val scale = decimalAnn.get.getScale
                  def unscaled(v: Any): java.math.BigInteger = v match {
                    case n: java.lang.Integer =>
                      java.math.BigInteger.valueOf(n.longValue)
                    case n: java.lang.Long => java.math.BigInteger.valueOf(n)
                    case b: org.apache.parquet.io.api.Binary =>
                      new java.math.BigInteger(b.getBytes)
                    case other => throw new IllegalStateException(
                      s"unexpected decimal stat $other")
                  }
                  val mins = sts.map(st => BigDecimal(
                    new java.math.BigDecimal(unscaled(st.genericGetMin), scale)))
                  val maxs = sts.map(st => BigDecimal(
                    new java.math.BigDecimal(unscaled(st.genericGetMax), scale)))
                  Some(s"${enc(t.getName)}:c:" +
                    s"${mins.min.bigDecimal.toPlainString}:" +
                    s"${maxs.max.bigDecimal.toPlainString}")
                case _ => // "s"
                  def str(v: Any): String = new String(
                    v.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes,
                    "UTF-8")
                  val mins = sts.map(st => str(st.genericGetMin))
                  val maxs = sts.map(st => str(st.genericGetMax))
                  val lo = truncLower(mins.min(utf8Ordering))
                  truncUpper(maxs.max(utf8Ordering)).map(hi =>
                    s"${enc(t.getName)}:s:${enc(lo)}:${enc(hi)}")
              }
            }
            // envelope + trailing null count; null count alone rides
            // the envelope-less `n` kind; neither → no entry
            (envelope, nulls) match {
              case (Some(env), Some(n)) => Some(s"$env:$n")
              case (Some(env), None) => Some(env)
              case (None, Some(n)) => Some(s"${enc(t.getName)}:n:$n")
              case (None, None) => None
            }
          }
        }
        if (cols.isEmpty) None else Some(name -> cols.mkString(";"))
      } finally reader.close()
    }.toMap
  }

  /** UTF-8 unsigned-byte lexicographic order — the order parquet uses
    * for BINARY(UTF8) min/max stats (equivalently: code-point order;
    * Java's String.compareTo differs above the BMP, where surrogates
    * sort below U+E000).
    */
  private[graft] def utf8Compare(a: String, b: String): Int = {
    val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }
  private[graft] val utf8Ordering: Ordering[String] =
    (a: String, b: String) => utf8Compare(a, b)

  /** How many code points of a string bound survive into the manifest
    * (Iceberg's `truncate(16)` width) — a bound, not the value, so a
    * long URL / document id column costs 16 chars per file, not its
    * own length.
    */
  private val StrStatCp = 16

  /** Lower string bound: the first [[StrStatCp]] code points — a
    * prefix sorts ≤ its string in UTF-8 byte order, so it is a sound
    * lower bound for everything the true min bounds.
    */
  private[graft] def truncLower(s: String): String =
    if (s.codePointCount(0, s.length) <= StrStatCp) s
    else s.substring(0, s.offsetByCodePoints(0, StrStatCp))

  /** Upper string bound: a short max passes exactly; a long one
    * truncates to [[StrStatCp]] code points and INCREMENTS the last
    * incrementable code point (skipping the surrogate gap), making it
    * strictly greater than every string sharing the prefix. None when
    * every prefix code point is U+10FFFF — un-incrementable, the
    * column records no stat (fail open).
    */
  private[graft] def truncUpper(s: String): Option[String] = {
    if (s.codePointCount(0, s.length) <= StrStatCp) Some(s)
    else {
      val cps = s.codePoints().limit(StrStatCp).toArray
      var i = cps.length - 1
      while (i >= 0 && cps(i) >= Character.MAX_CODE_POINT) i -= 1
      if (i < 0) None
      else {
        val inc = cps(i) + 1
        // 0xD800–0xDFFF are not code points; jump the gap
        val bumped = if (inc == Character.MIN_SURROGATE) 0xE000 else inc
        Some(new String(cps.take(i) :+ bumped, 0, i + 1))
      }
    }
  }

  /** A file-pruning bound in one of the stats kinds' exact domains:
    * numeric (integral/fp/decimal/date-days/timestamp-micros as exact
    * [[BigDecimal]]) or string (UTF-8 byte order). Infinities mark a
    * one-sided predicate. A bound whose domain does not match a stat's
    * kind fails open in [[statsOverlap]].
    */
  private[graft] sealed trait Bound
  private[graft] object Bound {
    case object NegInf extends Bound
    case object PosInf extends Bound
    final case class Num(v: BigDecimal) extends Bound
    final case class Str(v: String) extends Bound
  }

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")

  /** One column's decoded manifest stat: envelope kind + bounds as RAW
    * strings (comparisons happen in each kind's own exact domain —
    * [[statsOverlap]]; a 2^63-scale long squeezed through double would
    * mis-prune at the boundary) plus the optional NULL COUNT. Kind `n`
    * is the envelope-less form (null count only — e.g. an all-null
    * column); its bounds are empty and every envelope reader fails
    * open on it.
    */
  private[graft] final case class ColStat(
      kind: String, mn: String, mx: String, nulls: Option[Long])

  /** Decode one entry's stats field: physical column name →
    * [[ColStat]]. Three wire shapes per column, all colon-joined
    * (string bounds are URL-encoded, so ':' never appears inside a
    * field): `name:kind:min:max` (pre-null-count manifests),
    * `name:kind:min:max:nulls`, and `name:n:nulls`. Malformed fields
    * decode to empty (fail open).
    */
  private[graft] def decodeStats(field: String): Map[String, ColStat] =
    field.split(";").toSeq.flatMap { part =>
      def dec(k: String, s: String) =
        if (k == "s") java.net.URLDecoder.decode(s, "UTF-8") else s
      def name(n: String) = java.net.URLDecoder.decode(n, "UTF-8")
      part.split(":") match {
        case Array(n, "n", nulls) =>
          nulls.toLongOption.map(v => name(n) -> ColStat("n", "", "", Some(v)))
        case Array(n, k, mn, mx) =>
          Some(name(n) -> ColStat(k, dec(k, mn), dec(k, mx), None))
        case Array(n, k, mn, mx, nulls) =>
          Some(name(n) -> ColStat(k, dec(k, mn), dec(k, mx),
            nulls.toLongOption))
        case _ => None
      }
    }.toMap

  /** Does a file's [min, max] envelope intersect [lo, hi]? Exact in
    * the stat's own domain; unparseable stats, and a bound whose
    * domain does not match the kind, fail open (true).
    */
  private[graft] def statsOverlap(kind: String, mn: String, mx: String,
      lo: Bound, hi: Bound): Boolean = {
    def numOverlap(fmn: => BigDecimal, fmx: => BigDecimal): Boolean =
      (lo match {
        case Bound.Num(v) => fmx >= v
        case Bound.PosInf => false // lo = +inf: an empty predicate range
        case _ => true
      }) && (hi match {
        case Bound.Num(v) => fmn <= v
        case Bound.NegInf => false
        case _ => true
      })
    try kind match {
      case "l" => numOverlap(BigDecimal(mn.toLong), BigDecimal(mx.toLong))
      case "d" => numOverlap(BigDecimal(mn.toDouble), BigDecimal(mx.toDouble))
      case "c" => numOverlap(BigDecimal(mn), BigDecimal(mx))
      case "s" =>
        // decodeStats URL-decoded mn/mx already; compare in the stats'
        // own UTF-8 byte order
        (lo match {
          case Bound.Str(v) => utf8Compare(mx, v) >= 0
          case Bound.PosInf => false
          case _ => true
        }) && (hi match {
          case Bound.Str(v) => utf8Compare(mn, v) <= 0
          case Bound.NegInf => false
          case _ => true
        })
      case _ => true
    } catch { case _: NumberFormatException => true }
  }

  /** Atomically commit `lineage`'s next manifest; returns its point (a
    * main version, or a branch-local seq). The one publish of a
    * manifest: main and branch commits alike serialize through
    * [[Lake.withCommit]], so concurrent committers retry with the
    * winner's point visible (their `build` is re-evaluated), and a
    * branch writer never interleaves a half-state with a main writer.
    * `build` maps the head manifest (renames + era'd entries) to
    * the next one — renames carry forward unless `build` changes them.
    * Column stats attach HERE, centrally: every entry new to this
    * commit gets its footer read once ([[statsOf]] — the footer is
    * hot, it was just written); retained entries carry their stats by
    * reference; pre-stats files stay statless forever (a metadata-only
    * commit on a million-file legacy table must not suddenly read a
    * million footers).
    *
    * `epilogue` runs inside the SAME ledger slot after the manifest
    * rename lands — for cleanup that must not let another writer
    * interleave (fastForward's branch drop: a branch append slipping
    * between publish and drop would be silently deleted otherwise).
    */
  private def commitManifest(spark: SparkSession, dir: String,
      lineage: Lineage = Main, epilogue: () => Unit = () => ())(
      build: Manifest => Manifest): Long =
    Lake.withCommit(spark, dir) {
      val fs = fsOf(spark, dir)
      val (base, prev) = lineage.head(spark, dir)
        .getOrElse((lineage.manifestAt(spark, dir, 0L), 0L))
      val next = prev + 1
      val built = build(base)
      // AFTER build: a staged CREATE's prepare() may legitimately HEAL
      // a crashed drop's marker inside this very slot; every other
      // writer racing a DROP TABLE must lose loudly here — its staged
      // files are gone, and committing a manifest into a dropped dir
      // would resurrect the table with dangling entries
      requireNotDropped(spark, dir)
      val known = base.entries.map(_._1).toSet
      val fresh = statsOf(spark, dir,
        built.entries.map(_._1).filterNot(f => known(f) || built.fstats.contains(f)))
      val live = built.entries.map(_._1).toSet
      val statted = built.copy(fstats =
        (base.fstats ++ built.fstats ++ fresh).filter(kv => live(kv._1)),
        // streaming idempotence watermarks survive every commit kind
        txns = base.txns ++ built.txns)
      val manifest = shardManifest(spark, dir, base, statted)
        .copy(commitMs = Some(System.currentTimeMillis()))
      fs.mkdirs(manifestDir(dir))
      writeManifest(fs, dir, lineage.fileName(next), manifest)
      epilogue()
      next
    }

  /** Land `m` as `_manifests/<name>` via a tmp file and one rename, so
    * a reader sees a whole manifest or none. `replace` (a purge
    * rewriting a version in place) deletes the existing file just
    * before the rename — a Hadoop rename never overwrites; the rename
    * goes through the Hadoop FS on every scheme, since a java.nio move
    * would strand the local ChecksumFileSystem's .crc sidecar and
    * poison the next manifest read.
    */
  private def writeManifest(fs: org.apache.hadoop.fs.FileSystem, dir: String,
      name: String, m: Manifest, replace: Boolean = false): Unit = {
    val md = manifestDir(dir)
    val tmp = new org.apache.hadoop.fs.Path(md,
      name.stripSuffix(".manifest") + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(renderManifest(m).getBytes("UTF-8")) finally out.close()
    val target = new org.apache.hadoop.fs.Path(md, name)
    if (replace) fs.delete(target, false)
    require(fs.rename(tmp, target), s"manifest rename failed for $name")
  }

  /** Tag freshly-written files with the CURRENT schema era (their
    * physical column names are the logical names as of `renames`).
    */
  private def tagged(entries: Seq[(String, Long)],
      changes: Seq[(Int, String, String, String)]): Seq[(String, Long, Int)] =
    entries.map { case (f, n) => (f, n, changes.size) }

  /** Per-era recipes for executor-side Group-API decode: for each
    * requested (logical name, type), the PHYSICAL column name in files
    * of the given era ("" if the column was added after that era —
    * reads as NULL) plus the logical type's DDL. The reverse of the
    * forward walk ([[eraFrame]]) — shared by the streaming source
    * (q280), the row-level operation scan, the stats prune and
    * [[purgeKeys]]' per-era key column.
    */
  private[graft] def eraRecipes(
      changes: Seq[(Int, String, String, String)],
      fields: Seq[(String, org.apache.spark.sql.types.DataType)])
      : Int => Array[(String, String, String)] = {
    val cache = scala.collection.concurrent.TrieMap
      .empty[Int, Array[(String, String, String)]]
    era => cache.getOrElseUpdate(era, fields.map { case (fname, dt) =>
      var name = fname
      var absent = false
      changes.filter(_._1 > era).sortBy(-_._1).foreach {
        case (_, "rename", o, n) => if (!absent && name == n) name = o
        case (_, "add", aname, _) => if (!absent && name == aname) absent = true
        case _ => () // drop: never in the logical schema; widen: type-only
      }
      (fname, if (absent) "" else name, dt.catalogString)
    }.toArray)
  }

  /** The snapshot-compatibility gate shared by [[commitReplace]] and
    * [[commitDelta]] — see commitReplace's isolation contract.
    */
  private def requireSnapshotCompatible(dir: String, base: Manifest,
      snapshot: Option[Manifest]): Unit = {
    def conflict(what: String): Nothing =
      throw new java.util.ConcurrentModificationException(
        s"row-level write on $dir lost a race: $what changed since the " +
          "statement's snapshot — re-run the statement")
    if (base.changes != snapshot.map(_.changes).getOrElse(Seq.empty))
      conflict("the schema (a concurrent evolution commit)")
    if (base.dvs != snapshot.map(_.dvs).getOrElse(Seq.empty))
      conflict("the delete sidecars (a concurrent MOR delete)")
    if (!snapshot.map(_.entries.map(_._1).toSet).getOrElse(Set.empty)
      .subsetOf(base.entries.map(_._1).toSet))
      conflict("a scanned data file (a concurrent rewrite)")
  }

  /** REPLACE-DATA commit for the SQL row-level operations (UPDATE /
    * MERGE / group-based DELETE, [[graft.sources.v2.GraftRowLevelOperation]]):
    * retire the files the operation's scan read, add the files its
    * write staged ([[cowManifest]], the library COW verbs' manifest).
    * Concurrency: the staged rows were computed OUTSIDE this OCC block
    * (Spark's ReplaceData executes scan + write before the commit), so
    * a retry cannot re-derive them — instead the commit verifies the
    * operation's pinned SNAPSHOT is still compatible: concurrent
    * APPENDS commit fine (their rows were beyond the snapshot — the
    * Delta WriteSerializable stance), while a concurrent rewrite of
    * any snapshot file, a new delete sidecar, or a schema evolution
    * fails the statement loudly (re-run it) rather than silently
    * dropping the concurrent writer's effect.
    * On a BRANCH lineage this is the audit-fix verb of the
    * write-audit-publish flow (q309): SQL `DELETE FROM t.branch_<name>`
    * rewrites only the branch files containing matches and commits the
    * next branch manifest; main never sees a byte until fast_forward.
    * Retired branch files stay referenced by earlier branch manifests
    * (all live vacuum roots) until the branch dissolves, then age out
    * as orphans.
    */
  private[graft] def commitReplace(spark: SparkSession, dir: String,
      snapshot: Option[Manifest], replaced: Set[String],
      added: Seq[(String, Long)],
      addedTags: Seq[(String, String, String)] = Seq.empty,
      lineage: Lineage = Main): Long =
    commitManifest(spark, dir, lineage) { base =>
      requireSnapshotCompatible(dir, base, snapshot)
      cowManifest(spark, dir, base, replaced, added, addedTags)
    }

  /** WRITE-DELTA commit for the merge-on-read row-level operations
    * ([[graft.sources.v2.GraftDeltaOperation]]): append the insert
    * files and register each task's (__target, __key) sidecar as a
    * `#dv` line — NO existing file rewritten, the q277 asymmetry now
    * reachable from SQL UPDATE/DELETE text. Same snapshot conflict
    * rules as [[commitReplace]]: in particular a concurrent COW
    * rewrite of a targeted file fails the statement, because the
    * sidecar rows binding to the retired file name would silently
    * stop deleting.
    */
  private[graft] def commitDelta(spark: SparkSession, dir: String,
      snapshot: Option[Manifest], keyName: String,
      addedData: Seq[(String, Long)], addedDvs: Seq[(String, Long)]): Long =
    commitManifest(spark, dir) { base =>
      requireSnapshotCompatible(dir, base, snapshot)
      Manifest(base.changes,
        base.entries ++ tagged(addedData, base.changes),
        dvs = base.dvs ++ addedDvs.map { case (f, n) =>
          DvRef(base.changes.size, keyName, f, n)
        },
        ptags = base.ptags)
    }

  private final class EpochReplay extends RuntimeException

  /** STREAMING-SINK commit: append `added` as one version, keyed by
    * (queryId, epochId) for idempotence — if the table has already
    * committed this query's epoch (a replay after a crash between the
    * sink commit and the checkpoint advancing), NOTHING commits and
    * None returns; the caller discards its staged files. The watermark
    * check runs INSIDE the OCC block, so even a zombie driver replaying
    * an old epoch against live traffic cannot double-append. This is
    * the exactly-once half the q219/q279 arbitration provides by
    * idempotent content — here it holds for plain appends, by txn.
    * `tags` carries the epoch's `#pfile` partition tags when the sink
    * routed the batch through the partitioned writer (q308) — a
    * PARTITIONED BY table's streamed-in files prune exactly like
    * batch-inserted ones.
    */
  private[graft] def commitStreamingEpoch(spark: SparkSession, dir: String,
      queryId: String, epochId: Long, added: Seq[(String, Long)],
      tags: Seq[(String, String, String)] = Seq.empty): Option[Long] =
    try Some(commitManifest(spark, dir) { base =>
      if (base.txns.getOrElse(queryId, Long.MinValue) >= epochId)
        throw new EpochReplay
      Manifest(base.changes, base.entries ++ tagged(added, base.changes),
        dvs = base.dvs, ptags = base.ptags ++ tags,
        txns = base.txns + (queryId -> epochId))
    }) catch { case _: EpochReplay => None }

  /** Has the (queryId, epochId) watermark already committed? The
    * streaming sink's cheap pre-check before an expensive epoch
    * preparation (the partitioned clustering rewrite) — advisory only:
    * the authoritative check re-runs INSIDE [[commitStreamingEpoch]]'s
    * OCC block.
    */
  private[graft] def epochCommitted(spark: SparkSession, dir: String,
      queryId: String, epochId: Long): Boolean =
    latestVersion(spark, dir).exists(v =>
      manifestOf(spark, dir, v).txns.getOrElse(queryId, Long.MinValue)
        >= epochId)

  /** Create (or fully replace) the table: version = all of `df`,
    * written through [[writeFresh]] under `spec` (empty: untagged).
    */
  def create(df: DataFrame, dir: String,
      spec: Seq[PartField] = Seq.empty): Long = {
    val (entries, tags) = writeFresh(df, dir, spec)
    // a full replace writes the CURRENT logical schema physically, so
    // the rename lineage carries forward and the new files are
    // current-era
    commitManifest(df.sparkSession, dir)(base =>
      Manifest(base.changes, tagged(entries, base.changes), ptags = tags))
  }

  /** Append-only commit on `lineage`: the head's files plus `df`'s new
    * ones, written through [[writeFresh]] under `spec`. Delete sidecars
    * carry forward — they bind to the OLD files by name, so a
    * re-inserted key in the fresh files is never shadowed.
    */
  def append(df: DataFrame, dir: String, spec: Seq[PartField] = Seq.empty,
      lineage: Lineage = Main): Long = {
    val (entries, tags) = writeFresh(df, dir, spec)
    commitManifest(df.sparkSession, dir, lineage)(base =>
      Manifest(base.changes, base.entries ++ tagged(entries, base.changes),
        dvs = base.dvs, ptags = base.ptags ++ tags))
  }

  /** The one writer of FRESH rows, for callers outside this object (the
    * catalog's INSERT, the streaming sink's partitioned epoch): the
    * staged writer [[writeStaged]] under `spec` (empty: untagged),
    * with no within-file sort. Fresh rows reject NULL partition values
    * loudly; only a rewrite of existing rows falls back
    * ([[writeDataLayout]]).
    */
  private[graft] def writeFresh(df: DataFrame, dir: String,
      spec: Seq[PartField])
      : (Seq[(String, Long)], Seq[(String, String, String)]) =
    writeStaged(df, dir, spec)

  /** PARTITIONED write (Iceberg-shape, not hive-shape: the PARTITION
    * TAG lives in the manifest as a `#pfile` line per data file, the
    * directory stays flat, and the partition column stays physically IN
    * the files — the manifest IS the partition index). One Spark job:
    * the frame is clustered by `partCol` and written `partitionBy` into
    * staging, so each landed file is single-valued for the column; the
    * walk then records (file, partCol, value) tags. [[append]] and
    * [[create]] take a FULL PARTITION SPEC — any mix of identity
    * columns and temporal transforms, one tag line per field, each
    * queried axis pruned independently (conjuncts compose).
    *
    * PARTITION EVOLUTION falls out of per-file tags (the Iceberg
    * argument): a later [[appendPartitioned]] under a DIFFERENT column
    * retags only ITS files — old files keep their old layout and their
    * old tags, and [[readPartitionPruned]] prunes each file by ITS own
    * spec era, failing OPEN (file kept) for files tagged under another
    * spec or not tagged at all. Pruning is an optimization, never a
    * correctness gate — the residual filter always applies.
    *
    * Conventions, stated loudly: partition values must be non-null
    * (hive-default sentinel rejected); values surface in tags exactly
    * as Spark's path escaping renders them, so values with
    * path-special characters match byte-wise on the escaped form. At
    * millions of files the tag lines ride the same
    * manifest-of-manifests sharding as entries (follow-up; inline is
    * right at gate scale).
    */
  def appendPartitioned(df: DataFrame, dir: String, partCol: String): Long =
    append(df, dir, Seq(PartField.Identity(partCol)))

  /** Create (full replace) with partition tags — see [[appendPartitioned]]. */
  def createPartitioned(df: DataFrame, dir: String, partCol: String): Long =
    create(df, dir, Seq(PartField.Identity(partCol)))

  /** The table's DECLARED partition spec (the persisted
    * `graft.partition` property) — empty for unpartitioned tables.
    * The single source of truth every layout-touching writer consults
    * (INSERT routing in the catalog, the streaming sink, OPTIMIZE,
    * branch staging), so no code path can silently lay untagged files
    * into a declared layout.
    */
  private[graft] def partitionSpecOf(spark: SparkSession,
      dir: String): Seq[PartField] =
    readProps(spark, dir).get("graft.partition").fold(Seq.empty[PartField])(
      PartField.parse)

  /** One field of a PARTITIONED BY spec. `source` is the data column;
    * `tagCol` is the name `#pfile` tags carry — the source name for
    * identity, `days(col)` / `months(col)` for the temporal
    * transforms, so a later spec era (or a rename) can never be
    * confused with a different transform of the same column. Temporal
    * values are TIMEZONE-FREE integers: `days` = the UTC epoch day
    * (floorDiv of epoch micros; the date's own day for DateType),
    * `months` = whole months since 1970-01 derived from that epoch day
    * through DateType arithmetic (never through session-timezone
    * timestamp functions).
    */
  private[graft] sealed trait PartField {
    def source: String
    def tagCol: String
  }
  private[graft] object PartField {
    final case class Identity(source: String) extends PartField {
      def tagCol: String = source
    }
    final case class Days(source: String) extends PartField {
      def tagCol: String = s"days($source)"
    }
    final case class Months(source: String) extends PartField {
      def tagCol: String = s"months($source)"
    }
    final case class Hours(source: String) extends PartField {
      def tagCol: String = s"hours($source)"
    }
    final case class Years(source: String) extends PartField {
      def tagCol: String = s"years($source)"
    }

    private[graft] val Fn = """(hours|days|months|years)\(([^()]+)\)""".r

    /** Parse the persisted `graft.partition` property — a comma list
      * of `col` and `hours|days|months|years(col)` transforms.
      */
    def parse(spec: String): Seq[PartField] =
      spec.split(",").toSeq.map(_.trim).filter(_.nonEmpty).map {
        case Fn("hours", c) => Hours(c.trim)
        case Fn("days", c) => Days(c.trim)
        case Fn("months", c) => Months(c.trim)
        case Fn("years", c) => Years(c.trim)
        case c => Identity(c)
      }

    def render(fields: Seq[PartField]): String =
      fields.map(_.tagCol).mkString(",")
  }

  private val MicrosPerDay = 86400000000L
  private val MicrosPerHour = 3600000000L

  /** The partition-VALUE column for one spec field (the column the
    * staged write clusters and `partitionBy`s on). Temporal values go
    * through exact integer arithmetic — `div` on longs for epoch-day
    * (never a double division, whose 2^53 mantissa would misplace
    * far-range timestamps), DateType year/month (timezone-free) for
    * the month index.
    */
  private def partValueColumn(df: DataFrame, f: PartField): Column = {
    import org.apache.spark.sql.types.{DateType, TimestampType}
    require(df.columns.contains(f.source),
      s"partitioned write: no column '${f.source}'")
    def q = "`" + f.source.replace("`", "``") + "`"
    lazy val epochDay: Column = df.schema(f.source).dataType match {
      case DateType => datediff(col(f.source), to_date(lit("1970-01-01")))
        .cast("long")
      case TimestampType => expr(
        s"(unix_micros($q) - pmod(unix_micros($q), ${MicrosPerDay}L)) " +
          s"div ${MicrosPerDay}L")
      case other => throw new IllegalArgumentException(
        s"${f.tagCol}: temporal partitioning needs a date or timestamp " +
          s"column, '${f.source}' is ${other.catalogString}")
    }
    f match {
      case PartField.Identity(c) => col(c)
      case PartField.Days(_) => epochDay
      case PartField.Months(_) =>
        // epoch day → DateType → year/month: tz-free calendar walk
        val d = date_add(to_date(lit("1970-01-01")), epochDay.cast("int"))
        ((year(d) - 1970) * 12 + month(d) - 1).cast("long")
      case PartField.Hours(_) =>
        // epoch HOUR: pure UTC integer arithmetic on the instant's
        // micros (pmod-then-div = exact floor, the Days shape) — never
        // a session-timezone hour() call, so the tag value is
        // DST-immune by construction (spec-pinned). DateType has no
        // hour; rejected by validateProps and again here
        df.schema(f.source).dataType match {
          case TimestampType => expr(
            s"(unix_micros($q) - pmod(unix_micros($q), ${MicrosPerHour}L)) " +
              s"div ${MicrosPerHour}L")
          case other => throw new IllegalArgumentException(
            s"${f.tagCol}: hours() needs a timestamp column, " +
              s"'${f.source}' is ${other.catalogString}")
        }
      case PartField.Years(_) =>
        // years since 1970, from the epoch day through DateType — the
        // same tz-free calendar walk as months
        val d = date_add(to_date(lit("1970-01-01")), epochDay.cast("int"))
        (year(d) - 1970).cast("long")
    }
  }

  /** The one STAGED WRITE of the table's files (data files and MOR
    * sidecars alike): `df` lands in `dir/_staging-<token>` through ONE
    * Spark write job, the leaf walk moves its parquet files into the
    * flat `dir/data/` under the commit-unique token (concurrent
    * writers' files stay disjoint), the staging dir goes, and each
    * file's row count comes from its parquet FOOTER — a driver-side
    * metadata read, not a Spark job per file (with one commit per
    * streaming micro-batch, q219, the per-file job launch dominated the
    * whole upsert). Returns (file, rows) entries and `#pfile` tags.
    *
    * Zero partition `fields`: files land as `<token>-part-*.parquet`,
    * untagged. Otherwise the frame is clustered by its partition values
    * and written `partitionBy` them, so each leaf file is single-valued
    * for every field; the walk records one (file, field, value) tag
    * per file and field, and a NULL value fails loudly (see
    * [[appendPartitioned]] for the tag format). `zsort` sorts each
    * task's rows by (partition values..., zsort) before the write — the
    * z-order compaction within a declared layout ([[compact]]), each
    * leaf file landing z-clustered so its parquet ROW-GROUP envelopes
    * tighten.
    */
  private def writeStaged(df: DataFrame, dir: String,
      fields: Seq[PartField], zsort: Option[Column] = None)
      : (Seq[(String, Long)], Seq[(String, String, String)]) = {
    val spark = df.sparkSession
    // the SQL path is guarded by validateProps; library callers
    // ([[append]]/[[create]] with a spec) must fail HERE with the named
    // guard — a repeated field would surface as a confusing
    // staging-walk error
    require(fields.map(_.tagCol).distinct.size == fields.size,
      s"partitioned write: repeated partition field in spec " +
        s"(${fields.map(_.tagCol).mkString(", ")})")
    val fs = fsOf(spark, dir)
    val token = java.util.UUID.randomUUID.toString.take(8)
    val tmp = new org.apache.hadoop.fs.Path(dir, s"_staging-$token")
    val pvs: Seq[String] = {
      val free = Iterator.from(0).map(i => s"__pv$i")
        .filterNot(df.columns.contains)
      fields.map(_ => free.next())
    }
    // cluster by the partition values so each leaf gets ONE file per
    // upstream partition; __pv* are copies/derivations, so the real
    // columns stay in the data files (partitionBy drops only the
    // directory columns)
    val keyed = fields.zip(pvs).foldLeft(df) { case (acc, (f, pv)) =>
      acc.withColumn(pv, partValueColumn(df, f))
    }
    val clustered =
      if (fields.isEmpty) keyed else keyed.repartition(pvs.map(col): _*)
    zsort.fold(clustered)(z => clustered.sortWithinPartitions(pvs.map(col) :+ z: _*))
      .write.partitionBy(pvs: _*)
      .mode("overwrite").parquet(tmp.toString)
    val dataDir = new org.apache.hadoop.fs.Path(dir, "data")
    fs.mkdirs(dataDir)
    // walk the nested leaf directories, one level per spec field
    def walk(p: org.apache.hadoop.fs.Path, depth: Int, values: Seq[String])
        : Seq[(org.apache.hadoop.fs.Path, Seq[String])] =
      if (depth == fields.length)
        fs.listStatus(p).toSeq
          .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
          .map(s => (s.getPath, values))
      else {
        val prefix = s"${pvs(depth)}="
        fs.listStatus(p).toSeq
          .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
          .flatMap { leaf =>
            val value = leaf.getPath.getName.stripPrefix(prefix)
            require(value != "__HIVE_DEFAULT_PARTITION__",
              s"partitioned write: NULL partition values are not " +
                s"supported (field '${fields(depth).tagCol}')")
            walk(leaf.getPath, depth + 1, values :+ value)
          }
      }
    // the leaf index disambiguates partitioned files: one task writing
    // several leaves emits the SAME part-N-<uuid> name under each, so
    // the flat data/ rename needs more than the original file name
    val moved = walk(tmp, 0, Seq.empty).zipWithIndex.map {
      case ((src, values), i) =>
        val name =
          if (fields.isEmpty) s"$token-${src.getName}"
          else f"$token-p$i%04d-${src.getName}"
        require(fs.rename(src, new org.apache.hadoop.fs.Path(dataDir, name)),
          s"staging rename failed for $src")
        (name, values)
    }
    fs.delete(tmp, true)
    val conf = spark.sparkContext.hadoopConfiguration
    val entries = moved.map { case (name, _) =>
      val reader = openFooter(conf,
        new org.apache.hadoop.fs.Path(dataDir, name))
      try (name, reader.getRecordCount) finally reader.close()
    }
    (entries, moved.flatMap { case (name, values) =>
      fields.zip(values).map { case (f, v) => (name, f.tagCol, v) }
    })
  }

  /** Partition-pruned read of version `v`: keep files whose tag for
    * `column` matches `value` exactly, files tagged under ANOTHER
    * column (a different spec era) or not tagged at all fail OPEN —
    * then apply the residual filter, so the answer is exact regardless
    * of how much pruning fired. Returns (frame, filesKept, filesTotal).
    * The prune is a MANIFEST operation ([[ptagPrunedEntries]]) — zero
    * file IO before the surviving scans.
    */
  def readPartitionPruned(spark: SparkSession, dir: String, v: Long,
      column: String, value: String): (DataFrame, Int, Int) = {
    // tags store Spark's PATH-ESCAPED rendering of the value, so the
    // lookup key renders through the SAME function that named the leaf
    // directories (ExternalCatalogUtils.escapePathName) — exact for
    // every value. An earlier ad-hoc "reject path-special characters"
    // guard drifted from Spark's real escape set (it missed DEL), and
    // a missed escape here wrongly EXCLUDES a same-column tag, which
    // is not fail-open.
    val rendered = org.apache.spark.sql.catalyst.catalog
      .ExternalCatalogUtils.escapePathName(value)
    val m = manifestOf(spark, dir, v)
    val (df, kept, total) = readPruned(spark, dir, m,
      prunedEntries(m)(ptagFilters = Seq(column -> Set(rendered))))
    (df.filter(col(column).cast("string") === lit(value)), kept, total)
  }

  /** The ONE commit body of the four METADATA-ONLY schema verbs
    * ([[renameColumn]], [[addColumn]], [[dropColumn]], [[widenColumn]]):
    * require a current version, run the verb's own `check` against the
    * head's logical schema ([[schemaOf]]), and append one change
    * generation to the same files, sidecars and tags. Reads apply it
    * through the forward walk ([[eraFrame]]); no data byte moves.
    */
  private def alterSchema(spark: SparkSession, dir: String, verb: String,
      change: (String, String, String))(
      check: org.apache.spark.sql.types.StructType => Unit): Long =
    commitManifest(spark, dir) { base =>
      require(base.entries.nonEmpty, s"$verb: $dir has no current version")
      check(schemaOf(spark, dir, base))
      val (kind, a, b) = change
      base.copy(changes = base.changes :+ ((base.changes.size + 1, kind, a, b)))
    }

  /** METADATA-ONLY column rename (schema evolution without rewrite —
    * the capability q225's drift audit measures the LACK of): commits a
    * new version whose manifest carries the same files plus one more
    * rename generation; every read from this version on surfaces
    * `oldName` files under `newName`, TIME TRAVEL to earlier versions
    * still shows `oldName` (a rename is not retroactive), and no data
    * byte moves. Later writes produce files with the new physical name
    * (current era), so a long-lived table mixes eras freely — reads
    * union the era groups by name.
    */
  def renameColumn(spark: SparkSession, dir: String,
      oldName: String, newName: String): Long =
    alterSchema(spark, dir, "renameColumn", ("rename", oldName, newName)) { cur =>
      val logical = cur.fieldNames.toSet
      require(logical.contains(oldName),
        s"renameColumn: no column '$oldName' (have ${logical.mkString(", ")})")
      require(!logical.contains(newName),
        s"renameColumn: column '$newName' already exists")
    }

  /** METADATA-ONLY column ADD: commits a new version whose manifest
    * carries one more change generation; files written before this
    * generation read the column as NULL of `typeDdl` (a Spark DDL type
    * string, e.g. "bigint", "decimal(12,2)"), files written after carry
    * it physically, and time travel to earlier versions does not show
    * it (non-retroactive). No data byte moves.
    */
  def addColumn(spark: SparkSession, dir: String,
      name: String, typeDdl: String): Long =
    alterSchema(spark, dir, "addColumn", ("add", name, typeDdl)) { cur =>
      // validate the DDL up front — a bad type string must fail the
      // commit, not every future read
      org.apache.spark.sql.types.DataType.fromDDL(typeDdl)
      require(!cur.fieldNames.contains(name),
        s"addColumn: column '$name' already exists")
    }

  /** METADATA-ONLY column DROP: the column vanishes from this version
    * on; earlier versions still show it (non-retroactive), and the
    * bytes stay on disk until a rewrite/purge touches the files — for
    * RTBF-grade erasure of a dropped column, compose with [[purgeKeys]]
    * or [[optimize]] (which rewrites under the current logical schema,
    * physically shedding dropped columns).
    */
  def dropColumn(spark: SparkSession, dir: String, name: String): Long =
    alterSchema(spark, dir, "dropColumn", ("drop", name, "")) { cur =>
      val logical = cur.fieldNames.toSet
      require(logical.contains(name),
        s"dropColumn: no column '$name' (have ${logical.mkString(", ")})")
    }

  /** Is `from` → `to` a LOSSLESS widening? The Delta/Iceberg type-
    * promotion matrix, restricted to conversions where every old value
    * survives bit-exactly: up the integral chain, float→double, small
    * integrals→double (≤ int fits double's 53-bit mantissa exactly),
    * decimal growth that shrinks neither scale nor integer digits, and
    * integral→decimal with enough integer digits for the type's range.
    * long→double is NOT here (53-bit mantissa truncates big longs) —
    * narrowing or lossy changes must be loud, never silent.
    */
  private[graft] def isLosslessWidening(
      from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    val rank = Map[DataType, Int](
      ByteType -> 1, ShortType -> 2, IntegerType -> 3, LongType -> 4)
    // integer digits a decimal needs to hold the integral type's range
    val digits = Map[DataType, Int](
      ByteType -> 3, ShortType -> 5, IntegerType -> 10, LongType -> 19)
    (from, to) match {
      case (a, b) if a == b => false // a no-op "widen" is a user mistake
      case (a, b) if rank.contains(a) && rank.contains(b) => rank(a) < rank(b)
      case (FloatType, DoubleType) => true
      case (ByteType | ShortType | IntegerType, DoubleType) => true
      case (a: DecimalType, b: DecimalType) =>
        b.scale >= a.scale &&
          b.precision - b.scale >= a.precision - a.scale &&
          (b.scale > a.scale || b.precision > a.precision)
      case (a, b: DecimalType) if digits.contains(a) =>
        b.precision - b.scale >= digits(a)
      case _ => false
    }
  }

  /** METADATA-ONLY type WIDENING (the third evolution axis beside
    * rename and ADD/DROP): commits a new version whose manifest carries
    * one more change generation; files written before it read the
    * column CAST UP to `newTypeDdl` (int→bigint, decimal(10,2)→(14,2),
    * …), files written after carry the widened type physically, and
    * time travel to earlier versions still shows the narrow type
    * (non-retroactive). Only LOSSLESS widenings are accepted
    * ([[isLosslessWidening]]) — a lossy or narrowing change fails the
    * commit loudly rather than corrupting reads quietly. No data byte
    * moves; the per-era cast is planned into the scan, so the cost is
    * the same columnar read plus a codegen'd conversion.
    */
  def widenColumn(spark: SparkSession, dir: String,
      name: String, newTypeDdl: String): Long =
    alterSchema(spark, dir, "widenColumn", ("widen", name, newTypeDdl)) { cur =>
      val newT = org.apache.spark.sql.types.DataType.fromDDL(newTypeDdl)
      require(cur.fieldNames.contains(name),
        s"widenColumn: no column '$name' (have ${cur.fieldNames.mkString(", ")})")
      val oldT = cur(name).dataType
      require(isLosslessWidening(oldT, newT),
        s"widenColumn: ${oldT.catalogString} -> ${newT.catalogString} is not " +
          "a lossless widening (rejecting loudly: a narrowing or lossy " +
          "conversion would silently corrupt old-era reads)")
    }

  /** The COW-REWRITE write half: [[writeFresh]] under the declared
    * layout (q317). On a PARTITIONED BY layout the surviving rows
    * re-cluster through the partitioned writer and RE-TAG — a rewrite
    * (upsert, DELETE, replaceWhere's hit class, the SQL row-level
    * rewrite) previously landed untagged files, so every row-level verb
    * slowly untagged the table and partition pruning silently degraded. Soundness is
    * free: tags are computed from the rewritten rows' ACTUAL values,
    * so even an UPDATE that moves a row across partition values tags
    * correctly. One deliberate asymmetry vs the INSERT path: a NULL
    * partition value in the rewrite falls back to the PLAIN writer
    * (untagged files — pruning fails open, reads stay exact) instead
    * of failing, because the rows ALREADY EXIST — a spec evolved onto
    * a column with historical NULLs must not make deletes impossible;
    * fresh INSERTs keep the loud rejection.
    */
  private def writeDataLayout(df: DataFrame, dir: String,
      spec: Seq[PartField])
      : (Seq[(String, Long)], Seq[(String, String, String)]) =
    if (spec.isEmpty) writeFresh(df, dir, spec)
    else {
      df.persist()
      try {
        val anyNull = spec.map(f => col(f.source).isNull).reduce(_ || _)
        writeFresh(df, dir, if (df.filter(anyNull).isEmpty) spec else Seq.empty)
      } finally df.unpersist()
    }

  /** Re-cluster EXECUTOR-LANDED replacement files through the declared
    * layout (the SQL row-level rewrite's q317 half — the q308 epoch
    * pattern): read the raw task files back under `schema`, route
    * through [[writeDataLayout]], delete the raws (no manifest ever
    * references them). Identity on an unpartitioned table. The extra
    * read+write is OF THE REPLACEMENT ONLY (matched files' survivors
    * plus MERGE inserts), never the table.
    */
  private[graft] def reclusterForLayout(spark: SparkSession, dir: String,
      added: Seq[(String, Long)],
      schema: org.apache.spark.sql.types.StructType)
      : (Seq[(String, Long)], Seq[(String, String, String)]) = {
    val spec = partitionSpecOf(spark, dir)
    if (spec.isEmpty || added.isEmpty) (added, Seq.empty)
    else {
      val out = writeDataLayout(
        readDataFiles(spark, dir, added.map(_._1), Some(schema)), dir, spec)
      val fs = fsOf(spark, dir)
      added.foreach { case (f, _) =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$dir/data/$f"), false)
      }
      out
    }
  }

  /** The COW HIT SCAN: the names of the `entries` files whose LIVE
    * rows `matching` keeps — a key join (upsert, deleteKeys) or a
    * predicate's TRUE rows (deleteWhere, overwriteWhere's candidates).
    * The file name is captured AT THE SCAN (readLive's fileCol) because
    * an input_file_name above the DV anti-join would read blank
    * post-shuffle; already-DV-deleted rows do not count as hits
    * (deleting a dead row must not rewrite/mark a file). No entries,
    * no job.
    */
  private def hitScan(spark: SparkSession, dir: String, base: Manifest,
      entries: Seq[(String, Long, Int)])(
      matching: DataFrame => DataFrame): Set[String] =
    if (entries.isEmpty) Set.empty
    else matching(readLive(spark, dir, base, entries, Some("__graft_hit_f")))
      .select("__graft_hit_f").distinct().collect()
      .map(_.getString(0)).toSet

  /** The COW REWRITE of the `touched` files: their LIVE rows
    * (era-aware renames, delete sidecars applied — a rewrite must not
    * resurrect MOR-deleted rows) filtered by `keep`, unioned by name
    * with the `incoming` rows (upsert's changes), sized by
    * [[sizedRewrite]] (`extraBytes` estimates the incoming rows) and
    * written by [[writeDataLayout]] under the current schema era.
    * Zero-row output files drop with their tags — an all-matching file
    * rewrites to nothing — except that a rewrite of EVERY file of
    * `base` keeps one, so the emptied table still reads under its
    * shape, unless the commit adds other files (`othersAdded`).
    * Nothing touched and nothing incoming: no job, no file.
    */
  private def cowRewrite(spark: SparkSession, dir: String, base: Manifest,
      touched: Set[String], spec: Seq[PartField],
      incoming: Option[DataFrame] = None, extraBytes: Long = 0L,
      othersAdded: Boolean = false)(
      keep: DataFrame => DataFrame)
      : (Seq[(String, Long)], Seq[(String, String, String)]) = {
    val old = if (touched.isEmpty) None
      else Some(keep(readLive(spark, dir, base,
        base.entries.filter(e => touched(e._1)))))
    (old ++ incoming).reduceOption((o, i) =>
      o.unionByName(i.select(o.columns.map(col): _*))
    ).fold((Seq.empty[(String, Long)], Seq.empty[(String, String, String)])) {
      rows =>
        val (files, tags) = writeDataLayout(
          sizedRewrite(spark, dir, touched, extraBytes, spec)(rows), dir, spec)
        val nonEmpty = files.filter(_._2 > 0)
        val out =
          if (nonEmpty.nonEmpty || othersAdded ||
            base.entries.exists(e => !touched(e._1))) nonEmpty
          else files.take(1)
        (out, tags.filter(t => out.exists(_._1 == t._1)))
    }
  }

  /** The one COPY-ON-WRITE manifest: `base` minus the `retired` files
    * plus the `added` ones (current era, [[tagged]]), delete sidecars
    * reconciled with the retirement ([[retireDvRows]]) and the retired
    * files' `#pfile` tags swapped for `addedTags`. [[commitReplace]],
    * the library verbs ([[upsert]], [[deleteKeys]], [[deleteWhere]],
    * [[overwriteWhere]]) and the compaction ([[compact]]) all commit
    * through it. A commit retiring EVERY file of `base` drops every
    * `#dv` line without reading a sidecar: each sidecar row targets a
    * retired file, so the drop is exact and costs no job.
    */
  private def cowManifest(spark: SparkSession, dir: String, base: Manifest,
      retired: Set[String], added: Seq[(String, Long)],
      addedTags: Seq[(String, String, String)]): Manifest =
    Manifest(base.changes,
      base.entries.filterNot(e => retired(e._1)) ++ tagged(added, base.changes),
      dvs =
        if (base.entries.forall(e => retired(e._1))) Seq.empty
        else retireDvRows(spark, dir, base.dvs, retired),
      ptags = base.ptags.filterNot(t => retired(t._1)) ++ addedTags)

  /** Reconcile MOR delete sidecars with a COW commit that retires
    * (rewrites or replaces) target data files: sidecar rows targeting a
    * retired file are STALE — harmless for reads (they anti-match
    * nothing) but [[history]]'s nDel subtraction would DOUBLE-COUNT the
    * deletion, because the rewrite already shed those rows physically.
    * Each affected sidecar is rewritten once without the stale rows (a
    * new immutable file — the old one becomes unreachable and vacuum
    * reclaims it); an emptied sidecar drops its `#dv` line entirely.
    * Cost ∝ the retired files' sidecars (one driver-side count per
    * sidecar, a rewrite only when stale rows exist); zero jobs when
    * either side is empty — append-only and dv-free commits pay
    * nothing.
    */
  private def retireDvRows(spark: SparkSession, dir: String,
      dvs: Seq[DvRef], retired: Set[String]): Seq[DvRef] =
    if (dvs.isEmpty || retired.isEmpty) dvs
    else dvs.flatMap { ref =>
      val survivors = readDataFiles(spark, dir, Seq(ref.file))
        .filter(!col("__target").isInCollection(retired.toSeq))
      val n = survivors.count()
      if (n == ref.nDel) Some(ref) // no stale rows — sidecar carries as is
      else if (n == 0L) None // fully stale — the #dv line vanishes
      else writeStaged(survivors.repartition(1), dir, Nil)._1
        .headOption.map { case (f, cnt) => ref.copy(file = f, nDel = cnt) }
    }

  /** Size a COW rewrite's output partitioning from known byte counts:
    * the touched files' on-disk bytes plus `extraBytes` of incoming
    * data, targeting `graft.versioned.targetFileBytes` per output file
    * (default 128 MB — the Iceberg write.target-file-size-bytes
    * analog; q270 pins it small to force multi-file rewrites for its
    * manifest-sharding tripwire). Identity on partitioned tables (the
    * value-clustered writer owns their layout).
    */
  private def sizedRewrite(spark: SparkSession, dir: String,
      touched: Set[String], extraBytes: Long, spec: Seq[PartField])(
      df: DataFrame): DataFrame =
    if (spec.nonEmpty) df
    else {
      val fs = fsOf(spark, dir)
      val fileBytes = touched.toSeq.map { f =>
        try fs.getFileStatus(
          new org.apache.hadoop.fs.Path(s"$dir/data/$f")).getLen
        catch { case _: java.io.IOException => 0L }
      }.sum
      val targetBytes = spark.conf
        .getOption("graft.versioned.targetFileBytes")
        .map(_.toLong).getOrElse(128L << 20)
      df.repartition(
        math.max(1L, (fileBytes + extraBytes) / targetBytes + 1L).toInt)
    }

  private def notDeleted(changes: DataFrame, flag: String): DataFrame =
    // NULL flag means "not deleted" (outer-joined change feeds produce
    // them routinely); a bare !col would evaluate NULL and silently drop
    // the row AFTER its key was already deleted — data loss, not a
    // filter choice
    changes.filter(!coalesce(col(flag), lit(false))).drop(flag)

  /** COW MERGE commit: same-key rows replaced, `deleteFlag` rows
    * removed, new keys appended — only files CONTAINING a matched key
    * are rewritten (new files), everything else is carried by
    * reference ([[hitScan]], [[cowRewrite]], [[cowManifest]]).
    * `changes` must hold at most one row per key: DataFrames
    * carry no row order, so "last change wins" cannot be decided here;
    * compact the change source per key (by its own offset/ts) first, as
    * [[graft.streaming.EventStream.cdcApplyVersionedStream]] does. A
    * NULL delete flag means "not deleted".
    */
  def upsert(spark: SparkSession, dir: String, keyCol: String,
      changes: DataFrame, deleteFlag: Option[String] = None): Long = {
    changes.persist()
    try commitManifest(spark, dir) { base =>
      val keys = changes.select(keyCol).distinct()
      val touched = hitScan(spark, dir, base, base.entries)(
        _.join(broadcast(keys), keyCol))
      // COW-rewrite output sizing (guide §6 — small files hurt twice):
      // without it the rewrite's file count is its LINEAGE partitioning
      // — one task per touched file PLUS the batch's shuffle partitions
      // (a per-micro-batch upsert committed ~60 tiny files per epoch,
      // and AQE cannot coalesce here: it is disabled inside streaming
      // foreachBatch) — so every commit multiplied the table's file
      // count, the next commit's listing/footer costs, and every later
      // read's task count. [[sizedRewrite]] targets
      // graft.versioned.targetFileBytes output files from KNOWN sizes
      // (touched files' on-disk bytes + batch rows × schema width) —
      // scale-adaptive, never a core-count constant; the partitioned
      // writer lays out by value and is left alone.
      val rowW = changes.schema.map(_.dataType.defaultSize).sum + 16
      val (rewritten, rtags) = cowRewrite(spark, dir, base, touched,
        partitionSpecOf(spark, dir),
        Some(deleteFlag.fold(changes)(notDeleted(changes, _))),
        changes.count() * rowW.toLong)(
        _.join(broadcast(keys), Seq(keyCol), "left_anti"))
      cowManifest(spark, dir, base, touched, rewritten, rtags)
    } finally changes.unpersist()
  }

  /** Delete by key — COW like [[upsert]], rewriting only affected files. */
  def deleteKeys(spark: SparkSession, dir: String, keyCol: String,
      keys: DataFrame): Long =
    commitManifest(spark, dir) { base =>
      val k = keys.select(keyCol).distinct()
      val touched = hitScan(spark, dir, base, base.entries)(
        _.join(broadcast(k), keyCol))
      val (rewritten, rtags) = cowRewrite(spark, dir, base, touched,
        partitionSpecOf(spark, dir))(
        _.join(broadcast(k), Seq(keyCol), "left_anti"))
      cowManifest(spark, dir, base, touched, rewritten, rtags)
    }

  /** Predicate delete (SQL `DELETE FROM ... WHERE cond`) — COW like
    * [[deleteKeys]] but keyed on a PREDICATE: only files whose LIVE
    * rows match `cond` are rewritten (minus the matching rows),
    * everything else is carried by reference. SQL three-valued logic
    * holds: a row where `cond` is NULL is NOT deleted (kept unless the
    * condition IS TRUE). Returns the new version.
    */
  def deleteWhere(spark: SparkSession, dir: String, cond: Column): Long =
    commitManifest(spark, dir) { base =>
      require(base.entries.nonEmpty, s"deleteWhere: $dir has no current version")
      val touched = hitScan(spark, dir, base, base.entries)(
        _.filter(cond)) // TRUE rows only — NULL never deletes
      val (rewritten, rtags) = cowRewrite(spark, dir, base, touched,
        partitionSpecOf(spark, dir))(
        _.filter(!(cond <=> lit(true)))) // keep FALSE and NULL
      cowManifest(spark, dir, base, touched, rewritten, rtags)
    }

  /** PARTITION-SCOPED OVERWRITE (Delta's `replaceWhere` / Iceberg's
    * overwrite-by-filter — the daily-backfill idiom `INSERT OVERWRITE t
    * PARTITION (day = 'x') SELECT ...`): atomically DELETE every live
    * row matching `cond` and APPEND `df`, as ONE manifest commit.
    * Three file classes, cheapest first — all decided from the
    * MANIFEST, zero file IO before any surviving scan:
    *   - `fullMatch(tags)` — the file's partition tags PROVE every row
    *     matches (the day-repair case): RETIRED by reference, never
    *     read. A partition-aligned overwrite on a 100 TB table costs
    *     the replaced partition's metadata + the new data, nothing
    *     else.
    *   - stats/tag-pruned — the envelope/tags prove NO row can match:
    *     carried by reference, never read.
    *   - the remainder (untagged files, other-era tags, range
    *     predicates crossing file envelopes): scanned for actual
    *     hits ([[hitScan]]); hit files are COW-rewritten WITHOUT their
    *     matching rows ([[cowRewrite]], the [[deleteWhere]] discipline —
    *     FALSE and NULL rows kept, SQL three-valued logic).
    * NEW rows must all SATISFY `cond` (checked up front, loudly) —
    * Delta's replaceWhere constraint: a backfill that writes outside
    * its declared region is the classic silent-corruption bug. `cond`
    * must be the exact conjunction the `bounds`/`fullMatch` arguments
    * were derived from (the SQL layer derives all three from the same
    * pushed filters). Returns the new version.
    */
  def overwriteWhere(df: DataFrame, dir: String, cond: Column,
      bounds: Seq[(String, Bound, Bound)],
      eqValues: Seq[(String, Set[String])],
      fullMatch: Map[String, String] => Boolean,
      partSpec: Seq[PartField] = Seq.empty): Long = {
    val spark = df.sparkSession
    df.persist()
    try {
      require(df.filter(!(cond <=> lit(true))).isEmpty,
        s"INSERT OVERWRITE with a replace condition on $dir: some new " +
          "rows do NOT satisfy the condition — they would land outside " +
          "the replaced region (rewrite the query so every inserted row " +
          "matches, or overwrite the whole table)")
      commitManifest(spark, dir) { base =>
        // era-RESOLVED tag maps: a stale pre-rename tag must never
        // prove a whole-file retire for an unrelated same-named column
        val tagsOf = ptagMapOf(base)
        val (fullHit, rest) = base.entries.partition(e =>
          fullMatch(tagsOf.getOrElse(e._1, Map.empty)))
        // of the rest, only files whose stats envelope AND partition
        // tags admit a matching row are scanned for hits (both prunes
        // are necessary-condition filters — sound whatever cond does)
        val touched = hitScan(spark, dir, base,
          prunedEntries(base)(bounds, eqValues, entries = rest))(
          _.filter(cond)) // TRUE rows only — NULL never deletes
        // boundary files RE-TAG through the partitioned rewrite (q317);
        // fully-retired tags drop with their files; the new data tags
        // through the writer
        val (rewritten, rtags) = cowRewrite(spark, dir, base, touched,
          partSpec, othersAdded = true)(
          _.filter(!(cond <=> lit(true)))) // keep FALSE and NULL
        val (added, newTags) = writeFresh(df, dir, partSpec)
        cowManifest(spark, dir, base, fullHit.map(_._1).toSet ++ touched,
          rewritten ++ added, rtags ++ newTags)
      }
    } finally df.unpersist()
  }

  /** MERGE-ON-READ delete (Iceberg equality deletes / Delta deletion
    * vectors, the missing scale axis beside the COW path): the commit
    * writes ONE sidecar parquet of (__target data file, __key) pairs —
    * the keys actually live in each file — through the staged writer
    * ([[writeStaged]]) and a `#dv` manifest line;
    * NO data file is rewritten. Reads apply the sidecar as an anti-join
    * ([[applyDvs]]; AQE broadcasts the deleted-keys side), so a one-key
    * delete on a 100 TB table costs one tiny sidecar instead of
    * rewriting every touched gigabyte — that asymmetry is the whole
    * feature. The compaction ([[compact]], behind [[optimize]] and
    * [[optimizeZorder]]) retires the DVs (it rewrites the live rows and
    * [[cowManifest]] drops every `#dv` line); time travel,
    * [[vacuum]], CDC ([[changesBetween]]) and [[purgeKeys]] all compose
    * (sidecars version like data files). Sidecars bind to files BY
    * NAME, so appends and key re-inserts are never shadowed, and a
    * later COW rewrite of a target file retires the stale rows
    * ([[retireDvRows]]). Returns the new version.
    */
  def deleteKeysMor(spark: SparkSession, dir: String, keyCol: String,
      keys: DataFrame): Long =
    commitManifest(spark, dir) { base =>
      require(base.entries.nonEmpty,
        s"deleteKeysMor: $dir has no current version")
      val k = keys.select(keyCol).distinct()
      // (file, key) pairs actually present among LIVE rows — a key
      // already dv-deleted (or absent) adds no sidecar row, keeping
      // nDel exact and repeat deletes idempotent
      val pairs = readLive(spark, dir, base, base.entries,
        Some("__graft_dv_f"))
        .join(broadcast(k), keyCol)
        .select(col("__graft_dv_f").as("__target"),
          col(keyCol).as("__key"))
        .distinct()
      val files = writeStaged(pairs.repartition(1), dir, Nil)._1.filter(_._2 > 0)
      Manifest(base.changes, base.entries, dvs = base.dvs ++
        files.map { case (f, n) =>
          DvRef(base.changes.size, keyCol, f, n)
        }, ptags = base.ptags)
    }

  /** CDC READ between two committed versions WITHOUT a change log —
    * COW + immutable files make the diff a MANIFEST operation: a file
    * listed by both versions is byte-identical, so its rows cannot have
    * changed; only the files unique to one side are ever read (scan
    * cost ∝ changed data, not table size — the point of incremental
    * consumption off a COW table). Within those files, a key present on
    * both sides with an IDENTICAL payload is a rewrite artifact (COW
    * copies a touched file's untouched rows into the new file) and is
    * dropped; what remains classifies as insert / delete / update.
    * Both sides read under the TO version's logical schema (renames are
    * append-only, so its mapping covers every older era). EVERY branch
    * — including "the two versions share every file", a legitimate CDC
    * answer for a rename-only / optimize-noop / identical diff, which
    * returns EMPTY rather than throwing — emits the same shape:
    * (change_type, key, all old payload…, all new payload…) with the
    * absent side NULL, so consumers selecting both prefixes (q251/q255)
    * never hit a missing column.
    */
  def changesBetween(spark: SparkSession, dir: String, keyCol: String,
      vFrom: Long, vTo: Long): DataFrame = {
    val mFrom = manifestOf(spark, dir, vFrom)
    val mTo = manifestOf(spark, dir, vTo)
    val fromFiles = mFrom.entries.map(_._1).toSet
    val toFiles = mTo.entries.map(_._1).toSet
    val schemaM = if (mTo.changes.size >= mFrom.changes.size) mTo else mFrom
    val schemaChanges = schemaM.changes
    // a data file SHARED by both versions is byte-identical, but its
    // LIVE rows still differ if a delete sidecar was added (or purged)
    // between them — collect the targets of the differing #dv lines
    // (bounded by the delete commits' touched files, so still
    // ∝ changed data) and treat those files as changed on BOTH sides
    val dvDelta = (mFrom.dvs.toSet diff mTo.dvs.toSet) ++
      (mTo.dvs.toSet diff mFrom.dvs.toSet)
    val dvChanged: Set[String] =
      if (dvDelta.isEmpty) Set.empty
      else readDataFiles(spark, dir, dvDelta.toSeq.map(_.file).distinct)
        .select("__target").distinct().collect()
        .map(_.getString(0)).toSet
    // canonical payload order + types under the chosen rename mapping —
    // the single shape every branch selects into
    val shapeEntries = if (mTo.entries.nonEmpty) mTo.entries else mFrom.entries
    require(shapeEntries.nonEmpty,
      s"versions $vFrom and $vTo of $dir both list no files")
    val shape = schemaOf(spark, dir, Manifest(schemaChanges, shapeEntries))
    val payload = shape.fieldNames.filter(_ != keyCol).toSeq
    val typeOf = shape.map(f => f.name -> f.dataType).toMap
    def nulls(prefix: String): Seq[Column] =
      payload.map(c => lit(null).cast(typeOf(c)).as(s"$prefix$c"))
    def side(m: Manifest, other: Set[String],
        prefix: String): Option[DataFrame] = {
      // shared AND dv-unchanged files cannot differ — skip them; a file
      // unique to this side, or shared-but-dv-changed, reads LIVE under
      // this side's own sidecars (the full-outer compare below drops
      // the still-identical carried rows as usual)
      val unique = m.entries.filterNot(e => other(e._1) && !dvChanged(e._1))
      if (unique.isEmpty) None
      else Some {
        val fc = "__graft_cdc_f"
        val raw = readEntries(spark, dir, schemaChanges, unique)
          .withColumn(fc, element_at(split(input_file_name(), "/"), -1))
        val df = applyDvs(spark, dir, m.dvs, schemaM.renames, raw, fc).drop(fc)
        df.columns.filter(_ != keyCol).foldLeft(df)((acc, c) =>
          acc.withColumnRenamed(c, s"$prefix$c"))
      }
    }
    (side(mFrom, toFiles, "old_"), side(mTo, fromFiles, "new_")) match {
      case (None, None) =>
        emptyOf(spark, shape).select(lit(null).cast("string").as("change_type") +:
          col(keyCol) +: (nulls("old_") ++ nulls("new_")): _*)
      case (Some(o), None) =>
        o.select(lit("delete").as("change_type") +: col(keyCol) +:
          (payload.map(c => col(s"old_$c")) ++ nulls("new_")): _*)
      case (None, Some(n)) =>
        n.select(lit("insert").as("change_type") +: col(keyCol) +:
          (nulls("old_") ++ payload.map(c => col(s"new_$c"))): _*)
      case (Some(o), Some(n)) =>
        // explicit presence markers — inferring absence from NULL
        // payloads would misclassify rows whose payload is genuinely NULL
        val joined = o.withColumn("_in_old", lit(true))
          .join(n.withColumn("_in_new", lit(true)), Seq(keyCol), "full_outer")
        val inOld = col("_in_old").isNotNull
        val inNew = col("_in_new").isNotNull
        // payload equality via null-safe compare, paired BY NAME (old_X
        // with new_X for the same X): each side's column order follows
        // whichever files it read, so positional zipping would compare
        // mismatched columns whenever two commits used different
        // column orderings (a carried COW copy must match on every
        // column, under its own name)
        val samePayload = payload.map(c => col(s"old_$c") <=> col(s"new_$c"))
          .foldLeft(lit(true))(_ && _)
        val outCols =
          when(!inOld, "insert").when(!inNew, "delete")
            .when(!samePayload, "update").as("change_type") +:
            col(keyCol) +:
            (payload.map(c => col(s"old_$c")) ++ payload.map(c => col(s"new_$c")))
        joined.select(outCols: _*)
          .filter(col("change_type").isNotNull)
    }
  }

  /** RIGHT-TO-BE-FORGOTTEN purge: remove `keys` from EVERY version —
    * the one operation that may rewrite HISTORY, because erasure law
    * outranks the immutability contract (time travel must stop
    * resurrecting the data subject). Each data file containing a
    * matched key is rewritten ONCE (1:1, coalesced) and every manifest
    * that referenced it is repointed in place — version NUMBERS and all
    * untouched files survive, so audit lineage and file sharing are
    * preserved; emptied files drop out of their manifests, except that
    * a version whose every file empties keeps one zero-row replacement
    * ([[cowRewrite]]'s rule), so it still reads under its own shape;
    * the old bytes are deleted last, together with every file the purge
    * wrote that no rewritten manifest references (an emptied
    * replacement or sidecar rewrite). Runs inside the OCC ledger like any
    * writer. Manifest replacement is delete+rename with the content
    * already safely in the tmp file — a crash between the two leaves a
    * missing manifest whose `.tmp` sibling holds the full content
    * (recoverable, never silent loss; the rename goes through the
    * Hadoop FS so the local ChecksumFileSystem's .crc sidecars stay
    * consistent). Returns (filesRewritten, versionsTouched).
    */
  def purgeKeys(spark: SparkSession, dir: String, keyCol: String,
      keys: DataFrame): (Int, Int) =
    Lake.withCommit(spark, dir) {
      val fs = fsOf(spark, dir)
      val vs = versions(spark, dir)
      val manifests = vs.map(v => v -> manifestOf(spark, dir, v)).toMap
      // renames are append-only, so the latest manifest's list is the
      // authority for mapping the CURRENT logical keyCol into any era
      val latest = vs.lastOption.fold(Manifest(Seq.empty, Seq.empty))(manifests)
      val renames = latest.renames
      // the key's PHYSICAL name per era ("" where it was added later —
      // such files cannot hold a key); the type is unused here
      val keyRecipe = eraRecipes(latest.changes,
        Seq(keyCol -> org.apache.spark.sql.types.LongType))
      def physicalKey(era: Int): String = keyRecipe(era).head._2
      val fileEra: Map[String, Int] =
        manifests.values.flatMap(_.entries.map(e => e._1 -> e._3)).toMap
      val k = keys.select(keyCol).distinct()
      // hit detection PER ERA — the key column's physical name differs
      // across schema eras
      val hit: Set[String] = fileEra.toSeq.groupBy(_._2).flatMap {
        case (era, _) if physicalKey(era).isEmpty => Nil
        case (era, files) =>
          val pk = physicalKey(era)
          readDataFiles(spark, dir, files.map(_._1))
            .select(col(pk), input_file_name().as("_f"))
            .join(broadcast(k.withColumnRenamed(keyCol, pk)), pk)
            .select("_f").distinct().collect()
            .map(r => new org.apache.hadoop.fs.Path(
              new java.net.URI(r.getString(0))).getName).toSeq
      }.toSet
      // rewrite each hit file once IN ITS OWN ERA's physical schema —
      // the replacement inherits the era, so every referencing version
      // (each applying its own rename view) reads it unchanged; empty
      // results drop from manifests (`replacement`), but stay `written`
      // for a version that would otherwise list no file at all
      val written: Map[String, Seq[(String, Long, Int)]] = hit.map { f =>
        val era = fileEra(f)
        val pk = physicalKey(era)
        val cleaned = readDataFiles(spark, dir, Seq(f))
          .join(broadcast(k.withColumnRenamed(keyCol, pk)), Seq(pk), "left_anti")
          .coalesce(1)
        f -> writeStaged(cleaned, dir, Nil)._1
          .map { case (nf, n) => (nf, n, era) }
      }.toMap
      val replacement = written.map { case (f, rs) => f -> rs.filter(_._2 > 0) }
      // DELETE SIDECARS are part of history too: a purged key's VALUE
      // may sit in a DV file's __key column (it was MOR-deleted
      // earlier) — erasure law reaches it there as well; and a hit data
      // file's replacement must keep receiving its surviving DV rows,
      // so __target values repoint to the rewritten names (rows whose
      // target file vanished entirely are dead and drop). One rewrite
      // per affected sidecar, shared across every referencing manifest.
      val allDvRefs: Seq[DvRef] =
        manifests.values.flatMap(_.dvs).toSeq.distinctBy(_.file)
      val renamedTargets: Map[String, String] = replacement.collect {
        case (f, rs) if rs.nonEmpty => f -> rs.head._1
      }
      val droppedTargets: Set[String] = replacement.collect {
        case (f, rs) if rs.isEmpty => f
      }.toSet
      val dvRewrite: Map[String, Seq[(String, Long)]] = allDvRefs.flatMap {
        ref =>
          val df = readDataFiles(spark, dir, Seq(ref.file))
          val keyApplies = currentName(ref.keyName, ref.gen, renames) == keyCol
          val hasKey = keyApplies && df.join(
            broadcast(k.withColumnRenamed(keyCol, "__key")),
            Seq("__key"), "left_semi").limit(1).count() > 0
          val hasTarget = hit.nonEmpty &&
            df.filter(col("__target").isin(hit.toSeq: _*)).limit(1).count() > 0
          if (!hasKey && !hasTarget) None
          else {
            val keyCleaned =
              if (hasKey)
                df.join(broadcast(k.withColumnRenamed(keyCol, "__key")),
                  Seq("__key"), "left_anti")
              else df
            val targetDropped =
              if (droppedTargets.isEmpty) keyCleaned
              else keyCleaned.filter(
                !col("__target").isin(droppedTargets.toSeq: _*))
            val cleaned = (if (renamedTargets.isEmpty) targetDropped
              else targetDropped.na.replace("__target", renamedTargets))
              .coalesce(1)
            Some(ref.file -> writeStaged(cleaned, dir, Nil)._1)
          }
      }.toMap
      // an untouched sidecar carries; an emptied one's line drops
      def purgedDvs(m: Manifest): Seq[DvRef] = m.dvs.flatMap { dv =>
        dvRewrite.get(dv.file).fold(Option(dv))(_.find(_._2 > 0)
          .map { case (nf, n) => dv.copy(file = nf, nDel = n) })
      }
      var touched = 0
      var referenced = Set.empty[String]
      vs.foreach { v =>
        val m = manifests(v)
        val newDvs = purgedDvs(m)
        if (m.entries.exists(e => hit(e._1)) || newDvs != m.dvs) {
          touched += 1
          val kept = m.entries.flatMap { case e @ (f, _, _) =>
            if (hit(f)) replacement(f) else Seq(e)
          }
          val updated =
            if (kept.nonEmpty) kept
            else m.entries.flatMap(e => written.getOrElse(e._1, Nil)).take(1)
          referenced ++= updated.map(_._1) ++ newDvs.map(_.file)
          // re-shard against the version's OWN shard structure: shards
          // untouched by the purge are reused byte-identical, only the
          // shards holding hit files rewrite (orphaned originals fall to
          // the aged vacuum)
          writeManifest(fs, dir, Main.fileName(v),
            shardManifest(spark, dir, m,
              Manifest(m.changes, updated, dvs = newDvs,
                ptags = m.ptags.filterNot(t => hit(t._1)),
                // column stats REPOINT to the 1:1 purge replacements:
                // a purge only removes rows, so the old envelope is a
                // sound superset for the rewritten file
                fstats = m.fstats.flatMap { case (f, st) =>
                  if (!hit(f)) Some(f -> st)
                  else replacement(f).headOption.map(_._1 -> st)
                }, txns = m.txns))
              // a purge rewrites history IN PLACE — the version keeps
              // its original commit time
              .copy(commitMs = m.commitMs),
            replace = true)
        }
      }
      // the purged bytes leave the disk only after no manifest points at
      // them, with every file this purge wrote that no rewritten
      // manifest references (an emptied replacement or sidecar rewrite)
      val unreferenced = (written.values.flatten.map(_._1) ++
        dvRewrite.values.flatten.map(_._1)).filterNot(referenced)
      (hit ++ dvRewrite.keys ++ unreferenced).foreach(f =>
        fs.delete(new org.apache.hadoop.fs.Path(dir, s"data/$f"), false))
      (hit.size, touched)
    }

  /** The COMMIT half of atomic CREATE/REPLACE TABLE [AS SELECT]
    * ([[graft.sources.v2.GraftStagedTable]]): the staged table's
    * insert lands its data files under `dir/data/` through
    * [[writeFresh]] WITHOUT a commit (a crash before this commit leaves
    * vacuum-aged orphans, the same guarantee every writer has), then
    * this publishes them as ONE manifest whose schema lineage is RESET
    * (a REPLACE's schema need not relate to the old one; old manifests
    * keep their own change lists, so time travel across the replace
    * boundary still reads every version under its own schema).
    * Streaming `#txn` watermarks carry forward — a replace must not
    * reopen exactly-once windows.
    *
    * `prepare` runs INSIDE the ledger slot, after any concurrent
    * commit has settled and before the manifest lands — the staged
    * table's mode revalidation and metadata rewrite go here, so a
    * racing CREATE/DROP is genuinely serialized (check-then-act
    * outside the slot was a clobber window) and a commit that loses
    * the slot contention never half-writes metadata. A ZERO-ENTRY
    * state (plain REPLACE / empty CTAS) records the declared schema as
    * metadata-only `add` changes, so time travel to the empty version
    * keeps ITS OWN schema even after later replaces rewrite
    * `_schema.ddl`.
    */
  private[graft] def commitStagedState(spark: SparkSession, dir: String,
      entries: Seq[(String, Long)], ptags: Seq[(String, String, String)],
      declared: org.apache.spark.sql.types.StructType)(
      prepare: () => Unit): Long =
    commitManifest(spark, dir) { _ =>
      prepare()
      if (entries.nonEmpty)
        Manifest(Seq.empty, entries.map(e => (e._1, e._2, 0)), ptags = ptags)
      else
        Manifest(declared.fields.toSeq.zipWithIndex.map { case (f, i) =>
          (i + 1, "add", f.name, f.dataType.catalogString)
        }, Seq.empty)
    }

  /** RESTORE (Delta's RESTORE TABLE / Iceberg's rollback — the
    * operational undo after a bad write): commit a NEW version whose
    * state — entries, delete sidecars, partition tags, schema-change
    * lineage, column stats — is exactly version `v`'s. History only
    * ever GROWS (a restore is a commit, never a rewind): the bad
    * versions stay inspectable and time-travelable until retention
    * drops them, and the restore itself shows in `t.history` like any
    * commit. COW file sharing makes it FREE at any table size — the
    * restored entries are the same immutable files, referenced by one
    * more manifest (and thereby re-PINNED against vacuum, which keeps
    * everything the head references). Streaming `#txn` watermarks
    * carry FORWARD from the current head, not the target — a restore
    * must not reopen idempotence windows (a replayed sink epoch would
    * double-append). Restoring a vacuumed version fails loudly at the
    * manifest read. LIMIT, stated loudly: TBLPROPERTIES (`_props.tsv`)
    * and the declared `_schema.ddl` are CONTROL FILES, not versioned
    * state — a restore across a CREATE OR REPLACE boundary brings the
    * data back but keeps the replacement's properties (partition spec,
    * merge mode, key); re-declare them via ALTER TABLE SET after such
    * a restore. The downstream guards stay loud either way (a
    * partition/key property naming a column the restored schema lacks
    * fails the next write, never silently misroutes it). Returns the
    * new head version.
    */
  def restore(spark: SparkSession, dir: String, v: Long): Long =
    // target resolves INSIDE the OCC block: a vacuum racing this
    // restore is serialized by the same ledger, so it can never drop
    // the target's manifest/files between resolve and commit (the
    // committed restore re-pins them — head references win retention)
    commitManifest(spark, dir) { _ =>
      // zero-entry targets are legitimate (the post-REPLACE empty
      // state): restoring to one commits the same empty-with-schema
      // manifest shape
      val target = manifestOf(spark, dir, v)
      Manifest(target.changes, target.entries,
        dvs = target.dvs, ptags = target.ptags, fstats = target.fstats)
    }

  /** OPTIMIZE: rewrite the current version's data into `nFiles` compact
    * files, committed as a new, logically-identical version — see
    * [[compact]].
    */
  def optimize(spark: SparkSession, dir: String, nFiles: Int): Long =
    compact(spark, dir, nFiles, None)

  /** OPTIMIZE … ZORDER BY (colA, colB) — see [[compact]]. */
  def optimizeZorder(spark: SparkSession, dir: String, nFiles: Int,
      colA: String, colB: String): Long =
    compact(spark, dir, nFiles, Some((colA, colB)))

  /** The one COMPACTION behind [[optimize]] and [[optimizeZorder]]
    * (append/upsert accretion leaves a long-lived table as thousands of
    * small files; this is Delta's OPTIMIZE [ZORDER BY]): the current
    * version's LIVE rows rewritten and committed as a new,
    * logically-identical version. The live read physically sheds
    * MOR-deleted rows and the commit retires every file of the base
    * through [[cowManifest]], so the new manifest carries no `#dv` line
    * — compaction is how deletion vectors get retired (the Delta
    * OPTIMIZE contract). Old versions keep reading their original
    * files (COW), so time travel, concurrency and [[vacuum]] all apply
    * unchanged; the rewrite runs INSIDE the commit's build, against the
    * slot's own base, so a concurrent committer landing between read
    * and claim cannot have its change silently compacted away.
    *
    * Clustering, through the staged writer ([[writeStaged]]) under the
    * fresh-row rule (a NULL partition value fails loudly):
    *   - no declared spec: `nFiles` hash-partitioned files, or, with
    *     `zorder` = (colA, colB), `nFiles` range partitions sorted by
    *     the 32-bit Morton interleave ([[Lake.zorderClustered]]), so the
    *     files' stats envelopes tighten on BOTH columns and
    *     [[readRangeSkipping]] prunes on either. The sort key never
    *     reaches the files.
    *   - a PARTITIONED BY spec (q315): the rows route through the
    *     partitioned writer — streamed-in/multi-commit accretion (N
    *     files per value) collapses to the layout invariant, ONE tagged
    *     file per partition value, instead of untagged files that would
    *     silently destroy partition pruning for the whole table. `nFiles`
    *     is ignored (the spec IS the file-count policy; multiple `#pfile`
    *     lines per value are read correctly, so size-targeted splitting
    *     within a value stays open). With `zorder`, each file is z-sorted
    *     within its value so parquet ROW-GROUP envelopes tighten on both
    *     columns (the Iceberg sort-order-per-partition shape).
    */
  private def compact(spark: SparkSession, dir: String, nFiles: Int,
      zorder: Option[(String, String)]): Long =
    commitManifest(spark, dir) { base =>
      require(base.entries.nonEmpty, s"optimize: $dir has no current version")
      val live = readLive(spark, dir, base, base.entries)
      val z = zorder.map { case (a, b) => Lake.zorderKeyOf(live, a, b) }
      val spec = partitionSpecOf(spark, dir)
      val (added, tags) =
        if (spec.nonEmpty) writeStaged(live, dir, spec, zsort = z)
        else writeStaged(z.fold(live.repartition(nFiles))(
          Lake.zorderClustered(live, _, nFiles)), dir, Nil)
      cowManifest(spark, dir, base, base.entries.map(_._1).toSet, added, tags)
    }

  /** Per-entry lookup of logical `column`'s manifest [[ColStat]],
    * the era resolution every stats consumer shares: stats are
    * recorded under PHYSICAL names at write time, so the logical name
    * walks back through each entry's era (rename walk). None: the
    * column was ADDED after the entry's era, so every row there reads
    * NULL. Some(None): the file records no stat for it (legacy
    * manifest, unsupported type). Some(Some(stat)) otherwise.
    */
  private def eraStat(m: Manifest, column: String)
      : ((String, Long, Int)) => Option[Option[ColStat]] = {
    val recipe = eraRecipes(m.changes,
      Seq(column -> org.apache.spark.sql.types.LongType))
    (e: (String, Long, Int)) => {
      val phys = recipe(e._3).head._2
      if (phys.isEmpty) None
      else Some(m.fstats.get(e._1).flatMap(decodeStats(_).get(phys)))
    }
  }

  /** The entry subset whose MANIFEST STATS envelope can contain rows
    * with `column` ∈ [lo, hi] — zero file IO ([[Manifest.fstats]]).
    * Era-aware: stats are recorded under PHYSICAL names at write time,
    * so the logical column maps back per era (rename walk); a column
    * ADDED after a file's era reads as NULL there and NULL never
    * satisfies a range predicate — skipping such files is SOUND, not
    * just an optimization. A file without stats for the column (legacy
    * manifest, unsupported type) is kept — fail open.
    */
  private[graft] def statsPrunedEntries(m: Manifest,
      entries: Seq[(String, Long, Int)], column: String,
      lo: Bound, hi: Bound): Seq[(String, Long, Int)] = {
    val stat = eraStat(m, column)
    // added after this era: all-NULL, never in range; no stat: kept
    entries.filter(e => stat(e).fold(false)(_.forall(st =>
      statsOverlap(st.kind, st.mn, st.mx, lo, hi))))
  }

  /** The entry subset that can contain a LIVE row satisfying
    * `column IS NULL` (`wantNull`) / `IS NOT NULL` (!wantNull), by the
    * manifest NULL COUNTS — the other half of real WHERE clauses, and
    * (because Spark injects IsNotNull under every equality/range
    * conjunct) a prune that fires on nearly every filtered query.
    * Sound under delete sidecars: dvs only REMOVE rows, and these are
    * necessary-condition filters. Era-aware: a column added after a
    * file's era is all-NULL there (kept for IS NULL, DROPPED for IS
    * NOT NULL — the sound direction both ways). Files without a null
    * count fail open.
    */
  private[graft] def nullPrunedEntries(m: Manifest,
      entries: Seq[(String, Long, Int)], column: String,
      wantNull: Boolean): Seq[(String, Long, Int)] = {
    val stat = eraStat(m, column)
    // pre-column era: every row NULL; no null count: kept
    entries.filter(e => stat(e).fold(wantNull)(_.flatMap(_.nulls).forall(n =>
      if (wantNull) n > 0 else n < e._2)))
  }

  /** COUNT(column) — the non-null row count — answered EXACTLY from
    * the manifest (rows − null counts, the q290 COUNT(*) discipline on
    * the null-count axis). Some only when provably exact: NO delete
    * sidecars (a dv-deleted row's nullness is unknown to the
    * manifest), and every entry either predates the column (all-NULL:
    * contributes 0) or carries a recorded null count. None → the
    * caller falls back to a real scan.
    */
  private[graft] def statsNonNullCount(m: Manifest,
      column: String): Option[Long] = {
    if (m.dvs.nonEmpty) return None
    val stat = eraStat(m, column)
    val per = m.entries.map(e =>
      stat(e).fold(Option(0L))(_.flatMap(_.nulls).map(e._2 - _)))
    if (per.exists(_.isEmpty)) None else Some(per.flatten.sum)
  }

  /** MIN or MAX of `column` answered EXACTLY from the manifest stats —
    * the metadata-only aggregate the SQL catalog scan pushes (q296),
    * Some(value in the column's EXTERNAL type) when provably exact,
    * None when any condition fails (the caller falls back to a real
    * scan). Exactness conditions:
    *   - NO delete sidecars (a dv row could tombstone the extreme —
    *     the envelope would still claim it);
    *   - integral or decimal column ONLY. Floating point is REFUSED:
    *     parquet's double envelopes ignore NaN while Spark's MIN/MAX
    *     ordering puts NaN above +Inf — a stats answer would silently
    *     drop a NaN extreme (and -0.0/0.0 normalization has the same
    *     shape). Strings are REFUSED: their bounds are truncated.
    *   - every entry either predates the column (era recipe resolves
    *     to "": all-NULL there, contributes nothing — skipping is the
    *     exact NULL semantics of MIN/MAX) or carries a decodable stat
    *     of a domain-compatible kind (`l` for integral; `l`/`c` for
    *     decimal — an int→decimal widen leaves old eras with long
    *     envelopes). A present-but-statless file refuses (it may hold
    *     the extreme).
    * Parquet min/max envelopes ignore NULLs, which is exactly SQL
    * MIN/MAX semantics; a column that is all NULL in a file records no
    * stat and refuses (conservative — the fallback scan returns the
    * exact answer). All files all-NULL → Some(null), the exact answer.
    */
  private[graft] def statsExtreme(m: Manifest, column: String,
      dt: org.apache.spark.sql.types.DataType, isMin: Boolean): Option[Any] = {
    import org.apache.spark.sql.types._
    if (m.dvs.nonEmpty) return None
    val okKinds: Set[String] = dt match {
      case ByteType | ShortType | IntegerType | LongType => Set("l")
      case _: DecimalType => Set("l", "c")
      case _ => Set.empty
    }
    if (okKinds.isEmpty) return None
    val stat = eraStat(m, column)
    val candidates = m.entries.map(e => stat(e) match {
      case None => Some(None) // pre-column era: all NULL, no vote
      case Some(Some(st)) if okKinds(st.kind) =>
        try Some(Some(BigDecimal(if (isMin) st.mn else st.mx)))
        catch { case _: NumberFormatException => None }
      // an ALL-NULL file (nulls == rows, provable from the null
      // count alone) contributes nothing to MIN/MAX — exactly SQL's
      // null-skipping semantics, so it votes "nothing" rather than
      // refusing the push
      case Some(Some(st)) if st.nulls.contains(e._2) => Some(None)
      case _ => None // statless / wrong-kind file may hold the extreme
    })
    if (candidates.exists(_.isEmpty)) None
    else {
      val votes = candidates.flatMap(_.get)
      if (votes.isEmpty) Some(null) // every file pre-dates the column
      else {
        val v = if (isMin) votes.min else votes.max
        Some(dt match {
          case ByteType => v.toByteExact
          case ShortType => v.toShortExact
          case IntegerType => v.toIntExact
          case LongType => v.toLongExact
          case d: DecimalType => v.bigDecimal.setScale(d.scale)
          case other => throw new IllegalStateException(
            s"unreachable extreme type ${other.catalogString}")
        })
      }
    }
  }

  /** A tag's column name walked FORWARD into the current logical
    * schema: tags record the file's-own-era physical name (identity
    * tags the column, temporal tags the transform over it), so a later
    * RENAME must map them exactly like [[statsPrunedEntries]] maps
    * stats columns — without the walk, re-adding a column under a
    * renamed-away partition column's old name would match STALE tags
    * and the whole-file prune/retire paths would silently drop or skip
    * rows of the unrelated new column.
    */
  private[graft] def resolvedTagCol(c: String, era: Int,
      renames: Seq[(Int, String, String)]): String = c match {
    case PartField.Fn(t, src) => s"$t(${currentName(src.trim, era, renames)})"
    case plain => currentName(plain, era, renames)
  }

  /** Per-file tag MAP under CURRENT logical column names (a
    * multi-column spec tags one file once per field; a single-column
    * spec degenerates to a one-entry map). Each file's tags resolve
    * through its own era's rename walk.
    */
  private[graft] def ptagMapOf(m: Manifest): Map[String, Map[String, String]] = {
    val eraOf: Map[String, Int] = m.entries.map(e => e._1 -> e._3).toMap
    val renames = m.renames
    m.ptags.groupBy(_._1).view
      .map { case (f, ts) =>
        val era = eraOf.getOrElse(f, 0)
        f -> ts.map(t => resolvedTagCol(t._2, era, renames) -> t._3).toMap
      }.toMap
  }

  /** The entry subset compatible with `column = one of values` under
    * the manifest's PARTITION TAGS (`#pfile`, q281): a file tagged
    * under this column keeps iff its tag value matches; a file tagged
    * under ANOTHER column (a different partition-spec era) or untagged
    * fails OPEN — the era logic [[readPartitionPruned]] and the SQL
    * catalog scan's partition-predicate prune share.
    * `values` must be Spark's PATH-ESCAPED renderings; the caller skips
    * the prune for values whose escaping differs from themselves.
    */
  private[graft] def ptagPrunedEntries(m: Manifest,
      entries: Seq[(String, Long, Int)], column: String,
      values: Set[String]): Seq[(String, Long, Int)] = {
    val tagOf = ptagMapOf(m)
    entries.filter(e =>
      tagOf.getOrElse(e._1, Map.empty).get(column) match {
        case Some(pv) => values(pv) // tagged on this axis: exact
        case None => true // other era / untagged / rewritten: fail open
      })
  }

  /** Range prune on an INTEGER-VALUED tag axis (the temporal
    * transforms: `days(ts)` / `months(ts)` tag values are epoch-day /
    * month-index integers). A file tagged on the axis keeps iff its
    * value lies in [lo, hi]; files tagged otherwise (or whose value is
    * not an integer — a different spec era reused the name) fail open.
    * The caller derives [lo, hi] as a NECESSARY condition of its
    * source-column bounds, so pruning is sound whatever the predicate.
    */
  private[graft] def ptagRangePrunedEntries(m: Manifest,
      entries: Seq[(String, Long, Int)], tagCol: String,
      lo: Long, hi: Long): Seq[(String, Long, Int)] = {
    val tagOf = ptagMapOf(m)
    entries.filter(e =>
      tagOf.getOrElse(e._1, Map.empty).get(tagCol)
        .flatMap(_.toLongOption) match {
        case Some(v) => v >= lo && v <= hi
        case None => true
      })
  }

  /** The entry subset surviving ALL the manifest-level prunes — stats
    * bounds, partition tags, temporal tag ranges and null-count
    * predicates (they COMPOSE: each is a necessary-condition filter
    * over the same entry list) — of `entries`, by default every entry
    * of `m`. The one place the prunes combine: the pruned reads
    * ([[readPruned]]'s callers), the SQL scan's statistics estimate,
    * the row-level scan's static candidates and [[overwriteWhere]]'s
    * hit scan all prune through it.
    */
  private[graft] def prunedEntries(m: Manifest)(
      bounds: Seq[(String, Bound, Bound)] = Seq.empty,
      ptagFilters: Seq[(String, Set[String])] = Seq.empty,
      nullPreds: Seq[(String, Boolean)] = Seq.empty,
      tagRanges: Seq[(String, Long, Long)] = Seq.empty,
      entries: Seq[(String, Long, Int)] = m.entries)
      : Seq[(String, Long, Int)] = {
    val statKept = bounds.foldLeft(entries) { case (es, (c, lo, hi)) =>
      statsPrunedEntries(m, es, c, lo, hi)
    }
    val ptagKept = ptagFilters.foldLeft(statKept) { case (es, (c, vs)) =>
      ptagPrunedEntries(m, es, c, vs)
    }
    val rangeKept = tagRanges.foldLeft(ptagKept) { case (es, (c, lo, hi)) =>
      ptagRangePrunedEntries(m, es, c, lo, hi)
    }
    nullPreds.foldLeft(rangeKept) { case (es, (c, wantNull)) =>
      nullPrunedEntries(m, es, c, wantNull)
    }
  }

  /** The one pruned read of a manifest (main version or branch head):
    * the LIVE rows of `kept` (a [[prunedEntries]] result — delete
    * sidecars apply, so a deleted row never resurrects through a
    * pruned path), `fileCol` keeping each row's data-file name (the
    * `_file` metadata column). Returns (frame, filesKept, filesTotal).
    * Keeping nothing — a prune that rules out every file, or a
    * zero-entry manifest — reads no file: an empty frame under the
    * manifest's [[schemaOf]] (`fileCol` ""). Prunes are necessary
    * conditions only: the caller re-applies its full filter.
    */
  private[graft] def readPruned(spark: SparkSession, dir: String,
      m: Manifest, kept: Seq[(String, Long, Int)],
      fileCol: Option[String] = None): (DataFrame, Int, Int) = {
    val df =
      if (kept.isEmpty) {
        val empty = emptyOf(spark, schemaOf(spark, dir, m))
        fileCol.fold(empty)(fc => empty.withColumn(fc, lit("")))
      } else readLive(spark, dir, m, kept, fileCol)
    (df, kept.size, m.entries.size)
  }

  /** RANGE SKIPPING (the Iceberg/Delta data-skipping read) — the rows
    * of version `v` with `column` in [lo, hi], reading only the files
    * whose MANIFEST STATS envelope overlaps the range
    * ([[statsPrunedEntries]]: pure manifest arithmetic, zero file IO at
    * read time — each file's footer was read once, at commit, by
    * [[statsOf]]). `readStatsSkipping` and `readRangeSkipping` are the
    * same read under two names. Effectiveness is the layout's job: a
    * range-sorted or z-ordered write gives tight per-file envelopes, an
    * unsorted one degenerates to reading everything (never to wrong
    * answers); an envelope spans the whole file, so a file is kept if
    * any of its row groups may match. Delete sidecars apply, and the
    * residual filter keeps the answer exact whatever the prune kept.
    * Returns (rows, filesKept, filesTotal).
    */
  def readStatsSkipping(spark: SparkSession, dir: String, v: Long,
      column: String, lo: Long, hi: Long): (DataFrame, Int, Int) = {
    val m = manifestOf(spark, dir, v)
    val (df, kept, total) = readPruned(spark, dir, m, prunedEntries(m)(
      bounds = Seq((column, Bound.Num(BigDecimal(lo)), Bound.Num(BigDecimal(hi))))))
    (df.filter(col(column).between(lo, hi)), kept, total)
  }

  def readRangeSkipping(spark: SparkSession, dir: String, v: Long,
      column: String, lo: Long, hi: Long): (DataFrame, Int, Int) =
    readStatsSkipping(spark, dir, v, column, lo, hi)

  /** NAMED VERSION REFS (Iceberg tags): a stable name for one committed
    * version — `SELECT ... VERSION AS OF 'baseline'` via the SQL
    * catalog, and a PIN against [[vacuum]] (a tagged version survives
    * retention until its tag is dropped). Tags live in `_tags.tsv`
    * (tmp+rename rewrite inside the OCC ledger); names must not look
    * like version numbers (all digits would shadow numeric AS OF) and
    * must not contain whitespace.
    */
  def tags(spark: SparkSession, dir: String): Map[String, Long] =
    tagsWithTimes(spark, dir).map { case (n, (v, _)) => n -> v }

  /** Read one of the table's small CONTROL FILES (`_tags.tsv`,
    * `_props.tsv`) under the swap-crash recovery contract shared with
    * [[writeControlFile]]: the writer swaps `.tmp` → main, so a crash
    * between its delete and rename leaves only the tmp — whose content
    * is the COMPLETE intended state — and the reader falls back to it.
    */
  private[graft] def readControlFile(spark: SparkSession, dir: String,
      name: String): Option[String] = {
    val fs = fsOf(spark, dir)
    val p = new org.apache.hadoop.fs.Path(dir, name)
    val tmp = new org.apache.hadoop.fs.Path(dir, s"$name.tmp")
    if (fs.exists(p)) Some(readTextFile(fs, p))
    else if (fs.exists(tmp)) Some(readTextFile(fs, tmp))
    else None
  }

  /** The write half of the control-file contract: None deletes BOTH
    * files (a stale tmp surviving an earlier crash must not resurrect
    * dropped state through the recovery fallback); Some(content) lands
    * via tmp + delete + rename, recoverable at every step.
    */
  private[graft] def writeControlFile(spark: SparkSession, dir: String,
      name: String, content: Option[String]): Unit = {
    val fs = fsOf(spark, dir)
    val p = new org.apache.hadoop.fs.Path(dir, name)
    val tmp = new org.apache.hadoop.fs.Path(dir, s"$name.tmp")
    content match {
      case None => fs.delete(p, false); fs.delete(tmp, false); ()
      case Some(text) =>
        val out = fs.create(tmp, true)
        try out.write(text.getBytes("UTF-8")) finally out.close()
        fs.delete(p, false)
        require(fs.rename(tmp, p), s"$name rewrite failed for $dir")
    }
  }

  /** The table's persisted `graft.*` TBLPROPERTIES, `_props.tsv` (one
    * `key<TAB>value` line each) under the control-file contract — so
    * a crash mid-rewrite never silently degrades a MOR table to COW.
    * Empty for a table without properties.
    */
  private[graft] def readProps(spark: SparkSession,
      dir: String): Map[String, String] =
    readControlFile(spark, dir, "_props.tsv").fold(Map.empty[String, String])(
      _.split("\n").filter(_.nonEmpty).map { l =>
        val Array(k, v) = l.split("\t", 2); k -> v
      }.toMap)

  /** The write half of [[readProps]]: lines sorted by key; an empty map
    * deletes the file.
    */
  private[graft] def writeProps(spark: SparkSession, dir: String,
      props: Map[String, String]): Unit =
    writeControlFile(spark, dir, "_props.tsv",
      if (props.isEmpty) None
      else Some(props.toSeq.sorted.map { case (k, v) => s"$k\t$v" }.mkString("\n")))

  // ---- drop (ledger-serialized) -------------------------------------

  private[graft] val DroppedMarker = "_dropped.marker"

  /** Is `dir` mid-drop (or a crashed drop's leftover)? The marker
    * rides the control-file crash contract, so a tmp-only state still
    * reads as dropped.
    */
  private[graft] def isDropped(spark: SparkSession, dir: String): Boolean =
    readControlFile(spark, dir, DroppedMarker).isDefined

  private def requireNotDropped(spark: SparkSession, dir: String): Unit =
    if (isDropped(spark, dir))
      throw new java.util.ConcurrentModificationException(
        s"$dir was dropped (DROP TABLE) — the racing commit loses; " +
          "re-create the table first")

  /** DROP TABLE, THROUGH the OCC ledger (q312): mark-then-delete
    * inside one ledger slot, so a drop racing a writer serializes —
    * the slot's loser either sees the marker and fails its commit
    * loudly ([[requireNotDropped]]) or commits first and is dropped
    * with the table (a drop deletes whatever state precedes it; it
    * never interleaves with a half-written commit). The caller deletes
    * the remaining shell (ledger + marker) AFTER the slot commits; a
    * crash anywhere leaves the marker, which [[isDropped]] surfaces —
    * the dir reads as no-table, and the next CREATE (or DROP) heals
    * the leftovers ([[healDroppedIfAny]]) before reusing the name.
    */
  private[graft] def dropTableContents(spark: SparkSession, dir: String): Unit =
    Lake.withCommit(spark, dir) {
      writeControlFile(spark, dir, DroppedMarker,
        Some(System.currentTimeMillis().toString))
      val fs = fsOf(spark, dir)
      val keep = Set("_graft_txn", DroppedMarker, s"$DroppedMarker.tmp")
      fs.listStatus(new org.apache.hadoop.fs.Path(dir)).toSeq
        .filterNot(s => keep(s.getPath.getName))
        .foreach(s => fs.delete(s.getPath, true))
    }

  /** Finish a crashed drop before reusing the dir for a CREATE:
    * delete every leftover EXCEPT the ledger (still serializing us)
    * and `data/` (a staged CTAS may already have landed its files
    * there — old data files become unreferenced, aged-vacuum
    * orphans), then clear the marker LAST so a crash mid-heal stays
    * healable. Caller holds the ledger slot.
    */
  private[graft] def healDroppedIfAny(spark: SparkSession, dir: String): Unit =
    if (isDropped(spark, dir)) {
      val fs = fsOf(spark, dir)
      val keep = Set("_graft_txn", "data", DroppedMarker,
        s"$DroppedMarker.tmp")
      fs.listStatus(new org.apache.hadoop.fs.Path(dir)).toSeq
        .filterNot(s => keep(s.getPath.getName))
        .foreach(s => fs.delete(s.getPath, true))
      writeControlFile(spark, dir, DroppedMarker, None)
    }

  /** Tags with their CREATION TIME (epoch-ms; None for tags written by
    * the two-field pre-times format) — what an audit needs to answer
    * "what did 'baseline' point at and when was it cut". Surfaced by
    * the `t.tags` / `t.history` SQL metadata tables.
    *
    * CRASH RECOVERY: [[writeTags]] swaps `.tmp` → `_tags.tsv`; a crash
    * between its delete and rename leaves only the tmp, whose content
    * is the COMPLETE intended tag state — fall back to it rather than
    * silently returning "no tags", which would let the next vacuum
    * delete the formerly pinned versions (the exact failure the pin
    * exists to prevent).
    */
  private[graft] def tagsWithTimes(spark: SparkSession, dir: String)
      : Map[String, (Long, Option[Long])] =
    readControlFile(spark, dir, "_tags.tsv")
      .fold(Map.empty[String, (Long, Option[Long])])(text =>
        text.split("\n").filter(_.nonEmpty).map { l =>
          l.split("\t") match {
            case Array(n, v) => n -> ((v.toLong, None))
            case Array(n, v, ms) => n -> ((v.toLong, Some(ms.toLong)))
            case other => throw new IllegalStateException(
              s"malformed tag line: ${other.mkString("\\t")}")
          }
        }.toMap)

  private def writeTags(spark: SparkSession, dir: String,
      t: Map[String, (Long, Option[Long])]): Unit =
    writeControlFile(spark, dir, "_tags.tsv",
      if (t.isEmpty) None
      else Some(t.toSeq.sortBy(_._1)
        .map { case (n, (v, ms)) => s"$n\t$v${ms.fold("")(m => s"\t$m")}" }
        .mkString("\n")))

  def tagVersion(spark: SparkSession, dir: String, name: String,
      v: Long): Unit = Lake.withCommit(spark, dir) {
    require(name.nonEmpty && !name.forall(_.isDigit) &&
      !name.exists(c => c.isWhitespace || c == '\t'),
      s"tag name '$name' must be non-numeric and whitespace-free")
    require(versions(spark, dir).contains(v),
      s"cannot tag version $v of $dir — it does not exist")
    writeTags(spark, dir, tagsWithTimes(spark, dir) +
      (name -> ((v, Some(System.currentTimeMillis())))))
  }

  def dropTag(spark: SparkSession, dir: String, name: String): Unit =
    Lake.withCommit(spark, dir) {
      val t = tagsWithTimes(spark, dir)
      require(t.contains(name),
        s"no tag '$name' on $dir (have ${t.keys.toSeq.sorted.mkString(", ")})")
      writeTags(spark, dir, t - name)
    }

  // ---- branches (write-audit-publish) -------------------------------

  /** WRITABLE BRANCHES — the Iceberg write-audit-publish pattern, the
    * write-side twin of tags (which are read-only pins): a branch is a
    * named SIDE LINEAGE rooted at a main version. Writes to the branch
    * commit branch manifests (`_manifests/b-<seq>-<name>.manifest`,
    * invisible to [[versions]]/every main reader — isolation is by
    * NAMESPACE, not by locking), audits read [[readBranch]], and
    * [[fastForward]] PUBLISHES the branch head as one main commit —
    * but only while main has not moved since the branch was cut (the
    * Iceberg fast-forward ancestor rule; a diverged main fails loudly
    * — re-branch and replay rather than silently merging). Branch data
    * files live in the shared `data/` dir; [[vacuum]] treats branch
    * manifests as live roots, so an unpublished audit survives
    * retention. Branch names: `[A-Za-z0-9_]+` (they ride file names
    * and the control tsv).
    */
  def branches(spark: SparkSession, dir: String): Map[String, Long] =
    readControlFile(spark, dir, "_branches.tsv")
      .fold(Map.empty[String, Long])(text =>
        text.split("\n").filter(_.nonEmpty).map { l =>
          val Array(n, v) = l.split("\t"); n -> v.toLong
        }.toMap)

  private def writeBranches(spark: SparkSession, dir: String,
      b: Map[String, Long]): Unit =
    writeControlFile(spark, dir, "_branches.tsv",
      if (b.isEmpty) None
      else Some(b.toSeq.sorted.map { case (n, v) => s"$n\t$v" }.mkString("\n")))

  /** Create `name` rooted at the CURRENT head; returns the base version. */
  def createBranch(spark: SparkSession, dir: String, name: String): Long =
    Lake.withCommit(spark, dir) {
      require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '_'),
        s"branch name '$name' must match [A-Za-z0-9_]+")
      val b = branches(spark, dir)
      require(!b.contains(name), s"branch '$name' already exists on $dir")
      val base = latestVersion(spark, dir).getOrElse(
        throw new IllegalStateException(
          s"$dir has no committed version to branch from"))
      writeBranches(spark, dir, b + (name -> base))
      base
    }

  /** (head manifest, branch-local seq — 0 when unwritten: the base). */
  private[graft] def branchHead(spark: SparkSession, dir: String,
      name: String): (Manifest, Long) =
    Branch(name).head(spark, dir).get // a branch head always exists

  /** The branch head's live rows (audits read here). `fileCol` keeps
    * each row's data-file name.
    */
  def readBranch(spark: SparkSession, dir: String, name: String,
      fileCol: Option[String] = None): DataFrame =
    readManifest(spark, dir, branchHead(spark, dir, name)._1, fileCol)

  /** Append-only branch commit — [[append]] on the branch lineage:
    * main readers cannot see it. A PARTITIONED BY table's branch
    * staging writes under the declared spec (q316): staged files carry
    * `#pfile` tags in the BRANCH manifest, so audits prune while
    * reading the branch AND the published files prune on main — without
    * this, a fast_forward/cherry_pick would silently lay untagged files
    * into the declared layout (the exact hole q308 closed for
    * streaming). Returns the branch-local sequence number.
    */
  def appendToBranch(df: DataFrame, dir: String, name: String): Long =
    append(df, dir, partitionSpecOf(df.sparkSession, dir), Branch(name))

  private final class AlreadyPublished(val v: Long) extends RuntimeException

  /** PUBLISH: one main commit whose state is the branch head's, valid
    * only while main still sits at the branch's base (the fast-forward
    * ancestor rule — a diverged main fails loudly, nothing moves). The
    * branch drop rides the SAME ledger slot as the publish (the
    * epilogue), so a branch append can never slip between publish and
    * cleanup and be silently deleted; a crash BETWEEN the manifest
    * rename and the cleanup is healed by re-running fast_forward —
    * the re-run detects that main's head already IS the branch head
    * (content identity) and just finishes the drop, idempotently.
    * Returns the published main version.
    */
  def fastForward(spark: SparkSession, dir: String, name: String): Long =
    try commitManifest(spark, dir,
      epilogue = () => dropBranchInternal(spark, dir, name)) { _ =>
      val base = branches(spark, dir).getOrElse(name,
        throw new IllegalArgumentException(s"no branch '$name' on $dir"))
      val cur = versions(spark, dir).last
      val (head, k) = branchHead(spark, dir, name)
      if (cur != base) {
        val curM = manifestOf(spark, dir, cur)
        // SET comparison (changes stay ordered — they are a lineage):
        // heal detection must be content identity, not render order, so
        // a future manifest normalization (sorted entries, shard
        // regrouping) can never break it into a spurious 'main moved'
        if (curM.changes == head.changes &&
          curM.entries.toSet == head.entries.toSet &&
          curM.dvs.toSet == head.dvs.toSet &&
          curM.ptags.toSet == head.ptags.toSet)
          // a previous publish crashed before its cleanup — finish it
          throw new AlreadyPublished(cur)
        throw new java.util.ConcurrentModificationException(
          s"fast_forward('$name') on $dir: main moved from $base to $cur " +
            "since the branch was cut — re-branch from the new head and " +
            "replay the audit writes")
      }
      require(k > 0,
        s"branch '$name' has no writes to publish — drop it instead")
      Manifest(head.changes, head.entries,
        dvs = head.dvs, ptags = head.ptags, fstats = head.fstats)
    } catch {
      case ap: AlreadyPublished => dropBranch(spark, dir, name); ap.v
    }

  /** CHERRY-PICK: publish a branch's APPEND-ONLY delta onto a main
    * that has MOVED since the branch was cut — the path
    * [[fastForward]] refuses (q314, Iceberg's cherrypick_snapshot
    * shape). Sound because an append-only delta is a set of files no
    * other lineage references: the new main commit is current head +
    * the branch's added entries (with their ptags and stats, each file
    * keeping its OWN schema era so mixed-era reads work unchanged).
    * Conflicts fail loudly, nothing moves:
    *   - a branch that REWROTE or DELETED base state (a q309 branch
    *     DELETE, or any dv change) is not an append-only delta — its
    *     retirements were decided against a base main no longer has
    *     (same-file touch); fast_forward from an undiverged main or
    *     re-stage;
    *   - a main whose schema lineage no longer EXTENDS the branch
    *     base's (a REPLACE reset, vs. appended evolution commits
    *     which are fine — era recipes map the delta's files).
    * The branch drops in the publish's epilogue slot (the
    * [[fastForward]] crash contract: a re-run that finds the delta
    * already on main finishes the drop idempotently).
    */
  def cherryPick(spark: SparkSession, dir: String, name: String): Long =
    try commitManifest(spark, dir,
      epilogue = () => dropBranchInternal(spark, dir, name)) { base =>
      val baseV = branches(spark, dir).getOrElse(name,
        throw new IllegalArgumentException(s"no branch '$name' on $dir"))
      val (head, k) = branchHead(spark, dir, name)
      require(k > 0,
        s"branch '$name' has no writes to publish — drop it instead")
      val branchBase = manifestOf(spark, dir, baseV)
      val baseEntries = branchBase.entries.toSet
      require(branchBase.entries.forall(e => head.entries.contains(e)) &&
        head.dvs == branchBase.dvs && head.changes == branchBase.changes,
        s"cherry_pick('$name') on $dir: the branch rewrote, deleted, or " +
          "evolved base state — only append-only branch deltas " +
          "cherry-pick onto a moved main (those verbs publish via " +
          "fast_forward from an undiverged main, or re-stage)")
      val delta = head.entries.filterNot(baseEntries)
      val deltaNames = delta.map(_._1).toSet
      val mainFiles = base.entries.map(_._1).toSet
      if (delta.forall(e => mainFiles(e._1)))
        // a previous publish crashed before its cleanup — finish it
        throw new AlreadyPublished(versions(spark, dir).last)
      def lineageConflict(what: String): Nothing =
        throw new IllegalArgumentException(
          s"cherry_pick('$name') on $dir: main's schema lineage no " +
            s"longer covers the branch base's ($what) — a REPLACE or an " +
            "unprovable evolution happened since the cut; re-branch and " +
            "re-stage")
      // the delta's files are readable under CURRENT main iff (a)
      // main's change list EXTENDS the branch base's (appended
      // evolution commits — era recipes then map the delta's era
      // exactly), and (b) the era-mapped physical column set of the
      // CURRENT schema equals the branch base's logical schema, up to
      // lossless widening. (b) is what catches a REPLACE: it resets
      // the change list to empty — indistinguishable from the common
      // never-evolved case by (a) alone — while silently swapping the
      // base schema underneath the delta's files.
      if (base.changes.take(branchBase.changes.size) != branchBase.changes)
        lineageConflict("the change lists diverge")
      val curFields = schemaOf(spark, dir, base).fields.toSeq
      val mapped = eraRecipes(base.changes,
        curFields.map(f => (f.name, f.dataType)))(branchBase.changes.size)
        .filter(_._2.nonEmpty) // columns added after the cut read NULL
        .map(r => r._2 -> r._3).toMap
      val want = schemaOf(spark, dir, branchBase).fields.toSeq
        .map(f => f.name -> f.dataType.catalogString).toMap
      if (mapped.keySet != want.keySet ||
        !want.forall { case (n, t) =>
          mapped(n) == t || isLosslessWidening(
            org.apache.spark.sql.types.DataType.fromDDL(t),
            org.apache.spark.sql.types.DataType.fromDDL(mapped(n)))
        })
        lineageConflict(s"the delta carries ${want.toSeq.sorted
          .mkString(", ")}, current main expects ${mapped.toSeq.sorted
          .mkString(", ")} at the cut's era")
      Manifest(base.changes,
        base.entries ++ delta,
        dvs = base.dvs,
        ptags = base.ptags ++ head.ptags.filter(t => deltaNames(t._1)),
        // the delta's stats carry from the branch manifest — no
        // footer re-read at publish
        fstats = head.fstats.filter(kv => deltaNames(kv._1)))
    } catch {
      case ap: AlreadyPublished => dropBranch(spark, dir, name); ap.v
    }

  private def dropBranchInternal(spark: SparkSession, dir: String,
      name: String): Unit = {
    val fs = fsOf(spark, dir)
    val b = branches(spark, dir)
    require(b.contains(name), s"no branch '$name' on $dir " +
      s"(have ${b.keys.toSeq.sorted.mkString(", ")})")
    val lineage = Branch(name)
    lineage.points(spark, dir).foreach(k => fs.delete(
      new org.apache.hadoop.fs.Path(manifestDir(dir), lineage.fileName(k)), false))
    writeBranches(spark, dir, b - name)
  }

  /** Abandon a branch: the ref and its manifests go; unpublished
    * branch-only data files become aged-vacuum orphans.
    */
  def dropBranch(spark: SparkSession, dir: String, name: String): Unit =
    Lake.withCommit(spark, dir)(dropBranchInternal(spark, dir, name))

  /** Retention: keep the newest `keepVersions` manifests, delete older
    * manifests and every data file only they referenced; crashed
    * writers' orphans — files NO manifest (kept or dropped) lists —
    * are deleted only once older than `orphanAgeMs` (Delta's
    * tombstone-retention pattern). The age guard exists because
    * create/append/upsert land data files under `dir/data` BEFORE the
    * manifest commit: a young unreferenced file may belong to an
    * in-flight writer, and deleting it would leave that writer's
    * about-to-land manifest pointing at nothing. Files referenced by a
    * DROPPED manifest carry no such risk (they were committed, and
    * their only referents are the manifests this same pass deletes),
    * so they go immediately. The whole pass runs inside
    * [[Lake.withCommit]]: the manifest set is stable between the
    * reachability computation and the deletes, and no concurrent
    * commit can interleave. Returns (manifestsRemoved,
    * dataFilesRemoved).
    */
  def vacuum(spark: SparkSession, dir: String, keepVersions: Int,
      orphanAgeMs: Long = 24L * 3600 * 1000): (Int, Int) =
    Lake.withCommit(spark, dir) {
      val fs = fsOf(spark, dir)
      val vs = versions(spark, dir)
      // TAGGED versions are PINNED (the Iceberg tag-retention rule): a
      // named ref must keep resolving until the tag is dropped, so the
      // keep set is the newest K plus every tagged version — plus
      // every BRANCH BASE (an unwritten branch's head IS its base
      // manifest, and a written one maps eras against it)
      val pinned = tags(spark, dir).values.toSet ++
        branches(spark, dir).values.toSet
      val keepSet = vs.takeRight(keepVersions).toSet ++ pinned.filter(vs.contains)
      val dropped = vs.filterNot(keepSet)
      val kept = vs.filter(keepSet)
      // resolve BOTH sides' manifests (incl. shard refs) BEFORE deleting;
      // BRANCH manifests are live roots too — an unpublished audit's
      // files and shards must survive retention
      val keptManifests = kept.map(manifestOf(spark, dir, _)) ++
        branches(spark, dir).keys.toSeq.map(Branch).flatMap(b =>
          b.points(spark, dir).map(b.manifestAt(spark, dir, _)))
      val droppedManifests = dropped.map(manifestOf(spark, dir, _))
      // DV sidecars live in data/ and are reachable through #dv lines —
      // they follow exactly the data files' retention rule
      val live: Set[String] =
        keptManifests.flatMap(m =>
          m.entries.map(_._1) ++ m.dvs.map(_.file)).toSet
      val droppedRefs: Set[String] =
        droppedManifests.flatMap(m =>
          m.entries.map(_._1) ++ m.dvs.map(_.file)).toSet -- live
      val liveShards: Set[String] =
        keptManifests.flatMap(_.shards.map(_._1)).toSet
      val droppedShards: Set[String] =
        droppedManifests.flatMap(_.shards.map(_._1)).toSet
      dropped.foreach { v =>
        fs.delete(new org.apache.hadoop.fs.Path(
          manifestDir(dir), Main.fileName(v)), false)
      }
      val cutoff = System.currentTimeMillis() - orphanAgeMs
      // shard files follow the data files' rule: referenced only by
      // dropped manifests → delete now; referenced by nothing → an
      // in-flight committer's shard until the age bar passes
      val deadShards = fs.listStatus(manifestDir(dir)).toSeq.filter { s =>
        val name = s.getPath.getName
        name.startsWith("s-") && name.endsWith(".shard") &&
          !liveShards(name) &&
          (droppedShards(name) || s.getModificationTime < cutoff)
      }
      deadShards.foreach(s => fs.delete(s.getPath, false))
      val dataDir = new org.apache.hadoop.fs.Path(dir, "data")
      val dead =
        if (!fs.exists(dataDir)) Seq.empty
        else fs.listStatus(dataDir).toSeq.filter { s =>
          val name = s.getPath.getName
          !live(name) && (droppedRefs(name) || s.getModificationTime < cutoff)
        }
      dead.foreach(s => fs.delete(s.getPath, false))
      (dropped.size, dead.size)
    }
}

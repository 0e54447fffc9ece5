package perfbench

import scala.collection.immutable.TreeMap
import scala.collection.mutable

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.sources.Versioned

/** A row of the lake table: a unique row key plus five lineitem columns. */
final case class LakeRow(rk: Long, ok: Long, pk: Long, qty: Double, price: Double, flag: String)

/** The `lake_ops` workload: commits and reads on one versioned table,
  * through the `Versioned` API and through SQL on `GraftCatalog`. Each
  * pass creates a fresh table from the lineitem input and then alternates
  * every commit type with a read, in a fixed order; the seed picks the key
  * ranges, slices and time-travel targets.
  *
  * A closed-form model replays each commit on a plain sorted map as the
  * op is generated, so every version the table passes through is known
  * without asking the table. Verification re-issues each read with its
  * version pinned and compares a row fingerprint with the model's.
  */
final class LakeOps extends Workload {
  import LakeOps._

  val name = "lake_ops"

  private var baseRows: Vector[LakeRow] = Vector.empty

  /** Reads of the timed window, re-issued by [[verify]]. */
  private final case class ReadRec(op: Op, modelVersion: Int, reissue: () => DataFrame,
      range: Option[(Long, Long)])
  private final class PassState(val dir: String, val ident: String) {
    val model = mutable.ArrayBuffer.empty[TreeMap[Long, LakeRow]]
    /** Table version per model version, filled in as commits run. */
    val version = mutable.Map.empty[Int, Long]
    val reads = mutable.ArrayBuffer.empty[ReadRec]
    val histories = mutable.ArrayBuffer.empty[Op]
    var userBytes = 0.0
    def latest: TreeMap[Long, LakeRow] = model.last
  }
  private val passes = mutable.Map.empty[Int, PassState]

  override def prepare(spark: SparkSession, env: Env): Unit = {
    if (baseRows.isEmpty) baseRows = source(s"${env.data}/lineitem.parquet")
    passes.clear()
  }

  def pass(spark: SparkSession, env: Env, rnd: scala.util.Random, passNo: Int): Iterator[Op] = {
    val ns = if (passNo < 0) s"w${-passNo}" else s"p$passNo"
    val st = new PassState(new java.io.File(env.lake, s"$ns/t").getAbsolutePath,
      s"$Catalog.$ns.t")
    if (passNo >= 0) passes(passNo) = st
    var nextKey = baseRows.map(_.rk).max + 1
    def fresh(n: Int): Seq[LakeRow] = (0 until n).map { _ =>
      val k = nextKey
      nextKey += 1 + rnd.nextInt(3)
      randomRow(rnd, k)
    }
    Iterator.single(createOp(spark, st)) ++ Sequence.iterator.map { kind =>
      if (CommitKinds.contains(kind)) commitOp(spark, st, kind, rnd, fresh)
      else readOp(spark, st, kind, rnd)
    }
  }

  private def createOp(spark: SparkSession, st: PassState): Op = {
    st.model += TreeMap.from(baseRows.map(r => r.rk -> r))
    st.userBytes += baseRows.size * RowBytes
    Op("create", "commit") { ctx =>
      import ctx.spark.implicits._
      val df = baseRows.toDS().toDF().repartitionByRange(8, col("rk")).sortWithinPartitions("rk")
      st.version(0) = ctx.layer("sources.commit.create")(Versioned.create(df, st.dir))
    }
  }

  /** A key range of about `n` live keys, starting at a random live key. */
  private def range(m: TreeMap[Long, LakeRow], rnd: scala.util.Random, n: Int): (Long, Long) = {
    val keys = m.keysIterator.toIndexedSeq
    val i = rnd.nextInt(keys.size)
    (keys(i), keys(math.min(keys.size - 1, i + n - 1)))
  }

  private def commitOp(spark: SparkSession, st: PassState, kind: String,
      rnd: scala.util.Random, fresh: Int => Seq[LakeRow]): Op = {
    val before = st.latest
    val mv = st.model.size // the model version this commit produces
    def commit(after: TreeMap[Long, LakeRow], changedRows: Int)(run: OpCtx => Long): Op = {
      st.model += after
      st.userBytes += changedRows * RowBytes
      Op(kind, "commit") { ctx =>
        st.version(mv) = ctx.layer(s"sources.commit.$kind")(run(ctx))
      }
    }
    def frame(ctx: OpCtx, rows: Seq[LakeRow]): DataFrame = {
      import ctx.spark.implicits._
      rows.toDS().toDF()
    }
    def latestVersion(ctx: OpCtx): Long = Versioned.latestVersion(ctx.spark, st.dir).get
    def sql(ctx: OpCtx, rows: Seq[LakeRow], text: String): Long = {
      if (rows.nonEmpty) frame(ctx, rows).createOrReplaceTempView("perfbench_src")
      ctx.spark.sql(text)
      latestVersion(ctx)
    }
    def inRange(lo: Long, hi: Long): Column = col("rk").between(lo, hi)
    kind match {
      case "append" =>
        val rows = fresh(200)
        commit(before ++ rows.map(r => r.rk -> r), rows.size)(ctx =>
          Versioned.append(frame(ctx, rows), st.dir))
      case "upsert" =>
        val (lo, hi) = range(before, rnd, 300)
        val changed = before.range(lo, hi + 1).values.filter(_ => rnd.nextInt(2) == 0)
          .map(r => randomRow(rnd, r.rk)).toSeq
        val rows = changed ++ fresh(50)
        commit(before ++ rows.map(r => r.rk -> r), rows.size)(ctx =>
          Versioned.upsert(ctx.spark, st.dir, "rk", frame(ctx, rows)))
      case "delete_where" =>
        val (lo, hi) = range(before, rnd, 100)
        commit(before -- before.range(lo, hi + 1).keys, 0)(ctx =>
          Versioned.deleteWhere(ctx.spark, st.dir, inRange(lo, hi)))
      case "delete_keys_mor" =>
        val keys = before.keysIterator.toIndexedSeq
        val del = Seq.fill(50)(keys(rnd.nextInt(keys.size))).distinct
        commit(before -- del, 0)(ctx => {
          import ctx.spark.implicits._
          Versioned.deleteKeysMor(ctx.spark, st.dir, "rk", del.toDF("rk"))
        })
      case "overwrite_where" =>
        val (lo, hi) = range(before, rnd, 200)
        val rows = (lo to hi by 2).map(k => randomRow(rnd, k))
        commit(before -- before.range(lo, hi + 1).keys ++ rows.map(r => r.rk -> r), rows.size)(ctx =>
          Versioned.overwriteWhere(frame(ctx, rows), st.dir, inRange(lo, hi),
            Seq.empty, Seq.empty, _ => false))
      case "optimize" =>
        commit(before, 0)(ctx => Versioned.optimize(ctx.spark, st.dir, 4))
      case "sql_insert" =>
        val rows = fresh(100)
        commit(before ++ rows.map(r => r.rk -> r), rows.size)(ctx =>
          sql(ctx, rows, s"INSERT INTO ${st.ident} SELECT * FROM perfbench_src"))
      case "sql_update" =>
        val (lo, hi) = range(before, rnd, 150)
        val q = (1 + rnd.nextInt(50)).toDouble
        val upd = before.range(lo, hi + 1).values.map(_.copy(qty = q, flag = "U")).toSeq
        commit(before ++ upd.map(r => r.rk -> r), upd.size)(ctx =>
          sql(ctx, Nil, s"UPDATE ${st.ident} SET qty = $q, flag = 'U' WHERE rk BETWEEN $lo AND $hi"))
      case "sql_merge" =>
        val (lo, hi) = range(before, rnd, 100)
        val rows = before.range(lo, hi + 1).values.map(r => randomRow(rnd, r.rk)).toSeq ++ fresh(50)
        commit(before ++ rows.map(r => r.rk -> r), rows.size)(ctx =>
          sql(ctx, rows, s"""MERGE INTO ${st.ident} t USING perfbench_src s ON t.rk = s.rk
            |WHEN MATCHED THEN UPDATE SET *
            |WHEN NOT MATCHED THEN INSERT *""".stripMargin))
      case "sql_delete" =>
        val (lo, hi) = range(before, rnd, 100)
        commit(before -- before.range(lo, hi + 1).keys, 0)(ctx =>
          sql(ctx, Nil, s"DELETE FROM ${st.ident} WHERE rk BETWEEN $lo AND $hi"))
    }
  }

  private def readOp(spark: SparkSession, st: PassState, kind: String,
      rnd: scala.util.Random): Op = {
    val mv = st.model.size - 1
    val (lo, hi) = range(st.latest, rnd, 500)
    val past = rnd.nextInt(st.model.size)
    def read(modelVersion: Int, rng: Option[(Long, Long)])(
        build: OpCtx => (DataFrame, () => DataFrame)): Op = {
      lazy val op: Op = Op(kind, "read") { ctx =>
        val (df, reissue) = ctx.layer("sources.resolve")(build(ctx))
        ctx.materialize(df)
        st.reads += ReadRec(op, modelVersion, reissue, rng)
      }
      op
    }
    def between(df: DataFrame): DataFrame = df.filter(col("rk").between(lo, hi))
    kind match {
      case "read" => read(mv, None) { ctx =>
        val ver = st.version(mv)
        (Versioned.read(ctx.spark, st.dir), () => Versioned.readVersion(ctx.spark, st.dir, ver))
      }
      case "read_version" => read(past, None) { ctx =>
        val ver = st.version(past)
        (Versioned.readVersion(ctx.spark, st.dir, ver), () => Versioned.readVersion(ctx.spark, st.dir, ver))
      }
      case "read_stats_skipping" => read(mv, Some((lo, hi))) { ctx =>
        val ver = st.version(mv)
        val (df, kept, total) = Versioned.readStatsSkipping(ctx.spark, st.dir, ver, "rk", lo, hi)
        ctx.filesKept = Some((kept, total))
        (df, () => Versioned.readStatsSkipping(ctx.spark, st.dir, ver, "rk", lo, hi)._1)
      }
      case "read_range_skipping" => read(past, Some((lo, hi))) { ctx =>
        val ver = st.version(past)
        val (df, kept, total) = Versioned.readRangeSkipping(ctx.spark, st.dir, ver, "rk", lo, hi)
        ctx.filesKept = Some((kept, total))
        (df, () => Versioned.readRangeSkipping(ctx.spark, st.dir, ver, "rk", lo, hi)._1)
      }
      case "sql_select" => read(mv, Some((lo, hi))) { ctx =>
        val ver = st.version(mv)
        (ctx.spark.sql(s"SELECT * FROM ${st.ident} WHERE rk BETWEEN $lo AND $hi"),
          () => ctx.spark.sql(s"SELECT * FROM ${st.ident} VERSION AS OF $ver WHERE rk BETWEEN $lo AND $hi"))
      }
      case "sql_time_travel" => read(past, Some((lo, hi))) { ctx =>
        val ver = st.version(past)
        val text = s"SELECT * FROM ${st.ident} VERSION AS OF $ver WHERE rk BETWEEN $lo AND $hi"
        (ctx.spark.sql(text), () => ctx.spark.sql(text))
      }
      case "history" =>
        lazy val op: Op = Op(kind, "read") { ctx =>
          ctx.layer("sources.resolve")(Versioned.history(ctx.spark, st.dir))
          st.histories += op
        }
        op
    }
  }

  override def endPass(spark: SparkSession, env: Env, passNo: Int): Map[String, Double] =
    passes.get(passNo).map { st =>
      val onDisk = bytesUnder(new java.io.File(st.dir))
      val live = liveBytes(st.dir)
      Map("write_amp" -> onDisk / st.userBytes, "space_amp" -> (if (live > 0) onDisk / live else 0.0))
    }.getOrElse(Map.empty)

  def verify(spark: SparkSession, env: Env, done: Seq[Done]): Seq[(Int, String)] = {
    val idOf = done.map(d => (d.op: AnyRef) -> d.id).toMap
    passes.toSeq.sortBy(_._1).flatMap { case (_, st) =>
      def check(id: Int, what: String, model: Iterable[LakeRow], actual: => DataFrame): Option[(Int, String)] = {
        val want = fingerprint(model)
        scala.util.Try(fingerprint(actual)) match {
          case scala.util.Success(got) if got == want => None
          case scala.util.Success(got) => Some(id -> s"$what: got $got, model $want")
          case scala.util.Failure(e) => Some(id -> s"$what: $e")
        }
      }
      val reads = st.reads.toSeq.flatMap { r =>
        val m = st.model(r.modelVersion)
        val rows = r.range.fold(m.values)(lh => m.range(lh._1, lh._2 + 1).values)
        idOf.get(r.op).flatMap(id => check(id, s"${r.op.name} of model v${r.modelVersion}", rows, r.reissue()))
      }
      val histories = st.histories.toSeq.flatMap { op =>
        val id = idOf.getOrElse(op, -1)
        val got = scala.util.Try(Versioned.history(spark, st.dir).map(h => h._1 -> h._3).toMap)
        st.version.toSeq.flatMap { case (mv, ver) =>
          val want = st.model(mv).size.toLong
          got.toOption.flatMap(_.get(ver)) match {
            case Some(`want`) => None
            case other => Some(id -> s"history rows of v$ver: $other, model $want")
          }
        }.take(1)
      }
      // the final table, replayed in closed form
      val lastId = done.filter(d => passes.get(d.pass).contains(st)).map(_.id).maxOption.getOrElse(-1)
      val last = st.model.size - 1
      val fin = st.version.get(last).flatMap(ver =>
        check(lastId, "final table", st.model(last).values, Versioned.readVersion(spark, st.dir, ver)))
      reads ++ histories ++ fin
    }
  }
}

object LakeOps {
  val Catalog = "perfbench"
  /** Logical width of one row: five 8-byte columns and a 1-byte flag. */
  val RowBytes = 41.0

  val CommitKinds: Seq[String] = Seq("append", "upsert", "delete_where", "delete_keys_mor",
    "overwrite_where", "optimize", "sql_insert", "sql_update", "sql_merge", "sql_delete")

  /** One pass after the create: every commit type once, with the reads in
    * between. The order is fixed so every seed does the same kind of work.
    * The merge-on-read delete comes late, so one read pays for its
    * sidecars before `optimize` compacts them away.
    */
  val Sequence: Seq[String] = Seq(
    "append", "read", "upsert", "read_stats_skipping", "delete_where", "sql_select",
    "sql_insert", "read_version", "sql_update", "history", "overwrite_where",
    "sql_time_travel", "sql_merge", "sql_delete", "delete_keys_mor",
    "read_range_skipping", "optimize", "read")

  private val Flags = Array("A", "N", "R", "U")

  /** The lineitem rows, keyed by their rank in (orderkey, linenumber,
    * partkey, suppkey) order, which is unique in the input. Read with the
    * plain parquet reader: the model's input needs no Spark job.
    */
  def source(path: String): Vector[LakeRow] = {
    val reader = org.apache.parquet.hadoop.ParquetReader
      .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(),
        new org.apache.hadoop.fs.Path(path))
      .build()
    val rows = Vector.newBuilder[(Long, Int, Long, Long, Double, Double, String)]
    try {
      var g = reader.read()
      while (g != null) {
        rows += ((g.getLong("l_orderkey", 0), g.getInteger("l_linenumber", 0),
          g.getLong("l_partkey", 0), g.getLong("l_suppkey", 0), g.getDouble("l_quantity", 0),
          g.getDouble("l_extendedprice", 0), g.getString("l_returnflag", 0)))
        g = reader.read()
      }
    } finally reader.close()
    rows.result().sortBy(r => (r._1, r._2, r._3, r._4)).zipWithIndex.map { case (r, i) =>
      LakeRow(i + 1L, r._1, r._3, r._5, r._6, r._7)
    }
  }

  /** New values are multiples of 1/4, exact in binary floating point. */
  def randomRow(rnd: scala.util.Random, rk: Long): LakeRow =
    LakeRow(rk, rk / 8, 1 + rnd.nextInt(2000), (1 + rnd.nextInt(50)).toDouble,
      rnd.nextInt(400000) / 4.0, Flags(rnd.nextInt(Flags.length)))

  private val M = 2147483647L
  private def modM(x: Long): Long = ((x % M) + M) % M

  /** (rows, Σ f, Σ f² mod M) of the row function f below: order-insensitive. */
  def fingerprint(rows: Iterable[LakeRow]): (Long, Long, Long) = {
    var n = 0L; var s = 0L; var s2 = 0L
    rows.foreach { r =>
      val f = r.rk * 1000003L + r.ok * 7919L + r.pk * 31L + (r.qty * 100).toLong * 17L +
        (r.price * 100).toLong * 13L + r.flag.charAt(0).toLong
      n += 1; s += f; s2 += modM(modM(f) * modM(f))
    }
    (n, s, s2)
  }

  def fingerprint(df: DataFrame): (Long, Long, Long) = {
    val f = col("rk") * 1000003L + col("ok") * 7919L + col("pk") * 31L +
      (col("qty") * 100).cast("bigint") * 17L + (col("price") * 100).cast("bigint") * 13L +
      ascii(col("flag")).cast("bigint")
    val r = df.select(f.as("f"))
      .select(col("f"), pmod(pmod(col("f"), lit(M)) * pmod(col("f"), lit(M)), lit(M)).as("f2"))
      .agg(count(lit(1)), sum("f"), sum("f2")).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  def bytesUnder(f: java.io.File): Double =
    if (f.isFile) f.length.toDouble
    else Option(f.listFiles()).map(_.map(bytesUnder).sum).getOrElse(0.0)

  /** Bytes of the files the latest manifest lists: data files and delete
    * sidecars (manifest lines `file<TAB>rows…` and `#dv<TAB>gen<TAB>key<TAB>file…`).
    */
  def liveBytes(dir: String): Double = {
    val md = new java.io.File(dir, "_manifests")
    val latest = Option(md.listFiles()).map(_.toSeq).getOrElse(Nil)
      .filter(f => f.getName.matches("""v\d+\.manifest""")).sortBy(_.getName).lastOption
    latest.map { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val files = try src.getLines().toList.flatMap { l =>
        l.split("\t").toList match {
          case "#dv" :: _ :: _ :: file :: _ => Some(file)
          case h :: _ if h.startsWith("#") => None
          case file :: _ if file.nonEmpty => Some(file)
          case _ => None
        }
      } finally src.close()
      files.map(n => bytesUnder(new java.io.File(s"$dir/data/$n"))).sum
    }.getOrElse(0.0)
  }
}

package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Where one run keeps its state. Every directory is created fresh under
  * the run root and removed when the run ends.
  */
final class Env(val root: java.io.File, val data: String, val cores: Int) {
  def dir(name: String): java.io.File = {
    val d = new java.io.File(root, name)
    d.mkdirs()
    d
  }
  def tmp: java.io.File = dir("tmp")
  def lake: java.io.File = dir("lake")
}

/** The op currently running: its id, the session, and (in the traced run)
  * the span recorder. Ops report the layers they cross through [[layer]].
  */
final class OpCtx(val spark: SparkSession, val id: Int, val tracer: Option[Tracer]) {
  /** Time spent materializing a read's rows, for the read-latency samples. */
  var readNs: Long = -1L
  /** (files kept, files total) of a skipping read. */
  var filesKept: Option[(Int, Int)] = None

  def layer[A](name: String)(body: => A): A = tracer match {
    case Some(t) => t.span(id, name)(body)
    case None => body
  }

  /** Full materialization: every output column of every row is produced
    * and dropped by the `noop` sink. The traced run first forces the
    * physical plan, so planning time shows as its own layer.
    */
  def materialize(df: DataFrame): Unit = {
    if (tracer.isDefined) layer("plans.plan")(df.queryExecution.executedPlan)
    val t0 = System.nanoTime()
    layer("exec.materialize")(df.write.format("noop").mode("overwrite").save())
    readNs = System.nanoTime() - t0
  }
}

/** One operation of a workload. `kind` is `read`, `commit` or `gate`. */
final case class Op(name: String, kind: String)(val body: OpCtx => Unit)

/** A finished op of the timed window. */
final case class Done(op: Op, id: Int, pass: Int, startNs: Long, endNs: Long,
    startMs: Long, endMs: Long, readNs: Long, filesKept: Option[(Int, Int)],
    error: Option[String]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** A benchmark workload: a closed loop of ops issued by one client thread. */
trait Workload {
  def name: String

  /** Stage this session's inputs. Called once per set-up round. */
  def prepare(spark: SparkSession, env: Env): Unit = ()

  /** The ops of one pass (`passNo` -1 is the warm-up pass), in the order
    * the seed gives. Generated lazily, so an op may depend on the state the
    * previous ones left.
    */
  def pass(spark: SparkSession, env: Env, rnd: scala.util.Random, passNo: Int): Iterator[Op]

  /** The untimed warm-up pass of the set-up: every op once. A failure
    * here is only logged; the same op fails again, and counts, when timed.
    */
  def warmUp(spark: SparkSession, env: Env, rnd: scala.util.Random): Unit =
    pass(spark, env, rnd, -1).foreach { op =>
      val t = System.nanoTime()
      val err = scala.util.Try(op.body(new OpCtx(spark, -1, None))).failed.toOption
      System.err.println(f"[perfbench] warm ${op.name}%-28s ${(System.nanoTime() - t) / 1e9}%7.3f s" +
        err.fold("")(e => s" FAILED: $e"))
    }

  /** Per-pass figures taken once the pass ends (unit, value). */
  def endPass(spark: SparkSession, env: Env, passNo: Int): Map[String, Double] = Map.empty

  /** Untimed check of the window's outputs: (op id, reason) per mismatch. */
  def verify(spark: SparkSession, env: Env, done: Seq[Done]): Seq[(Int, String)]
}

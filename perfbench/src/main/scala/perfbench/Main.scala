package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. `run.py` builds it and starts one JVM per run:
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *     --root RUN_ROOT --data DIR --expected FILE
  *     --jvm-t0-ms EPOCH_MS --out RESULT_JSON [--trace-out SPANS_JSONL]
  *     [--source DIGEST]
  *
  * A run: set up (fresh session and roots, inputs staged, one untimed
  * warm-up pass); then closed-loop passes of the workload's ops for S
  * seconds, each op timed to full materialization; then an untimed check
  * of every output.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val mode = a.getOrElse("mode", "run")
    mode match {
      case "run" => run(a)
      case "record" => record(a)
      case other => throw new IllegalArgumentException(s"unknown mode $other")
    }
  }

  def session(env: Env): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${env.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", env.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", env.dir("spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", env.dir("warehouse").getAbsolutePath)
      .config(s"spark.sql.catalog.${LakeOps.Catalog}", "graft.sources.v2.GraftCatalog")
      .config(s"spark.sql.catalog.${LakeOps.Catalog}.warehouse", env.lake.getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def workload(name: String, expected: java.io.File): Workload = name match {
    case "batch_curate" => new QueryWorkload(name, QueryWorkload.batchCurate, "read",
      QueryWorkload.readExpected(expected))
    case "stream_gates" => new QueryWorkload(name, QueryWorkload.streamGates, "gate",
      QueryWorkload.readExpected(expected))
    case "lake_ops" => new LakeOps
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  private def jitMs(): Long = {
    val c = ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported) c.getTotalCompilationTime else 0L
  }

  def run(a: Map[String, String]): Unit = {
    val traced = a.getOrElse("trace", "0") == "1"
    if (traced) CountingFileSystem.install()
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val env = new Env(new java.io.File(a("root")), a("data"),
      Runtime.getRuntime.availableProcessors())
    val wl = workload(a("workload"), new java.io.File(a("expected")))
    val jvmT0Ms = a.get("jvm-t0-ms").map(_.toLong)
      .getOrElse(ManagementFactory.getRuntimeMXBean.getStartTime)

    // ---- set-up: JVM start to a warmed session: fresh roots, the session,
    // staged inputs and one untimed warm-up pass over every op.
    def since(what: String): Unit = System.err.println(
      f"[perfbench] $what at ${(System.currentTimeMillis() - jvmT0Ms) / 1e3}%.2f s")
    since("main")
    Isolation.resetState(env)
    val spark = session(env)
    since("session")
    wl.prepare(spark, env)
    since("inputs staged")
    wl.warmUp(spark, env, new scala.util.Random(seed * 31 + 1))
    Isolation.resetState(env)
    wl.prepare(spark, env)
    val setupS = (System.currentTimeMillis() - jvmT0Ms) / 1e3
    System.err.println(f"[perfbench] setup: $setupS%.2f s")

    // ---- timed window: closed-loop passes until `seconds` have elapsed.
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val fs0 = CountingFileSystem.snapshot()
    val gc0 = gcMs()
    val jit0 = jitMs()
    val done = mutable.ArrayBuffer.empty[Done]
    val passWalls = mutable.ArrayBuffer.empty[Double]
    val passFigures = mutable.ArrayBuffer.empty[Map[String, Double]]
    val windowStart = System.nanoTime()
    var passNo = 0
    var nextId = 0
    while (passNo == 0 || (System.nanoTime() - windowStart) / 1e9 < seconds) {
      val rnd = new scala.util.Random(seed * 1000003L + passNo)
      val p0 = System.nanoTime()
      wl.pass(spark, env, rnd, passNo).foreach { op =>
        val ctx = new OpCtx(spark, nextId, tracer)
        tracer.foreach(_.beginOp(ctx.id, op.name))
        val t0Ms = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val err =
          try { ctx.layer(s"op:${op.name}")(op.body(ctx)); None }
          catch { case e: Throwable => Some(e.toString.take(300)) }
        val t1 = System.nanoTime()
        val t1Ms = System.currentTimeMillis()
        tracer.foreach(_.endOp())
        System.err.println(f"[perfbench] op ${ctx.id}%3d ${op.name}%-24s ${(t1 - t0) / 1e9}%7.3f s" +
          err.fold("")(e => s" FAILED: $e"))
        done += Done(op, ctx.id, passNo, t0, t1, t0Ms, t1Ms, ctx.readNs, ctx.filesKept, err)
        nextId += 1
      }
      passWalls += (System.nanoTime() - p0) / 1e9
      passFigures += wl.endPass(spark, env, passNo)
      passNo += 1
    }
    val windowS = (System.nanoTime() - windowStart) / 1e9
    val gcS = (gcMs() - gc0) / 1e3
    val jitS = (jitMs() - jit0) / 1e3
    val fsDelta = CountingFileSystem.snapshot() - fs0
    tracer.foreach(_.detach())
    System.err.println(f"[perfbench] window: $passNo passes, ${done.size} ops, $windowS%.2f s")

    // ---- untimed verification of every output.
    val mismatches = wl.verify(spark, env, done.toSeq)
    mismatches.foreach { case (id, r) => System.err.println(s"[perfbench] op $id wrong: $r") }
    val failedIds = done.filter(_.error.isDefined).map(_.id).toSet ++ mismatches.map(_._1)
    val attempted = done.size
    val failed = failedIds.size

    val e2e = Report.endToEnd(setupS, passWalls.toSeq, done.toSeq, attempted, failed)
    val metrics =
      if (!traced) e2e
      else Report.perLayer(tracer.get, done.toSeq, passWalls.toSeq, passFigures.toSeq,
        env.cores, gcS, jitS, fsDelta)
    val result = Report.json(failed == 0, attempted, failed, metrics)
    val facts = Report.hostFacts(env, a, spark)
    tracer.foreach(t => a.get("trace-out").foreach(p => t.write(new java.io.File(p))))
    spark.stop()
    val out = new java.io.File(a("out"))
    java.nio.file.Files.write(out.toPath, (facts + "\n" + result + "\n").getBytes("UTF-8"))
  }

  /** Records the expected row count and hash of every query op. */
  def record(a: Map[String, String]): Unit = {
    val env = new Env(new java.io.File(a("root")), a("data"),
      Runtime.getRuntime.availableProcessors())
    val spark = session(env)
    val names = QueryWorkload.batchCurate ++ QueryWorkload.streamGates
    val lines = names.map { q =>
      val (n, h) = QueryWorkload.fingerprint(graft.SparkEntry.queries(q)(spark, env.data))
      System.err.println(s"[perfbench] $q $n $h")
      s"$q\t$n\t$h"
    }
    spark.stop()
    java.nio.file.Files.write(new java.io.File(a("expected")).toPath,
      ("# query\trows\torder-insensitive row hash (perfbench/data/sf0.01)\n" +
        lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Isolation {
  private def children(d: java.io.File): Seq[java.io.File] =
    Option(d.listFiles()).map(_.toSeq).getOrElse(Nil)

  /** Removes the tables and the engine's staging roots (streaming sinks
    * and checkpoints) but keeps the live session's scratch.
    */
  def resetState(env: Env): Unit = {
    children(env.lake).foreach(graft.engine.Staging.wipe)
    children(env.tmp).filter(_.getName.startsWith("graft-")).foreach(graft.engine.Staging.wipe)
  }
}

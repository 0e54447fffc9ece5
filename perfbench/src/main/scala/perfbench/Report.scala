package perfbench

import org.apache.spark.sql.SparkSession

/** Turns a run's samples into the reported metrics. */
object Report {
  type Metrics = Seq[(String, Double, String)] // (name, value, unit)

  /** Read-latency samples: a read op's whole wall time, a gate's read-back. */
  def readSamples(done: Seq[Done]): Seq[Double] = done.flatMap { d =>
    d.op.kind match {
      case "read" => Some(d.seconds)
      case "gate" if d.readNs >= 0 => Some(d.readNs / 1e9)
      case _ => None
    }
  }

  def endToEnd(setupS: Double, passWalls: Seq[Double], done: Seq[Done],
      attempted: Int, failed: Int): Metrics = Seq(
    ("setup_s", setupS, "s"),
    ("run_s", passWalls.min, "s"),
    ("op_geomean_s", Stats.geomean(Stats.slotBest(done.map(d => (d.pass, d.op.name, d.seconds)))), "s"),
    ("ok_frac", (attempted - failed).toDouble / attempted, "ratio"))

  val commitTypes: Seq[String] = "create" +: LakeOps.CommitKinds

  val streamPhases: Seq[(String, String)] = Seq(
    "latest_offset_s" -> "latestOffset", "get_batch_s" -> "getBatch",
    "query_planning_s" -> "queryPlanning", "add_batch_s" -> "addBatch",
    "wal_commit_s" -> "walCommit", "commit_offsets_s" -> "commitOffsets")

  def perLayer(t: Tracer, done: Seq[Done], passWalls: Seq[Double],
      passFigures: Seq[Map[String, Double]], cores: Int, gcS: Double, jitS: Double,
      fs: CountingFileSystem.Counts): Metrics = {
    val passes = passWalls.size.toDouble
    val spans = t.allSpans
    def spanS(pred: String => Boolean): Double =
      spans.filter(s => pred(s.name)).map(_.seconds).sum / passes
    val execs = done.map(d => d -> Option(t.exec.get(d.id)).getOrElse(new OpExec))
    def sum(f: OpExec => Double): Double = execs.map(x => f(x._2)).sum / passes
    val jobUnionMs = execs.map { case (d, x) =>
      Stats.unionLength(x.jobs.toSeq.map { case (s, e) =>
        (math.max(s, d.startMs), math.min(e, d.endMs))
      }).toDouble
    }.sum / passes
    val driverOnlyMs = execs.map { case (d, x) =>
      Stats.driverOnly(d.startMs, d.endMs, x.jobs.toSeq).toDouble
    }.sum / passes
    val taskMs = sum(_.taskMs.toDouble)
    val mb = 1024.0 * 1024.0
    val kept = done.flatMap(_.filesKept)
    val gates = done.filter(_.op.kind == "gate")
    val lifecycle = gates.map { d =>
      val build = spans.filter(s => s.op == d.id && s.name == "operators.build").map(_.seconds).sum
      val trig = Option(t.exec.get(d.id)).map(_.triggerMs.sum / 1e3).getOrElse(0.0)
      build - trig
    }.sum / passes
    val triggers = execs.flatMap(_._2.triggerMs.map(_ / 1e3))
    val commits = done.filter(_.op.kind == "commit").map(_.seconds)
    def p(xs: Seq[Double], q: Double): Stats.Tail =
      if (xs.isEmpty) Stats.Tail(0.0, 0, 0) else Stats.tail(xs, q)
    val readP50 = p(readSamples(done), 0.5)
    val readP90 = p(readSamples(done), 0.9)
    val commitP50 = p(commits, 0.5)
    val commitP90 = p(commits, 0.9)
    val batchP50 = p(triggers, 0.5)
    val batchP90 = p(triggers, 0.9)
    Seq(readP90 -> "read_p90_s", commitP90 -> "commit_p90_s", batchP90 -> "batch_p90_s")
      .filter { case (tl, _) => tl.n > 0 && !tl.reliable }
      .foreach { case (tl, n) =>
        System.err.println(s"[perfbench] $n flagged: ${tl.beyond} of ${tl.n} samples beyond it (< ${Stats.Tail.MinBeyond})")
      }
    def fig(k: String): Double =
      if (passFigures.isEmpty) 0.0 else Stats.median(passFigures.map(_.getOrElse(k, 0.0)))
    Seq(
      ("trace.run_s", passWalls.min, "s"),
      ("operators.build_s", spanS(_ == "operators.build"), "s"),
      ("plans.plan_s", spanS(_ == "plans.plan"), "s"),
      ("exec.job_s", jobUnionMs / 1e3, "s"),
      ("exec.driver_only_s", driverOnlyMs / 1e3, "s"),
      ("exec.jobs", sum(_.jobs.size.toDouble), "count"),
      ("exec.stages", sum(_.stages.toDouble), "count"),
      ("exec.tasks", sum(_.tasks.toDouble), "count"),
      ("exec.task_s", taskMs / 1e3, "s"),
      ("exec.task_cpu_s", sum(_.taskCpuNs / 1e9), "s"),
      ("exec.gc_s", sum(_.gcMs / 1e3), "s"),
      ("exec.core_util", if (jobUnionMs > 0) taskMs / (jobUnionMs * cores) else 0.0, "ratio"),
      ("exec.task_skew", execs.map(_._2.skew).maxOption.getOrElse(0.0), "ratio"),
      ("exec.shuffle_read_mb", sum(_.shuffleRead / mb), "MB"),
      ("exec.shuffle_write_mb", sum(_.shuffleWrite / mb), "MB"),
      ("exec.spill_mb", sum(_.spill / mb), "MB"),
      ("exec.input_mb", sum(_.input / mb), "MB"),
      ("exec.output_mb", sum(_.output / mb), "MB"),
      ("sources.resolve_s", spanS(_ == "sources.resolve"), "s"),
      ("sources.commit_s", spanS(_.startsWith("sources.commit.")), "s")) ++
    commitTypes.map(c => (s"sources.commit.${c}_s", spanS(_ == s"sources.commit.$c"), "s")) ++
    Seq(
      ("sources.files_kept_frac",
        if (kept.isEmpty) 0.0 else kept.map(_._1).sum.toDouble / math.max(1, kept.map(_._2).sum), "ratio"),
      ("fs.list_ops", fs.list / passes, "count"),
      ("fs.open_ops", fs.open / passes, "count"),
      ("fs.create_ops", fs.create / passes, "count"),
      ("fs.rename_ops", fs.rename / passes, "count"),
      ("fs.delete_ops", fs.delete / passes, "count"),
      ("fs.bytes_read", fs.bytesRead / passes, "B"),
      ("fs.bytes_written", fs.bytesWritten / passes, "B"),
      ("stream.batches", triggers.size / passes, "count")) ++
    streamPhases.map { case (n, k) => (s"stream.$n", sum(_.batchDurations(k) / 1e3), "s") } ++
    Seq(
      ("stream.state_commit_s", sum(_.stateCommitMs / 1e3), "s"),
      ("stream.lifecycle_s", lifecycle, "s"),
      ("jvm.gc_s", gcS / passes, "s"),
      ("jvm.jit_s", jitS / passes, "s"),
      ("read_p50_s", readP50.value, "s"),
      ("read_p90_s", readP90.value, "s"),
      ("read_p90_beyond", readP90.beyond.toDouble, "count"),
      ("commit_p50_s", commitP50.value, "s"),
      ("commit_p90_s", commitP90.value, "s"),
      ("commit_p90_beyond", commitP90.beyond.toDouble, "count"),
      ("write_amp", fig("write_amp"), "ratio"),
      ("space_amp", fig("space_amp"), "ratio"),
      ("batch_p50_s", batchP50.value, "s"),
      ("batch_p90_s", batchP90.value, "s"),
      ("batch_p90_beyond", batchP90.beyond.toDouble, "count"))
  }

  def json(correct: Boolean, attempted: Int, failed: Int, metrics: Metrics): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""" +
      metrics.map { case (n, v, u) =>
        s""""$n": {"value": ${Json.num(v)}, "unit": "$u"}"""
      }.mkString(", ") + "}}"

  /** Facts about the host and the run, stamped beside every result. */
  def hostFacts(env: Env, a: Map[String, String], spark: SparkSession): String = {
    val facts = Seq(
      "workload" -> a("workload"), "seed" -> a("seed"), "seconds" -> a("seconds"),
      "trace" -> a.getOrElse("trace", "0"),
      "nproc" -> Runtime.getRuntime.availableProcessors().toString,
      "cores_used" -> env.cores.toString,
      "sf" -> new java.io.File(env.data).getName.stripPrefix("sf"),
      "spark" -> spark.version, "jdk" -> System.getProperty("java.version"),
      "source" -> a.getOrElse("source", "unknown"))
    facts.map { case (k, v) => s""""$k": "${Json.esc(v)}"""" }.mkString("""{"host": {""", ", ", "}}")
  }
}

package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Per-query job-level profiler (guide §1: measure first): runs the named
  * queries warm (one untimed pass, then N timed passes) and prints, for
  * the LAST timed pass, every Spark job's wall-clock and description —
  * the local-mode equivalent of reading the UI's Jobs tab. Usage:
  *
  *   sbt "runMain graft.Profile q228_dedup_eval[,q216_prefix_join] [passes]"
  *
  * Reads SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS like Bench.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.getOrElse("q228_dedup_eval").split(",").toSeq
    val passes = args.lift(1).map(_.toInt).getOrElse(3)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.engine.LocalSession("WARN")

    final case class Job(id: Int, desc: String, start: Long, var end: Long)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(js.stageInfos.lastOption.map(_.name.take(120)))
          .getOrElse("")
        jobs.put(js.jobId, Job(js.jobId, desc, js.time, -1L))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        Option(jobs.get(je.jobId)).foreach(_.end = je.time)
    }
    final case class Stg(id: Int, name: String, ms: Long, tasks: Int)
    val stages = new java.util.concurrent.ConcurrentHashMap[Int, Stg]()
    val stageListener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val i = sc.stageInfo
        val ms = (for {a <- i.completionTime; b <- i.submissionTime}
          yield a - b).getOrElse(-1L)
        stages.put(i.stageId, Stg(i.stageId, i.name.take(200), ms, i.numTasks))
      }
    }
    spark.sparkContext.addSparkListener(stageListener)
    spark.sparkContext.addSparkListener(listener)

    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      fn(spark, sfDir).count() // warm
      var last = 0.0
      (1 to passes).foreach { p =>
        jobs.clear(); stages.clear()
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        last = (System.nanoTime() - t0) / 1e9
        println(f"[profile] $name pass $p: $last%.3f s, ${jobs.size} jobs")
      }
      import scala.jdk.CollectionConverters._
      val js = jobs.values.asScala.toSeq.sortBy(_.id)
      val total = js.map(j => math.max(0L, j.end - j.start)).sum
      println(f"[profile] $name LAST pass ${last}%.3f s; ${js.size} jobs, " +
        f"sum job wall ${total / 1e3}%.3f s (overlap possible)")
      js.foreach { j =>
        println(f"[profile]   job ${j.id}%4d ${math.max(0L, j.end - j.start)}%6d ms  ${j.desc.take(160)}")
      }
      import scala.jdk.CollectionConverters._
      stages.values.asScala.toSeq.sortBy(-_.ms).take(12).foreach { st =>
        println(f"[profile]   stage ${st.id}%4d ${st.ms}%6d ms ${st.tasks}%3d tasks  ${st.name.take(160)}")
      }
    }
    spark.stop()
  }
}

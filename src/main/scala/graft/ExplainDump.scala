package graft

import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for the named queries to files — the
  * round-16 plan evidence (`plans/r16/<query>_<suffix>.txt`). The plan is
  * captured POST-EXECUTION so AQE finalizes (same discipline as
  * PlanAudit); the formatted explain of the final plan is what the
  * optimization notes reference. Usage:
  *
  *   sbt "runMain graft.ExplainDump q228_dedup_eval,q216_prefix_join before [outDir]"
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.getOrElse("").split(",").filter(_.nonEmpty).toSeq
    require(names.nonEmpty, "usage: ExplainDump <q1,q2,...> <suffix> [outDir] [sfDir]")
    val suffix = args.lift(1).getOrElse("before")
    val outDir = args.lift(2).getOrElse("plans/r16")
    val sfDir = args.lift(3).getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val spark = graft.engine.LocalSession("ERROR")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.queryExecution.executedPlan.execute().count() // settle AQE
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      // the final (post-AQE) plan string as well: formatted mode prints
      // the initial plan for AdaptiveSparkPlan, the executed toString
      // carries the final one — keep both in the artifact
      val finalPlan = df.queryExecution.executedPlan.toString
      Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"),
        s"== explain(formatted), sf=$sfDir ==\n$formatted\n" +
          s"== final AQE plan (post-execution) ==\n$finalPlan\n")
      println(s"wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}

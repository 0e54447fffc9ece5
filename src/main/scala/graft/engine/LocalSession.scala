package graft.engine

import org.apache.spark.sql.SparkSession

/** The local session the mains (Bench, Verify, Profile, ExplainDump,
  * PlanAudit) run on: `local[cpus]` with one shuffle partition per core,
  * AQE on, UTC session time, no UI.
  */
object LocalSession {

  /** `SPARK_GRAFT_CPUS`, else every core on the host: a fixed default
    * would silently run a bench on a fraction of a large host.
    */
  private def defaultCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors().toString)

  def apply(logLevel: String, cpus: String = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}

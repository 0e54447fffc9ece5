package graft.engine

import org.apache.spark.sql.SparkSession

/** Session conf scoped to one body: the keys are set, the body runs,
  * and `finally` puts each key back as it was — its prior value, or
  * unset if it was unset — on failure paths too, so no scope leaks a
  * setting into a later query.
  */
object ScopedConf {
  def apply[A](spark: SparkSession, settings: (String, String)*)(
      body: => A): A = {
    val prior = settings.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      settings.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}

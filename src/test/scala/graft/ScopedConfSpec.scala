package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.ScopedConf

/** [[graft.engine.ScopedConf]] puts every key back as it was, on the
  * failure path too.
  */
class ScopedConfSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("a throwing body restores a set key and unsets an unset one") {
    val set = "graft.spec.scoped.set"
    val unset = "graft.spec.scoped.unset"
    spark.conf.set(set, "before")
    spark.conf.unset(unset)
    try {
      val thrown = intercept[IllegalStateException] {
        ScopedConf(spark, set -> "inside", unset -> "inside") {
          assert(spark.conf.get(set) == "inside")
          assert(spark.conf.get(unset) == "inside")
          throw new IllegalStateException("body failed")
        }
      }
      assert(thrown.getMessage == "body failed")
      assert(spark.conf.get(set) == "before")
      assert(spark.conf.getOption(unset).isEmpty)
    } finally spark.conf.unset(set)
  }
}

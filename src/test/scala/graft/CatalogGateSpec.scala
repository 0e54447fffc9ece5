package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.CatalogGate

/** The scenario-gate fixture ([[graft.engine.CatalogGate]]) on a tiny
  * two-version catalog table: the phase read's schema and time travel,
  * the part source, and the file-count and plan-shape checks that
  * report what they saw.
  */
class CatalogGateSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val gate = {
    val g = CatalogGate(spark, "spec_two_versions")
    Seq((1L, 100L), (2L, 250L)).toDF("k", "cents")
      .createOrReplaceTempView("gate_spec_src")
    spark.sql("CREATE TABLE graft_cat.tv (k BIGINT, cents BIGINT)")
    spark.sql("INSERT INTO graft_cat.tv SELECT * FROM gate_spec_src " +
      "WHERE k = 1")                                                     // v1
    spark.sql("INSERT INTO graft_cat.tv SELECT * FROM gate_spec_src " +
      "WHERE k = 2")                                                     // v2
    g
  }

  test("the phase read is (phase STRING, n BIGINT, sum_cents BIGINT) per version") {
    val v1 = gate.read("v1", "graft_cat.tv VERSION AS OF 1")
    assert(v1.schema.map(f => (f.name, f.dataType.simpleString)) ==
      Seq(("phase", "string"), ("n", "bigint"), ("sum_cents", "bigint")))
    val all = CatalogGate.phases(gate.read("v2", "graft_cat.tv"), v1,
      gate.read("v2_k2", "graft_cat.tv VERSION AS OF 2", "k = 2"))
    assert(all.as[(String, Long, Long)].collect().toSeq ==
      Seq(("v1", 1L, 100L), ("v2", 2L, 350L), ("v2_k2", 1L, 250L)))
    assert(gate.collect("v1", "graft_cat.tv VERSION AS OF 1") == (("v1", 1L, 100L)))
  }

  test("the part source carries (k, cents) and then the extra columns") {
    val d = java.nio.file.Files.createTempDirectory("gate_spec_part").toString
    Seq((7L, BigDecimal("12.345"))).toDF("p_partkey", "p_retailprice")
      .write.parquet(s"$d/part.parquet")
    val p = CatalogGate.partCents(spark, d,
      (org.apache.spark.sql.functions.col("p_partkey") % 2).as("odd"))
    assert(p.columns.toSeq == Seq("k", "cents", "odd"))
    assert(p.schema("cents").dataType.simpleString == "bigint")
    // the price rounds to DECIMAL(12,2) before it scales to cents
    assert(p.as[(Long, Long, Long)].collect().toSeq == Seq((7L, 1235L, 1L)))
  }

  test("a file-count check counts once and reports the value it checked") {
    assert(gate.requireFiles("graft_cat.tv", "k = 2", 1L, "one file per insert") == 1L)
    val e = intercept[IllegalArgumentException] {
      gate.requireFiles("graft_cat.tv", "k > 0", 5L, "both inserts")
    }
    assert(e.getMessage.contains("both inserts (expected 5): planned 2 files"),
      e.getMessage)
    val bound = intercept[IllegalArgumentException] {
      gate.requireFiles("graft_cat.tv", "k > 0", "at most one file")(_ <= 1)
    }
    assert(bound.getMessage.endsWith("at most one file: planned 2 files"),
      bound.getMessage)
  }

  test("a plan-shape check names each missing and forbidden marker and prints the plan") {
    val df = gate.read("all", "graft_cat.tv")
    CatalogGate.requirePlan(df, Seq("HashAggregate"), Seq("BroadcastHashJoin"),
      "a SUM aggregates over data")
    val e = intercept[IllegalArgumentException] {
      CatalogGate.requirePlan(df, Seq("BroadcastHashJoin", "HashAggregate"),
        Seq("HashAggregate"), "shape under test")
    }
    assert(e.getMessage.contains("shape under test (missing 'BroadcastHashJoin', " +
      "forbidden 'HashAggregate'):\n"), e.getMessage)
    assert(e.getMessage.contains(df.queryExecution.executedPlan.toString),
      e.getMessage)
  }
}

package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Tables
import graft.operators.Clustering

/** Cross-check for q102's K-Means training: rerun the exact integer
  * Lloyd's loop (quantize → 3 × assign/update with floor-div centroids)
  * in plain Scala on the driver and compare cluster statistics
  * row-for-row. Exercises the least()-struct argmin and the per-dim sum
  * aggregation independently of the DuckDB oracle.
  */
class KMeansSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._
  private val sfDir = "/root/testdata/sf0.001"

  private def quantize(e: Seq[Float]): Vector[Long] =
    // BigDecimal HALF_UP, matching Spark's round() exactly (Math.round is
    // floor(x+0.5), which differs on negative-.5 ties)
    e.map(x => new java.math.BigDecimal(x.toDouble * 1000)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue + 1000L).toVector

  private lazy val vecs = Tables.embeddings(spark, sfDir)
    .select("vec_id", "embedding").as[(Long, Seq[Float])].collect()
    .map { case (id, e) => (id, quantize(e)) }.sortBy(_._1)

  private def dist(a: Vector[Long], b: Vector[Long]): Long =
    a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
  private def assign(cs: Seq[(Long, Vector[Long])]): Array[(Long, Long, Long)] =
    vecs.map { case (id, e) =>
      val (cid, d) = cs.map { case (c, ce) => (c, dist(e, ce)) }
        .minBy { case (c, d) => (d, c) }
      (id, cid, d)
    }

  /** The exact integer Lloyd's loop, ending in (vec_id, cid, dist). */
  private def finalAssignments(): Array[(Long, Long, Long)] = {
    var cs: Seq[(Long, Vector[Long])] =
      vecs.filter(_._1 < 8).map { case (id, e) => (id, e) }.toSeq
    for (_ <- 1 to 3) {
      cs = assign(cs).zip(vecs).groupBy(_._1._2).toSeq
        .map { case (cid, rows) =>
          val members = rows.map(_._2._2)
          val n = members.size.toLong
          (cid, (0 until 64).map(i =>
            Math.floorDiv(members.map(_(i)).sum, n)).toVector)
        }
        .sortBy(_._1)
    }
    assign(cs)
  }

  test("q102 cluster stats match a plain-Scala Lloyd's recomputation") {
    val expected = finalAssignments().groupBy(_._2).toSeq
      .map { case (cid, rows) =>
        (cid, rows.length.toLong, rows.map(_._1).sum, rows.map(_._3).sum)
      }
      .sortBy(_._1)

    val got = Clustering.q102KmeansTrain.run(spark, sfDir)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // every input vector lands in exactly one cluster
    assert(got.map(_._2).sum == vecs.length.toLong)
  }

  test("q144 SemDeDup prune matches a plain-Scala within-cluster recompute") {
    val cid = finalAssignments().map { case (id, c, _) => id -> c }.toMap
    // the similarity space: coarser signed quantization (round(x·100))
    val f = Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect()
      .map { case (id, e) =>
        id -> e.map(x => new java.math.BigDecimal(x.toDouble * 100)
          .setScale(0, java.math.RoundingMode.HALF_UP).longValue).toVector
      }.toMap
    val n2 = f.view.mapValues(v => v.map(x => x * x).sum).toMap
    def similar(a: Long, b: Long): Boolean = {
      val dot = f(a).zip(f(b)).map { case (x, y) => x * y }.sum
      dot > 0 && dot * dot * 10000L >= 1225L * n2(a) * n2(b)
    }
    val ids = f.keySet.toSeq.sorted
    val expected = ids.map { id =>
      val dupOf = ids.filter(u => u < id && cid(u) == cid(id) && similar(u, id))
        .minOption
      (id, cid(id), dupOf, dupOf.isDefined)
    }
    val got = Clustering.q144SemDedup.run(spark, sfDir)
      .as[(Long, Long, Option[Long], Boolean)].collect().toSeq
    assert(got == expected)
    // the prune must fire somewhere or the threshold is vacuous here
    assert(got.exists(_._4), "no semantic dup found at tau=0.35 — dead test")
  }

  test("a zero-row embeddings table fails q102 and q144 with the seed contract") {
    val empty = graft.engine.Staging.scratch("graft-kmeans-spec", "empty")
      .getAbsolutePath
    Tables.embeddings(spark, sfDir).limit(0)
      .write.mode("overwrite").parquet(s"$empty/embeddings.parquet")
    for (q <- Seq(Clustering.q102KmeansTrain, Clustering.q144SemDedup)) {
      val e = intercept[IllegalArgumentException](q.run(spark, empty).collect())
      assert(e.getMessage.contains("seeds its centroids from embeddings vec_id 0..7"),
        e.getMessage)
    }
  }

  test("q102 assignment is a projection: no crossJoin row blowup") {
    val plan = Clustering.q102KmeansTrain.run(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("cartesian") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"assignment must inline centroids as literals, not join:\n$plan")
  }
}

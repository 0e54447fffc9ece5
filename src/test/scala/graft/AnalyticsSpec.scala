package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Analytics

/** Guards for the analytics family's scale-critical shapes. */
class AnalyticsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("q85 plans the GK sketch (ApproximatePercentile), never the exact sort") {
    val df = Analytics.q85ApproxPercentiles.run(spark, sfDir)
    val aggs = df.queryExecution.optimizedPlan.flatMap(_.expressions).flatMap(_.collect {
      case e: org.apache.spark.sql.catalyst.expressions.aggregate.ApproximatePercentile => e
      case e: org.apache.spark.sql.catalyst.expressions.aggregate.Percentile => e
    })
    assert(aggs.nonEmpty, "no percentile aggregate found in the plan")
    assert(aggs.forall(_.isInstanceOf[
        org.apache.spark.sql.catalyst.expressions.aggregate.ApproximatePercentile]),
      s"q85 must use the fixed-size GK sketch, not the exact buffer-and-sort form:\n" +
        df.queryExecution.optimizedPlan)
  }

  test("q85 sketch agrees with the exact q48 percentiles at test scale") {
    // accuracy=10000 bounds rank error at n/10000; at sf0.001 (60k rows,
    // ~4 groups) that is exact-to-within-a-row, and l_quantity is a dense
    // integer-valued grid — the two forms must agree to well under one
    // quantity unit on every probe point.
    val approx = Analytics.q85ApproxPercentiles.run(spark, sfDir)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val exact = Analytics.q48Percentiles.run(spark, sfDir)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(approx.keySet === exact.keySet)
    approx.foreach { case (flag, (a25, a50, a75)) =>
      val (e25, e50, e75) = exact(flag)
      assert(math.abs(a25 - e25) <= 1.0, s"$flag p25: $a25 vs $e25")
      assert(math.abs(a50 - e50) <= 1.0, s"$flag p50: $a50 vs $e50")
      assert(math.abs(a75 - e75) <= 1.0, s"$flag p75: $a75 vs $e75")
    }
  }

  test("q103 blocked near-dup join agrees with the q51 exact kernel") {
    // on the kernel's bounded id range, the blocked scale path must find
    // exactly the q51 pairs that (a) share a block and (b) clear the
    // dist<=20 near-dup threshold — blocking may only prune NON-block
    // pairs, never in-block ones (the q25/q90 agreement pattern)
    import org.apache.spark.sql.functions._
    val blocked = Analytics.q103BlockedEditdist.run(spark, sfDir)
      .filter(col("doc_a") < 30 && col("doc_b") < 30)
      .select("doc_a", "doc_b", "dist")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val blkOf = graft.engine.Tables.documents(spark, sfDir)
      .filter(col("doc_id") < 30)
      .select(col("doc_id"),
        concat_ws(" ", slice(split(col("text"), " "), 1, 2)).as("blk"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val kernel = Analytics.q51EditDistance.run(spark, sfDir)
      .select("doc_a", "doc_b", "dist")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .filter { case (a, b, d) => d <= 20 && blkOf(a) == blkOf(b) }.toSet
    assert(blocked === kernel)
  }

  test("q146 narrowing selection equals a driver-side sort, forced through rounds") {
    import org.apache.spark.sql.functions._
    val cents = graft.engine.Tables.lineitem(spark, sfDir).select(
      (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long").as("v"))
    val sorted = cents.collect().map(_.getLong(0)).sorted
    val n = sorted.length.toLong
    val targets = Seq("p01" -> 1L, "p25" -> 25L, "p50" -> 50L,
      "p75" -> 75L, "p99" -> 99L, "p100" -> 100L)
    // threshold 50 forces MULTIPLE histogram rounds at sf0.001 (6k rows),
    // exercising bracket/rank bookkeeping the big-threshold path skips
    val got = graft.operators.Analytics.exactSelect(cents, targets, threshold = 50L)
    targets.foreach { case (stat, frac) =>
      val k = (n - 1) * frac / 100 + 1
      val expected = sorted((k - 1).toInt)
      val (_, gk, gv) = got.find(_._1 == stat).get
      assert(gk == k, s"$stat rank")
      assert(gv == expected, s"$stat value: got $gv expected $expected")
    }
  }

  test("exactSelect survives brackets wider than 2^55 (divide-first bucketing)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // values spanning ~2^61: multiply-first bucketing ((v-lo)*256) wraps
    // Long here and silently mis-selects; divide-first must stay exact
    val rnd = new scala.util.Random(7)
    val vals = Seq(-(1L << 60), 1L << 60) ++
      Seq.fill(500)(rnd.nextLong() >> 3) // |v| <= 2^61: span stays inside the < 2^63 contract
    val df = vals.toDF("v")
    val sorted = vals.sorted
    val n = vals.length.toLong
    val targets = Seq("p01" -> 1L, "p50" -> 50L, "p99" -> 99L)
    val got = graft.operators.Analytics.exactSelect(df, targets, threshold = 20L)
    targets.foreach { case (stat, frac) =>
      val k = (n - 1) * frac / 100 + 1
      val (_, gk, gv) = got.find(_._1 == stat).get
      assert(gk == k && gv == sorted((k - 1).toInt),
        s"$stat: got $gv expected ${sorted((k - 1).toInt)}")
    }
    // a full-64-bit span is out of contract and must fail loudly, not
    // silently mis-bucket
    val wild = Seq(Long.MinValue, Long.MaxValue).toDF("v")
    intercept[IllegalArgumentException] {
      graft.operators.Analytics.exactSelect(wild, Seq("p50" -> 50L), threshold = 1L)
    }
  }

  test("exactSelect is exact on in-contract spans within 255 of 2^63") {
    import spark.implicits._
    // span = 2^63 - 101: passes the hi - lo >= 0 contract check, but a
    // ceil step computed as (span + 1 + 255) / 256 wraps Long here and
    // yields a negative step (silent mis-bucketing); the divide-first
    // (hi - lo) / 256 + 1 form must stay exact right up to the contract
    // boundary
    val lo = -(1L << 62)
    val hi = lo + (Long.MaxValue - 100) // hi - lo = 2^63 - 101 >= 2^63 - 255
    val rnd = new scala.util.Random(11)
    val vals = Seq(lo, hi) ++ Seq.fill(40)(lo + (rnd.nextLong() & Long.MaxValue) % (hi - lo))
    val sorted = vals.sorted
    val n = vals.length.toLong
    val targets = Seq("p01" -> 1L, "p50" -> 50L, "p99" -> 99L)
    val got = graft.operators.Analytics.exactSelect(vals.toDF("v"), targets, threshold = 5L)
    targets.foreach { case (stat, frac) =>
      val k = (n - 1) * frac / 100 + 1
      val (_, gk, gv) = got.find(_._1 == stat).get
      assert(gk == k && gv == sorted((k - 1).toInt),
        s"$stat: got $gv expected ${sorted((k - 1).toInt)}")
    }
  }

  // q79→q84 pairing discipline for the two ntile scale forms: the
  // narrowing/broadcast-cut form must reproduce the global-ntile
  // reference byte-for-byte, and its plan must contain NO Window
  // operator (the reference forms exist precisely because a global
  // ntile is a single-partition window).
  private def noWindow(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.isEmpty,
      s"$name scale form must not plan any Window operator:\n${df.queryExecution.optimizedPlan}")
  }

  test("q264 equi-depth bounds equal the q257 global-ntile reference, window-free") {
    val ref = Analytics.q257EquidepthHist.run(spark, sfDir)
    val scale = Analytics.q264EquidepthBounds.run(spark, sfDir)
    noWindow(scale, "q264")
    assert(scale.collect().toSeq === ref.collect().toSeq)
  }

  test("q265 RFM cuts equal the q263 global-ntile reference, window-free") {
    val ref = Analytics.q263Rfm.run(spark, sfDir)
    val scale = Analytics.q265RfmCuts.run(spark, sfDir)
    noWindow(scale, "q265")
    assert(scale.collect().toSeq === ref.collect().toSeq)
  }

  /** A directory whose `orders.parquet` holds the first `n` sf0.001 orders. */
  private def ordersFixture(n: Int): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-orders").toString
    graft.engine.Tables.orders(spark, sfDir).orderBy("o_orderkey").limit(n)
      .coalesce(1).write.parquet(s"$dir/orders.parquet")
    dir
  }

  test("ntile histograms emit only non-empty buckets on 5-row and 0-row orders") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    for (n <- Seq(5, 0)) {
      val d = ordersFixture(n)
      val orders = graft.engine.Tables.orders(spark, d)
      // q257: ntile(8) over n < 8 rows is n one-row buckets in
      // (cents, key) order, each bucket's lo = hi = its row's cents
      val cents = orders.select(col("o_orderkey"),
          (col("o_totalprice").cast("decimal(12,2)") * 100).cast("long"))
        .collect().map(r => (r.getLong(1), r.getLong(0))).sorted.map(_._1)
      val hist = cents.zipWithIndex.map { case (c, i) => (i + 1L, 1L, c, c) }.toSeq
      assert(Analytics.q257EquidepthHist.run(spark, d).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
        === hist, s"q257 at $n rows")
      // q263/q265 against the global-ntile window reference, whose ntile(4)
      // over 5 customers is buckets of 2, 1, 1, 1 and over none is empty
      val base = orders.groupBy("o_custkey").agg(
        datediff(lit(java.sql.Date.valueOf("2002-01-01")),
          max(col("o_orderdate")).cast("date")).as("rd"),
        count(lit(1)).as("f"),
        sum((col("o_totalprice").cast("decimal(12,2)") * 100).cast("long"))
          .cast("long").as("m"))
      def q(o: org.apache.spark.sql.Column*) =
        ntile(4).over(Window.orderBy(o :+ col("o_custkey"): _*))
      val rfm = base.select(col("o_custkey"), col("m"),
          (q(col("rd").desc) * 100 + q(col("f")) * 10 + q(col("m")))
            .cast("long").as("segment"))
        .groupBy("segment").agg(count(lit(1)), sum("m").cast("long"),
          min("o_custkey").cast("long"))
        .orderBy("segment").collect().toSeq
      assert(rfm.isEmpty == (n == 0))
      assert(Analytics.q263Rfm.run(spark, d).collect().toSeq === rfm, s"q263 at $n rows")
      assert(Analytics.q265RfmCuts.run(spark, d).collect().toSeq === rfm, s"q265 at $n rows")
    }
  }

  test("exactSelectRanks returns the exact k-th smallest for explicit ranks") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    // duplicates on purpose: rank semantics must count them
    val vals = Seq.fill(300)(rnd.nextInt(40).toLong)
    val sorted = vals.sorted
    val targets = Seq("r1" -> 1L, "r2" -> 2L, "r150" -> 150L,
      "r299" -> 299L, "r300" -> 300L)
    // threshold 10 forces multi-round narrowing over the tiny domain
    val got = graft.operators.Analytics.exactSelectRanks(
      vals.toDF("v"), targets, threshold = 10L)
    targets.foreach { case (stat, k) =>
      val (_, gk, gv) = got.find(_._1 == stat).get
      assert(gk == k && gv == sorted((k - 1).toInt),
        s"$stat: got $gv expected ${sorted((k - 1).toInt)}")
    }
    intercept[IllegalArgumentException] {
      graft.operators.Analytics.exactSelectRanks(
        vals.toDF("v"), Seq("r0" -> 0L))
    }
    intercept[IllegalArgumentException] {
      graft.operators.Analytics.exactSelectRanks(
        vals.toDF("v"), Seq("r301" -> 301L))
    }
  }

  test("exactSelectRanks rejects duplicate target labels") {
    import spark.implicits._
    val vals = (1L to 50L).toDF("v")
    // two ranks under one label would collapse to a single finish value
    val e = intercept[IllegalArgumentException] {
      graft.operators.Analytics.exactSelectRanks(
        vals, Seq("p" -> 10L, "p" -> 40L), threshold = 5L)
    }
    assert(e.getMessage.contains("duplicate target labels"))
  }
}

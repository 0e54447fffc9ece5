package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions
import graft.operators.BloomJoin

class BloomJoinSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = SparkTestSession.spark
    GraftFunctions.register(s)
    s
  }

  test("bloom probe has no false negatives over the build keys") {
    import spark.implicits._
    val build = spark.range(0, 10000, 7).select(col("id").as("k"))
    val bloom = BloomJoin.buildKeyBloom(build, "k", expectedKeys = 2000)
    val survivors = BloomJoin
      .bloomPrune(build.select(col("k")), col("k"), bloom)
      .count()
    assert(survivors === build.count()) // every true key must pass
  }

  test("bloom probe prunes most non-members at 1% fpp") {
    val build = spark.range(1000).select((col("id") * 1000000L).as("k"))
    val bloom = BloomJoin.buildKeyBloom(build, "k", expectedKeys = 1000)
    // probe keys deliberately disjoint from the build keys
    val probe = spark.range(1, 100000, 3).select(col("id").as("k"))
    val passed = BloomJoin.bloomPrune(probe, col("k"), bloom).count().toDouble
    val total = probe.count().toDouble
    assert(passed / total < 0.05, s"fpp too high: $passed of $total passed")
  }

  test("bloom-pruned join result is identical to the plain join") {
    val d = "/root/testdata/sf0.001"
    val plain = {
      val urgent = graft.engine.Tables.orders(spark, d)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey")
      graft.engine.Tables.lineitem(spark, d)
        .join(urgent, col("l_orderkey") === col("o_orderkey"))
        .count()
    }
    val bloomed = {
      val urgent = graft.engine.Tables.orders(spark, d)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey")
      val bloom = BloomJoin.buildKeyBloom(urgent, "o_orderkey", 1L << 21)
      BloomJoin.bloomPrune(
        graft.engine.Tables.lineitem(spark, d), col("l_orderkey"), bloom)
        .join(urgent, col("l_orderkey") === col("o_orderkey"))
        .count()
    }
    assert(bloomed === plain)
  }

  test("an empty build side yields an empty filter and an empty bloom-pruned join") {
    val build = spark.range(0).select(col("id").as("k"))
    val bloom = BloomJoin.buildKeyBloom(build, "k", expectedKeys = 100)
    assert((0L until 1000L).forall(k => !bloom.value.mightContainLong(k)),
      "a filter over no keys must admit no probe key")
    val probe = spark.range(1000).select(col("id").as("p"))
    val plain = probe.join(build, col("p") === col("k")).count()
    val bloomed = BloomJoin.bloomPrune(probe, col("p"), bloom)
      .join(build, col("p") === col("k")).count()
    assert(plain === 0L && bloomed === plain)
  }

  test("estimateRows on a stats-less plan returns a modest default, not the cap") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    // an RDD-backed plan has no file-backed stats: its sizeInBytes is
    // Spark's defaultSizeInBytes sentinel (Long.MaxValue), not a
    // measurement. The estimate must not divide the sentinel (which
    // clamps to MaxBloomKeys → a ~320 MB filter) and must never
    // BigInt-wrap negative.
    val rdd = spark.sparkContext.parallelize(Seq(Row(1L), Row(2L)))
    val statless = spark.createDataFrame(rdd, StructType(Seq(StructField("k", LongType))))
    val stats = statless.queryExecution.optimizedPlan.stats
    assume(stats.rowCount.isEmpty, "precondition: plan must be stats-less")
    val est = BloomJoin.estimateRows(statless)
    assert(est > 0, s"estimate wrapped or degenerate: $est")
    assert(est <= (1L << 21), s"stats-less plan must fall back small, got $est")
  }

  test("estimateRows on a file-backed scan scales with bytes and stays in-range") {
    val li = graft.engine.Tables.lineitem(spark, "/root/testdata/sf0.001")
    val est = BloomJoin.estimateRows(li)
    assert(est >= (1L << 16) && est <= BloomJoin.MaxBloomKeys)
  }

  test("probe expression participates in whole-stage codegen") {
    val build = spark.range(100).select(col("id").as("k"))
    val bloom = BloomJoin.buildKeyBloom(build, "k", 100)
    val probed = BloomJoin.bloomPrune(spark.range(1000).toDF("k"), col("k"), bloom)
    // the `*(n)` prefix in toString IS the codegen marker; assert on the
    // node itself so the probe filter is proven inside a codegen span
    val spans = probed.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(spans.exists(_.toString.contains("graft_bloom_might_contain")),
      s"probe not inside a codegen span:\n${probed.queryExecution.executedPlan}")
  }

  test("probe expression carries a broadcast handle, not the filter bytes") {
    val build = spark.range(100).select(col("id").as("k"))
    val bloom = BloomJoin.buildKeyBloom(build, "k", 100)
    val probed = BloomJoin.bloomPrune(spark.range(1000).toDF("k"), col("k"), bloom)
    // the scale contract: the plan embeds a Broadcast[BloomFilter], so
    // the filter moves once per executor, not inside every task binary
    val probes = probed.queryExecution.optimizedPlan.flatMap(_.expressions).flatMap(_.collect {
      case b: graft.functions.BloomMightContainBc => b
    })
    assert(probes.nonEmpty, s"no broadcast probe in plan:\n${probed.queryExecution.optimizedPlan}")
    assert(probes.forall(_.bloomBc eq bloom), "probe does not reference the built broadcast")
    // and no BinaryType literal (the serialized-bytes form) anywhere
    val binaryLits = probed.queryExecution.optimizedPlan.flatMap(_.expressions).flatMap(_.collect {
      case l: org.apache.spark.sql.catalyst.expressions.Literal
          if l.dataType == org.apache.spark.sql.types.BinaryType => l
    })
    assert(binaryLits.isEmpty, "serialized filter leaked into the plan as a literal")
  }

  test("Spark's built-in runtime bloom filter fires once the size thresholds are met") {
    // The zero-code alternative to BloomJoin.buildKeyBloom: Catalyst's
    // InjectRuntimeFilter plants a bloom_filter_agg subquery on the
    // SELECTIVE side of a shuffle join and a might_contain filter on the
    // probe side — but only when the probe scan exceeds
    // `applicationSideScanSizeThreshold` (10 GB default) and no broadcast
    // applies. At 100 TB both are naturally true, so the feature
    // self-activates; at test scale we lower the thresholds to prove the
    // recipe (the CboSpec pattern). The manual bloom stays the right tool
    // when the filter must cross STAGES (q77's reuse across queries),
    // not just sides of one join.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prior = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .createOrReplaceTempView("rb_orders")
      spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .createOrReplaceTempView("rb_lineitem")
      val sql =
        """SELECT count(*) AS n FROM rb_lineitem l
          |JOIN rb_orders o ON l.l_orderkey = o.o_orderkey
          |WHERE o.o_totalprice > 400000""".stripMargin
      val df = spark.sql(sql)
      val opt = df.queryExecution.optimizedPlan.toString
      assert(opt.contains("might_contain") && opt.contains("bloom_filter_agg"),
        s"expected an injected runtime bloom filter:\n$opt")
      val withBloom = df.collect()(0).getLong(0)

      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
      val control = spark.sql(sql)
      assert(!control.queryExecution.optimizedPlan.toString.contains("might_contain"))
      assert(control.collect()(0).getLong(0) == withBloom,
        "bloom filtering must be value-invisible")
    } finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}

package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{Staging, Tables}
import graft.operators.Layout

/** Z-order layout invariants the oracle compare cannot express: the
  * oracle proves the pruned read returns the RIGHT rows; this spec
  * proves it reads the right rows while PRUNING (planning-time partition
  * filters, bounded bucket enumeration) and that the Morton geometry the
  * pruning rests on (prefix buckets = axis-aligned rectangles) holds.
  */
class LayoutSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._
  private val sfDir = "/root/testdata/sf0.001"

  test("morton prefix buckets are axis-aligned rectangles (exhaustive 16x16)") {
    // every (xh, yh) cell maps to a distinct code, and decoding the code's
    // odd/even bits recovers the cell — the bijection that makes a bucket
    // a rectangle and bucketsFor's enumeration sound
    val codes = for (xh <- 0L until 16L; yh <- 0L until 16L) yield {
      val z = Layout.morton(xh, yh)
      val xBack = (0 until 4).map(i => ((z >> (2 * i + 1)) & 1L) << i).reduce(_ | _)
      val yBack = (0 until 4).map(i => ((z >> (2 * i)) & 1L) << i).reduce(_ | _)
      assert((xBack, yBack) === (xh, yh))
      z
    }
    assert(codes.toSet.size === 256 && codes.min === 0L && codes.max === 255L)
  }

  test("zorder write + box read: sound (equals raw box), effective (prunes), planned (PartitionFilters)") {
    val dir = Staging.scratch("graft-layout-gate", "spec_zorder").getAbsolutePath
    val li = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    val meta = Layout.zorderWrite(li, "l_partkey", "l_suppkey", dir)
    assert(Layout.readMeta(spark, dir) === meta) // metadata round-trip

    val (x1, x2) = (meta.maxX / 8, meta.maxX / 4)
    val (y1, y2) = (meta.maxY / 8, meta.maxY / 4)
    val pruned = Layout.zorderBoxRead(spark, dir, x1, x2, y1, y2)

    // soundness: identical row set to the raw-table box filter
    val got = pruned.select("l_orderkey", "l_linenumber").as[(Long, Int)].collect().toSet
    val want = li.filter(col("l_partkey").between(x1, x2) &&
        col("l_suppkey").between(y1, y2))
      .select("l_orderkey", "l_linenumber").as[(Long, Int)].collect().toSet
    assert(got === want && got.nonEmpty)

    // effectiveness: the box touches a small corner of the grid, and the
    // layout actually fans out over many buckets for it to prune against
    val buckets = Layout.bucketsFor(meta, x1, x2, y1, y2)
    val totalBuckets = spark.read.parquet(s"$dir/data")
      .select("zb").distinct().count()
    assert(buckets.size * 4 <= totalBuckets,
      s"box needs ${buckets.size} of $totalBuckets buckets — not a pruning layout")

    // planned: the bucket IN-list is a PARTITION filter (directory-level
    // pruning), not a post-scan condition
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && """zb.* IN """.r.findFirstIn(plan).isDefined,
      s"zb pruning missing from PartitionFilters:\n$plan")
  }

  test("ORC round-trip preserves values exactly and pushes both filter kinds") {
    val dir = Staging.scratch("graft-layout-gate", "spec_orc").getAbsolutePath
    val orders = Tables.orders(spark, sfDir)
    orders.write.mode("overwrite").partitionBy("o_orderpriority").orc(s"$dir/orders")
    val back = spark.read.orc(s"$dir/orders")

    // byte-exact value fidelity across the format (incl. timestamps)
    val cols = orders.columns.sorted.map(col)
    assert(back.select(cols: _*).except(orders.select(cols: _*)).isEmpty &&
      orders.select(cols: _*).except(back.select(cols: _*)).isEmpty)

    // partition filter prunes directories; data filter reaches the ORC
    // scan as a pushed filter
    val q = back.filter(col("o_orderpriority") === "1-URGENT" &&
      col("o_totalprice") > 50000)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      """PartitionFilters: \[[^\]]*o_orderpriority""".r.findFirstIn(plan).isDefined,
      s"priority not a partition filter:\n$plan")
    assert("""PushedFilters: \[[^\]]*o_totalprice""".r.findFirstIn(plan).isDefined,
      s"price not pushed to the ORC scan:\n$plan")
  }

  test("bucketed fact-fact join plans with zero exchanges on either input") {
    import spark.implicits._
    val (lt, ot) = ("graft_spec_bl", "graft_spec_bo")
    (1L to 100L).map(k => (k % 25, k)).toDF("k", "v")
      .write.mode("overwrite").bucketBy(8, "k").sortBy("k").saveAsTable(lt)
    (0L until 25L).map(k => (k, s"g${k % 3}")).toDF("k", "grp")
      .write.mode("overwrite").bucketBy(8, "k").sortBy("k").saveAsTable(ot)
    val joined = spark.table(lt).join(spark.table(ot).hint("merge"), "k")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"not a merge join:\n$plan")
    assert(!plan.contains("Exchange"),
      s"bucketed join still shuffles an input:\n$plan")
    // and the co-located plan returns the same rows as the plain join
    val expect = (1L to 100L).map(k => (k % 25, k, s"g${k % 25 % 3}")).toSet
    assert(joined.select("k", "v", "grp").as[(Long, Long, String)]
      .collect().toSet === expect)
  }

  test("q214's fact scan carries a dynamic pruning expression, not a static filter") {
    import spark.implicits._
    val dir = Staging.scratch("graft-layout-gate", "spec_dpp").getAbsolutePath
    Tables.lineitem(spark, sfDir)
      .select(col("l_quantity"), month(col("l_shipdate")).as("ship_month"))
      .write.mode("overwrite").partitionBy("ship_month").parquet(s"$dir/fact")
    (1 to 12).map(m => (m, s"Q${(m - 1) / 3 + 1}")).toDF("m", "season")
      .write.mode("overwrite").parquet(s"$dir/seasons")
    val q = spark.read.parquet(s"$dir/fact")
      .join(broadcast(spark.read.parquet(s"$dir/seasons")
        .filter(col("season") === "Q2")),
        col("ship_month") === col("m"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"no dynamic partition pruning on the fact scan:\n$plan")
  }

  test("q210 and q214 answer zero rows on zero-row orders and lineitem") {
    val d = java.nio.file.Files.createTempDirectory("layout_spec_empty").toString
    Seq("orders", "lineitem").foreach(t =>
      Tables.table(spark, sfDir, t).limit(0).write.parquet(s"$d/$t.parquet"))
    Seq(Layout.q210OrcRoundtrip, Layout.q214Dpp).foreach { q =>
      assert(q.run(spark, d).collect().isEmpty, q.name)
    }
  }

  test("a degenerate single-cell box reads exactly one bucket") {
    val meta = Layout.ZMeta("x", "y", 6, 6, 1000, 1000)
    val b = Layout.bucketsFor(meta, 64, 127, 128, 191) // one cell each axis
    assert(b === Seq(Layout.morton(1, 2)))
  }
}

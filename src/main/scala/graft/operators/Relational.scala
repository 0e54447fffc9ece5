package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.engine.{QueryDef, ScopedConf, Tables}

/** Relational operator set (SURVEY.md §2.3 q01–q02, q06–q15, q17).
  *
  * Re-expresses the reference's scan/filter/dedup/union/sort/latest-snapshot
  * semantics (`/root/reference/DataExtract/extract_data.py`,
  * `/root/reference/config.py:81-99`) over the deterministic testdata, plus
  * the [EXT] joins/aggregations/windows the reference lacks.
  *
  * Oracle-parity rules (see QueryDef): per-row arithmetic stays in double
  * (bit-identical across engines), aggregation happens over decimals (exact,
  * order-insensitive), final types are pinned with explicit casts, and every
  * query ends in a deterministic total order.
  *
  * 100 TB notes: every aggregation here is a hash aggregate with map-side
  * partial aggregation; joins against `nation`/`region` are broadcast (tiny
  * dims); `orders ⋈ lineitem` is a shuffle join on the join key only after
  * column pruning; windows partition by a key with bounded group size
  * (user_id, custkey) so no single partition explodes.
  */
object Relational {

  /** Cast to a pinned decimal type — the exact-aggregation workhorse. */
  private def dec(c: Column, p: Int, s: Int): Column = c.cast(DecimalType(p, s))

  /** Exact decimal sum emitted as double: summing decimals is exact and
    * order-insensitive (unlike double summation, which varies with partial-
    * aggregation order), and the final decimal→double conversion is
    * correctly rounded in both Spark and DuckDB, so the output is
    * bit-identical across engines while keeping a pandas/arrow-friendly
    * float64 schema.
    */
  private def dsum(c: Column): Column = sum(c).cast(DoubleType)

  // q01 — scan + projection (ref P4: parsers emit exactly the declared
  // fields, transform_data.py:36). Column pruning reaches the parquet scan.
  val q01ScanProject: QueryDef = QueryDef.sql(
    "q01_scan_project",
    """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity,
      |       l_extendedprice, l_returnflag
      |FROM lineitem
      |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity",
        "l_extendedprice", "l_returnflag")
      .orderBy("l_orderkey", "l_linenumber")
  }

  // q02 — predicate pushdown (ref F1: filters encoded into the fetch URL,
  // extract_data.py:47-51). Both predicates reach the parquet scan.
  val q02Filter: QueryDef = QueryDef.sql(
    "q02_filter",
    """SELECT event_id, user_id, value
      |FROM events
      |WHERE event_type = 'signup' AND value > 100
      |ORDER BY event_id""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .filter(col("event_type") === "signup" && col("value") > 100)
      .select("event_id", "user_id", "value")
      .orderBy("event_id")
  }

  // q06 — dictionary lookup with fallback (ref D1, config.py:47-53): the
  // reference's only join-like op. Tiny dims ⇒ broadcast hash join, no
  // shuffle of the probe side.
  val q06DictLookup: QueryDef = QueryDef.sql(
    "q06_dict_lookup",
    """SELECT c_custkey,
      |       COALESCE(n_name, substring(c_name, 1, 3)) AS nation_name,
      |       COALESCE(r_name, 'all') AS region_name
      |FROM customer
      |LEFT JOIN nation ON c_nationkey = n_nationkey
      |LEFT JOIN region ON n_regionkey = r_regionkey
      |ORDER BY c_custkey""".stripMargin) { (s, d) =>
    Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"), "left")
      .join(broadcast(Tables.region(s, d)),
        col("n_regionkey") === col("r_regionkey"), "left")
      .select(
        col("c_custkey"),
        coalesce(col("n_name"), substring(col("c_name"), 1, 3)).as("nation_name"),
        coalesce(col("r_name"), lit("all")).as("region_name"))
      .orderBy("c_custkey")
  }

  // q07 — first-seen-wins dedup (ref U1, extract_data.py:194-197). Explicit
  // row_number (not dropDuplicates) for determinism; tie-broken by event_id.
  val q07Dedup: QueryDef = QueryDef.sql(
    "q07_dedup",
    """SELECT user_id, event_type, event_id, ts, value FROM (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
      |  FROM events) WHERE rn = 1
      |ORDER BY user_id, event_type""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    Tables.events(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("user_id", "event_type", "event_id", "ts", "value")
      .orderBy("user_id", "event_type")
  }

  // q08 — latest-snapshot resolution (ref S7/O3, config.py:81-99): newest
  // row per key. Models the *intent* (latest by time) with a real ordering
  // column, fixing the reference's ddmmyyyy lexicographic-sort bug.
  val q08LatestSnapshot: QueryDef = QueryDef.sql(
    "q08_latest_snapshot",
    """SELECT user_id, event_id, ts, event_type, value FROM (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events) WHERE rn = 1
      |ORDER BY user_id""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("user_id", "event_id", "ts", "event_type", "value")
      .orderBy("user_id")
  }

  // q09 — union/append across pages (ref U2, extract_data.py:136): UNION ALL
  // of two slices, stable re-sort.
  val q09Union: QueryDef = QueryDef.sql(
    "q09_union",
    """SELECT event_id, event_type, value
      |FROM (SELECT event_id, event_type, value FROM events WHERE event_type = 'signup'
      |      UNION ALL
      |      SELECT event_id, event_type, value FROM events WHERE value > 190)
      |ORDER BY event_id, event_type, value""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d).select("event_id", "event_type", "value")
    ev.filter(col("event_type") === "signup")
      .unionAll(ev.filter(col("value") > 190))
      .orderBy("event_id", "event_type", "value")
  }

  // q10 — order + bounded fetch (ref O1/O4, extract_data.py:245,130): top-k
  // by totalprice. Spark plans this as TakeOrderedAndProject — a per-
  // partition top-k then a k-sized driver merge, no full sort at scale.
  val q10SortLimit: QueryDef = QueryDef.sql(
    "q10_sort_limit",
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey
      |LIMIT 100""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  // q11 — grouped count (ref A1/X8: running counts + the header-count
  // cross-check, extract_data.py:53-62).
  val q11Count: QueryDef = QueryDef.sql(
    "q11_count",
    """SELECT event_type, COUNT(*) AS n
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"))
      .orderBy("event_type")
  }

  // q12 — TPC-H Q1-shape hash aggregate [EXT]. Map-side partial agg + final
  // agg; decimals keep sums exact and order-insensitive.
  val q12GroupbyAgg: QueryDef = QueryDef.sql(
    "q12_groupby_agg",
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))) * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
    // Decimal arithmetic end-to-end: casting COMPUTED doubles to decimal is
    // not portable (Java rounds the shortest decimal repr, DuckDB rounds the
    // exact binary value — they disagree when the shortest repr ends in a
    // trailing 5), but base columns hold exact 2-decimal values where both
    // agree, and decimal × decimal is exact in both engines.
    val qty = dec(col("l_quantity"), 18, 2)
    val one = lit(1).cast(DecimalType(3, 2))
    val discPrice = dec(col("l_extendedprice"), 12, 2) * (one - dec(col("l_discount"), 4, 2))
    val charge = discPrice * (one + dec(col("l_tax"), 4, 2))
    Tables.lineitem(s, d)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(qty).as("sum_qty"),
        dsum(dec(col("l_extendedprice"), 18, 2)).as("sum_base_price"),
        dsum(discPrice).as("sum_disc_price"),
        dsum(charge).as("sum_charge"),
        (dsum(qty) / count(lit(1))).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  // q13 — fact-fact join + aggregate [EXT]. Both sides pruned to the join
  // key + needed columns before the shuffle; at scale this is a shuffle
  // hash/sort-merge join on l_orderkey = o_orderkey.
  val q13JoinAgg: QueryDef = QueryDef.sql(
    "q13_join_agg",
    """SELECT o_orderpriority,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_items
      |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
    val o = Tables.orders(s, d).select("o_orderkey", "o_orderpriority")
    val one = lit(1).cast(DecimalType(3, 2))
    val l = Tables.lineitem(s, d)
      .select(col("l_orderkey"),
        (dec(col("l_extendedprice"), 12, 2) * (one - dec(col("l_discount"), 4, 2))).as("rev"))
    o.join(l, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(
        dsum(col("rev")).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("o_orderpriority")
  }

  // q14 — ranking window [EXT; ref anchor O3 latest-snapshot]: top-3 orders
  // per customer by totalprice.
  val q14Window: QueryDef = QueryDef.sql(
    "q14_window",
    """SELECT o_custkey, o_orderkey, o_totalprice, CAST(rnk AS INTEGER) AS rnk FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice, rank() OVER (
      |    PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk
      |  FROM orders) WHERE rnk <= 3
      |ORDER BY o_custkey, rnk, o_orderkey""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, d)
      .select("o_custkey", "o_orderkey", "o_totalprice")
      .withColumn("rnk", rank().over(w))
      .filter(col("rnk") <= 3)
      .orderBy("o_custkey", "rnk", "o_orderkey")
  }

  // q15 — JSON extraction [EXT] over events.props (`{"k": 87}`).
  // from_json with an explicit schema, not get_json_object: one schema-driven
  // Jackson parse per row (~7µs) vs path evaluation (~100µs+) — at 100 TB the
  // difference is the whole job.
  val q15JsonExtract: QueryDef = QueryDef.sql(
    "q15_json_extract",
    """SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
      |       COUNT(*) AS n,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY 1
      |ORDER BY k""".stripMargin) { (s, d) =>
    Tables.widen(Tables.events(s, d))
      .select(
        from_json(col("props"), StructType(Seq(StructField("k", IntegerType))))
          .getField("k").as("k"),
        col("value"))
      .groupBy("k")
      .agg(
        count(lit(1)).as("n"),
        dsum(dec(col("value"), 18, 2)).as("sum_value"))
      .orderBy("k")
  }

  // q17 — tumbling time window [EXT], the batch analog of the reference's
  // stale-round watermark loop (extract_data.py:232-237). The streaming twin
  // lives in graft.streaming.EventStream.
  val q17TimeWindow: QueryDef = QueryDef.sql(
    "q17_time_window",
    """SELECT date_trunc('hour', ts) AS hour_ts,
      |       COUNT(*) AS n_events,
      |       COUNT(DISTINCT user_id) AS n_users,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY 1
      |ORDER BY hour_ts""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .groupBy(date_trunc("hour", col("ts")).cast(TimestampNTZType).as("hour_ts"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        dsum(dec(col("value"), 18, 2)).as("sum_value"))
      .orderBy("hour_ts")
  }

  // q114 — multi-way STAR join (TPC-H Q5 shape): region → nation →
  // customer → orders → lineitem → supplier (local-supplier condition
  // s_nationkey = c_nationkey), revenue per nation for one region and a
  // date window. The engine's join-planning showcase: three dimension
  // joins broadcast (region/nation tiny, customer small after the
  // region semi-filter cascades), the two fact joins shuffle on their
  // keys, and the date predicate pushes into the orders scan. Revenue is
  // exact decimal arithmetic over BASE columns (q13's rule: never cast a
  // computed double), emitted as double.
  val q114StarJoin: QueryDef = QueryDef.sql(
    "q114_star_join",
    """SELECT n_name,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_items
      |FROM region
      |JOIN nation ON n_regionkey = r_regionkey
      |JOIN customer ON c_nationkey = n_nationkey
      |JOIN orders ON o_custkey = c_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1998-01-01'
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin) { (s, d) =>
    val one = lit(1).cast(DecimalType(3, 2))
    val r = Tables.region(s, d).filter(col("r_name") === "ASIA").select("r_regionkey")
    val n = Tables.nation(s, d).select("n_nationkey", "n_name", "n_regionkey")
    val c = Tables.customer(s, d).select("c_custkey", "c_nationkey")
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") >= "1996-01-01" && col("o_orderdate") < "1998-01-01")
      .select("o_orderkey", "o_custkey")
    val l = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_suppkey"),
        (dec(col("l_extendedprice"), 12, 2) * (one - dec(col("l_discount"), 4, 2))).as("rev"))
    val sup = Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
    broadcast(r)
      .join(n, col("n_regionkey") === col("r_regionkey"))
      .join(c, col("c_nationkey") === col("n_nationkey"))
      .join(o, col("o_custkey") === col("c_custkey"))
      .join(l, col("l_orderkey") === col("o_orderkey"))
      .join(sup, col("s_suppkey") === col("l_suppkey") &&
        col("s_nationkey") === col("c_nationkey"))
      .groupBy("n_name")
      .agg(dsum(col("rev")).as("revenue"), count(lit(1)).as("n_items"))
      .orderBy("n_name")
  }

  // q134 — correlated per-group average filter (TPC-H Q17's shape):
  // lines with quantity below a fifth of their PART's average quantity,
  // revenue per brand. The textbook correlated scalar subquery — and the
  // showcase for DECORRELATION: the oracle keeps the correlated form
  // (per-part aggregate joined back, which is what an engine without
  // decorrelation must execute); the engine runs ONE window over
  // l_partkey instead — same single shuffle computes the aggregate AND
  // keeps the row context, no join-back, no second lineitem pass.
  //
  // Exactness: quantities are integral doubles → BIGINT; the threshold
  // qty < 0.2·avg is cross-multiplied to qty·cnt·5 < sum_qty (pure
  // integer compare, no float division crosses engines); revenue sums
  // in DECIMAL and converts to double once.
  //
  // 100 TB notes: one lineitem shuffle on l_partkey (with a bucketed
  // lineitem table, zero), part broadcasts, final agg is |brands|-tiny.
  val q134AvgQtyFilter: QueryDef = QueryDef.sql(
    "q134_avgqty_filter",
    """WITH q AS (
      |  SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
      |         CAST(l_extendedprice AS DECIMAL(14,2)) AS price
      |  FROM lineitem),
      |s AS (SELECT l_partkey, CAST(SUM(qty) AS BIGINT) AS sum_qty,
      |             COUNT(*) AS cnt
      |      FROM q GROUP BY 1),
      |j AS (SELECT p.p_brand, q.price
      |      FROM q JOIN s USING (l_partkey)
      |      JOIN part p ON p.p_partkey = q.l_partkey
      |      WHERE q.qty * cnt * 5 < sum_qty)
      |SELECT p_brand, COUNT(*) AS n_lines,
      |       CAST(CAST(SUM(price) AS DECIMAL(18,2)) AS DOUBLE) / 7.0 AS avg_yearly
      |FROM j GROUP BY 1
      |ORDER BY p_brand""".stripMargin) { (s, d) =>
    val byPart = Window.partitionBy("l_partkey")
    val part = Tables.part(s, d)
      .select(col("p_partkey").as("l_partkey"), col("p_brand"))
    Tables.lineitem(s, d)
      .select(col("l_partkey"),
        col("l_quantity").cast(LongType).as("qty"),
        col("l_extendedprice").cast(DecimalType(14, 2)).as("price"))
      .withColumn("sum_qty", sum("qty").over(byPart))
      .withColumn("cnt", count(lit(1)).over(byPart))
      .filter(col("qty") * col("cnt") * 5 < col("sum_qty"))
      .join(broadcast(part), "l_partkey")
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_lines"),
        sum("price").cast(DecimalType(18, 2)).cast(DoubleType).as("sum_price"))
      .select(col("p_brand"), col("n_lines"),
        (col("sum_price") / 7.0).as("avg_yearly"))
      .orderBy("p_brand")
  }

  // q147 — TPC-H Q5 shape: six-table local-supplier revenue per nation —
  // the canonical join-PLANNING workload (snowflake chain region→nation
  // fanning into BOTH customer and supplier, the fact tables joined on
  // two independent keys plus the c_nationkey = s_nationkey locality
  // constraint). What the plan must do at 100 TB, and does here (PLANS
  // row): region/nation/customer/supplier broadcast down the chain in
  // size order — Catalyst's own choice once post-filter sizes are known
  // — so the ONLY repartition exchange in the whole query is
  // orders⋈lineitem on orderkey; the date filter lands in PushedFilters
  // on the orders scan, pruning before the join. Revenue follows the q12
  // decimal discipline (exact, order-insensitive; double only at emit).
  val q147TpchQ5: QueryDef = QueryDef.sql(
    "q147_tpch_q5",
    """SELECT n_name,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
      |           * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))))
      |       AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_items
      |FROM customer, orders, lineitem, supplier, nation, region
      |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |  AND r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1997-01-01'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""".stripMargin) { (s, d) =>
    val one = lit(1).cast(DecimalType(3, 2))
    val revenue =
      dec(col("l_extendedprice"), 12, 2) * (one - dec(col("l_discount"), 4, 2))
    Tables.region(s, d).filter(col("r_name") === "ASIA")
      .join(Tables.nation(s, d), col("n_regionkey") === col("r_regionkey"))
      .join(Tables.supplier(s, d), col("s_nationkey") === col("n_nationkey"))
      .join(Tables.customer(s, d), col("c_nationkey") === col("s_nationkey"))
      .join(Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit("1996-01-01").cast(TimestampType) &&
            col("o_orderdate") < lit("1997-01-01").cast(TimestampType)),
        col("o_custkey") === col("c_custkey"))
      .join(Tables.lineitem(s, d),
        col("l_orderkey") === col("o_orderkey") &&
          col("l_suppkey") === col("s_suppkey"))
      .groupBy("n_name")
      .agg(dsum(revenue).as("revenue"), count(lit(1)).as("n_items"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  // q269 — TPC-H Q5 planned BY THE COST-BASED OPTIMIZER end-to-end
  // (round-12 item #5): same semantics and oracle as q147, but the
  // engine side hands Spark the WORST textual order (the oracle's own
  // flat FROM customer, orders, lineitem, supplier, nation, region) over
  // CATALOG tables with ANALYZE statistics and the two CBO flags on —
  // no hand-placed join order, no broadcast() hints. The join tree is
  // chosen by stats (CboSpec pins the resulting plan has q147's shape:
  // dims broadcast, ONE shuffle join on the fact keys), which is the
  // planning mode a 100 TB warehouse actually runs in — a human cannot
  // hand-order every ad-hoc six-table query. The CBO flags are scoped
  // to THIS query: planning is forced while they are on, then they are
  // restored, so the rest of a shared session plans unchanged. Catalog
  // registration + ANALYZE is the one-time setup cost the CboSpec
  // recipe documents; here it rides in the query so the gate covers the
  // full path (register → analyze → stats-driven plan → exact result).
  val q269CboQ5: QueryDef = QueryDef.sql(
    "q269_cbo_q5",
    """SELECT n_name,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
      |           * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))))
      |       AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_items
      |FROM customer, orders, lineitem, supplier, nation, region
      |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |  AND r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1997-01-01'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""".stripMargin) { (s, d) =>
    val tables = Seq("region", "nation", "supplier", "customer",
      "orders", "lineitem")
    // the six table setups (write + ANALYZE) are independent — run them
    // from a small thread pool so the big tables' write tails back-fill
    // with the small tables' jobs instead of serializing six write +
    // six ANALYZE jobs (guide §2.6 overlap independent jobs; job
    // descriptions/confs are thread-local, results are catalog entries)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    try {
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      val setups = tables.map { t =>
        scala.concurrent.Future {
          val ct = s"graft_q269_$t"
          // q213's orphan discipline: the catalog is in-memory but the
          // warehouse dir persists across JVMs
          s.sql(s"DROP TABLE IF EXISTS $ct")
          val wh = new java.net.URI(s.conf.get("spark.sql.warehouse.dir"))
          val loc = new java.io.File(
            if (wh.getScheme == null) wh.getPath
            else new java.io.File(wh).getAbsolutePath, ct)
          if (loc.exists()) graft.engine.Staging.wipe(loc)
          Tables.table(s, d, t).write.mode("overwrite").saveAsTable(ct)
          s.sql(s"ANALYZE TABLE $ct COMPUTE STATISTICS")
        }
      }
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(setups),
        scala.concurrent.duration.Duration.Inf)
    } finally pool.shutdown()
    val sql =
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
        |           * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))))
        |       AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM graft_q269_customer, graft_q269_orders, graft_q269_lineitem,
        |     graft_q269_supplier, graft_q269_nation, graft_q269_region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP_NTZ '1996-01-01'
        |  AND o_orderdate < TIMESTAMP_NTZ '1997-01-01'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin
    ScopedConf(s, "spark.sql.cbo.enabled" -> "true",
        "spark.sql.cbo.joinReorder.enabled" -> "true") {
      val df = s.sql(sql)
      // force logical optimization (where join reorder happens) while
      // the flags are on; the cached QueryExecution carries the tree
      df.queryExecution.executedPlan
      df
    }
  }

  // q163 — TPC-H Q21 shape (sole-late-supplier analysis), the classic
  // EXISTS / NOT EXISTS decorrelation stress: suppliers who shipped the
  // ONLY late line of a finished multi-supplier order. The oracle runs
  // the textbook correlated form (two self-joins of the order lines —
  // three passes over lineitem); the engine computes the same answer in
  // ONE pass over the (orderkey, suppkey) grain: per-supplier any_late
  // is a keyed agg, both correlated counts (distinct suppliers in the
  // order, distinct LATE suppliers) come from one orderkey window over
  // those per-supplier rows, and a supplier qualifies iff it is late,
  // shares the order (n_supp ≥ 2), and is the only late one
  // (n_late = 1 — it is itself that one, so "no OTHER late supplier"
  // needs no anti-join). The agg and the window share the orderkey
  // partitioning family; the final per-supplier count is tiny and ends
  // in TakeOrderedAndProject. "Late" = shipped > 60 days after the
  // order date — timestamp + day-time interval, exact in both engines.
  val q163TpchQ21: QueryDef = QueryDef.sql(
    "q163_tpch_q21",
    """WITH l AS (SELECT l_orderkey, l_suppkey,
      |             CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
      |                  THEN 1 ELSE 0 END AS late
      |           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |           WHERE o_orderstatus = 'F')
      |SELECT s_suppkey, CAST(COUNT(*) AS BIGINT) AS numwait FROM (
      |  SELECT DISTINCT l1.l_orderkey, l1.l_suppkey AS s_suppkey
      |  FROM l l1
      |  WHERE l1.late = 1
      |    AND EXISTS (SELECT 1 FROM l l2
      |                WHERE l2.l_orderkey = l1.l_orderkey
      |                  AND l2.l_suppkey <> l1.l_suppkey)
      |    AND NOT EXISTS (SELECT 1 FROM l l3
      |                    WHERE l3.l_orderkey = l1.l_orderkey
      |                      AND l3.l_suppkey <> l1.l_suppkey
      |                      AND l3.late = 1)
      |) GROUP BY 1 ORDER BY numwait DESC, s_suppkey LIMIT 20""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val l = Tables.lineitem(s, d)
      .join(Tables.orders(s, d)
        .filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_suppkey"),
        when(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"), 1)
          .otherwise(0).as("late"))
    val perSupp = l.groupBy("l_orderkey", "l_suppkey")
      .agg(max("late").as("any_late"))
    val wo = Window.partitionBy("l_orderkey")
    perSupp
      .withColumn("n_supp", count(lit(1)).over(wo))
      .withColumn("n_late", sum("any_late").over(wo))
      .filter(col("any_late") === 1 && col("n_supp") >= 2 && col("n_late") === 1)
      .groupBy(col("l_suppkey").as("s_suppkey"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_suppkey"))
      .limit(20)
  }

  // q168 — TPC-H Q8 shape (national market share): one nation's revenue
  // share of a region's STANDARD-part market by order year — the
  // double-dimension-chain planning workload (customer side resolves
  // region membership, supplier side resolves the share nation; the
  // SAME nation table joins twice under different roles). Dimensions
  // broadcast down both chains; the fact joins shuffle on their keys;
  // the share is ONE double division of two exact decimal sums per year
  // (q12's money discipline — the numerator is a conditional sum inside
  // the same aggregation, so both sums ride one shuffle).
  val q168TpchQ8: QueryDef = QueryDef.sql(
    "q168_tpch_q8",
    """WITH rev AS (
      |  SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
      |         CAST(l_extendedprice AS DECIMAL(12,2))
      |           * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))) AS volume,
      |         n2.n_name AS supp_nation
      |  FROM lineitem
      |  JOIN orders   ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
      |  JOIN region   ON n1.n_regionkey = r_regionkey
      |  JOIN supplier ON s_suppkey = l_suppkey
      |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
      |  JOIN part     ON p_partkey = l_partkey
      |  WHERE r_name = 'ASIA' AND p_type = 'STANDARD')
      |SELECT o_year,
      |       CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume
      |                     ELSE CAST(0 AS DECIMAL(3,2)) END) AS DOUBLE)
      |         / CAST(SUM(volume) AS DOUBLE) AS mkt_share,
      |       CAST(COUNT(*) AS BIGINT) AS n_lines
      |FROM rev GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    def dec(c: Column, p: Int, sc: Int): Column = c.cast(DecimalType(p, sc))
    val one = lit(1).cast(DecimalType(3, 2))
    val rev = Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(Tables.nation(s, d).select(col("n_nationkey"), col("n_regionkey")),
        col("c_nationkey") === col("n_nationkey"))
      .join(Tables.region(s, d).filter(col("r_name") === "ASIA"),
        col("n_regionkey") === col("r_regionkey"))
      .join(Tables.supplier(s, d), col("s_suppkey") === col("l_suppkey"))
      .join(Tables.nation(s, d)
          .select(col("n_nationkey").as("n2_key"), col("n_name").as("supp_nation")),
        col("s_nationkey") === col("n2_key"))
      .join(Tables.part(s, d).filter(col("p_type") === "STANDARD"),
        col("p_partkey") === col("l_partkey"))
      .select(year(col("o_orderdate")).cast("int").as("o_year"),
        (dec(col("l_extendedprice"), 12, 2) * (one - dec(col("l_discount"), 4, 2)))
          .as("volume"),
        col("supp_nation"))
    rev.groupBy("o_year")
      .agg(
        (sum(when(col("supp_nation") === "NATION_3", col("volume"))
          .otherwise(lit(0).cast(DecimalType(3, 2)))).cast("double")
          / sum(col("volume")).cast("double")).as("mkt_share"),
        count(lit(1)).as("n_lines"))
      .orderBy("o_year")
  }

  // q169 — TPC-H Q13 shape (customer order-count distribution): the
  // double-aggregation-over-outer-join workload — customers LEFT-join
  // orders on a FILTERED join condition (the filter must live in the
  // join predicate, not a WHERE: a post-join filter would silently drop
  // the zero-order customers the left join exists to keep), count
  // orders per customer with COUNT(column) (nulls from unmatched
  // customers count as zero), then histogram the counts. Two keyed
  // aggregations; the second groups a 20-ish-row domain, so its
  // exchange is trivial at any scale.
  val q169TpchQ13: QueryDef = QueryDef.sql(
    "q169_tpch_q13",
    """WITH co AS (SELECT c_custkey, COUNT(o_orderkey) AS c_count
      |            FROM customer LEFT JOIN orders
      |              ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      |            GROUP BY 1)
      |SELECT CAST(c_count AS BIGINT) AS c_count, CAST(COUNT(*) AS BIGINT) AS custdist
      |FROM co GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin) { (s, d) =>
    val co = Tables.customer(s, d).select(col("c_custkey"))
      .join(Tables.orders(s, d)
          .filter(col("o_orderpriority") =!= "1-URGENT")
          .select(col("o_custkey"), col("o_orderkey")),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey").agg(count(col("o_orderkey")).as("c_count"))
    co.groupBy("c_count").agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  // q170 — TPC-H Q17 shape (small-quantity-order revenue): lines whose
  // quantity is below 0.4× their part's average, reported per brand —
  // the correlated-scalar-AVG decorrelation workload. The oracle writes
  // the correlation as a pre-aggregated CTE joined back (what a
  // decorrelating planner produces); the engine runs the same shape
  // explicitly: one keyed aggregation over lineitem builds the per-part
  // (count, sum) pair, joined back to lineitem ON partkey — a keyed
  // shuffle join, NOT a broadcast: the per-part table has one row per
  // part and outgrows any broadcast at catalog scale. The 0.4×avg
  // comparison is multiplied out (5·qty·n < 2·sum) over BIGINTs
  // (quantities are integral), so no division, no decimal-vs-double
  // AVG divergence — the boundary rows are integer-exact cross-engine.
  // Revenue aggregates in decimal, emitted as double (q12 discipline).
  val q170TpchQ17: QueryDef = QueryDef.sql(
    "q170_tpch_q17",
    """WITH pa AS (SELECT l_partkey, COUNT(*) AS n_lines,
      |                   SUM(CAST(l_quantity AS BIGINT)) AS sum_qty
      |            FROM lineitem GROUP BY 1)
      |SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_small,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
      |         AS small_revenue
      |FROM lineitem
      |JOIN pa ON lineitem.l_partkey = pa.l_partkey
      |JOIN part ON p_partkey = lineitem.l_partkey
      |WHERE 5 * CAST(l_quantity AS BIGINT) * n_lines < 2 * sum_qty
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    val pa = Tables.lineitem(s, d)
      .groupBy("l_partkey")
      .agg(count(lit(1)).as("n_lines"),
        sum(col("l_quantity").cast(LongType)).as("sum_qty"))
      .withColumnRenamed("l_partkey", "pa_partkey")
    Tables.lineitem(s, d)
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      .join(pa, col("l_partkey") === col("pa_partkey"))
      .filter(lit(5) * col("l_quantity").cast(LongType) * col("n_lines")
        < lit(2) * col("sum_qty"))
      .join(broadcast(Tables.part(s, d).select(col("p_partkey"), col("p_brand"))),
        col("p_partkey") === col("l_partkey"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_small"),
        dsum(dec(col("l_extendedprice"), 12, 2)).as("small_revenue"))
      .orderBy("p_brand")
  }

  // q171 — TPC-H Q18 shape (large-volume orders): orders whose total
  // quantity clears a threshold, rejoined to their customer — the
  // HAVING-subquery-then-semi-join workload. The oracle spells it as
  // Q18 does (the big-order set as a HAVING CTE, orders/customer joined
  // against it); the engine computes the per-order aggregate ONCE and
  // keeps it as the probe side — the filtered aggregate IS the
  // semi-join, so lineitem is scanned once, not twice. The agg shuffles
  // on orderkey, the orders join reuses that key, the customer join
  // shuffles on custkey, and the final top-100 is TakeOrderedAndProject
  // (no global sort). Quantities sum in decimal; threshold compare and
  // ordering are exact; o_totalprice ties break on o_orderkey.
  val q171TpchQ18: QueryDef = QueryDef.sql(
    "q171_tpch_q18",
    """WITH big AS (SELECT l_orderkey,
      |                    SUM(CAST(l_quantity AS BIGINT)) AS total_qty
      |             FROM lineitem GROUP BY 1
      |             HAVING SUM(CAST(l_quantity AS BIGINT)) > 140)
      |SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
      |       CAST(total_qty AS BIGINT) AS total_qty
      |FROM big
      |JOIN orders ON o_orderkey = l_orderkey
      |JOIN customer ON c_custkey = o_custkey
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin) { (s, d) =>
    val big = Tables.lineitem(s, d)
      .groupBy("l_orderkey")
      .agg(sum(col("l_quantity").cast(LongType)).as("total_qty"))
      .filter(col("total_qty") > 140)
    big
      .join(Tables.orders(s, d), col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(s, d), col("c_custkey") === col("o_custkey"))
      .select("c_name", "c_custkey", "o_orderkey", "o_orderdate",
        "o_totalprice", "total_qty")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  // q172 — TPC-H Q20 shape (dominant suppliers of a part family): the
  // nested-semi-join chain — suppliers who shipped >25% of some
  // 'small %' part's post-1997 volume, resolved to their nation. The
  // part-name filter semi-joins lineitem down before any aggregation
  // (left_semi on the filtered part keys — at catalog scale the
  // filtered part set is still join-sized, so it stays a keyed
  // semi-join, not a broadcast); the (supplier, part) aggregation
  // shuffles once on its grain; the per-part total rides a window over
  // the SAME partkey family (no second aggregate + join-back — the
  // oracle writes that form, the engine fuses it); the dominant-key
  // set is distinct + semi-join into supplier. Share compare is
  // multiplied out over BIGINT (qty·4 > total), division-free.
  val q172TpchQ20: QueryDef = QueryDef.sql(
    "q172_tpch_q20",
    """WITH sp AS (
      |  SELECT l_suppkey, l_partkey,
      |         SUM(CAST(l_quantity AS BIGINT)) AS supp_qty
      |  FROM lineitem
      |  WHERE l_partkey IN (SELECT p_partkey FROM part
      |                      WHERE p_name LIKE 'small %')
      |    AND l_shipdate >= TIMESTAMP '1997-01-01'
      |  GROUP BY 1, 2),
      |tot AS (SELECT l_partkey AS t_partkey, SUM(supp_qty) AS part_qty
      |        FROM sp GROUP BY 1),
      |dom AS (SELECT DISTINCT l_suppkey
      |        FROM sp JOIN tot ON l_partkey = t_partkey
      |        WHERE supp_qty * 4 > part_qty)
      |SELECT s_suppkey, s_name, n_name
      |FROM supplier
      |JOIN nation ON s_nationkey = n_nationkey
      |WHERE s_suppkey IN (SELECT l_suppkey FROM dom)
      |ORDER BY s_suppkey""".stripMargin) { (s, d) =>
    val smallParts = Tables.part(s, d)
      .filter(col("p_name").like("small %")).select("p_partkey")
    val sp = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast(TimestampType))
      .select("l_suppkey", "l_partkey", "l_quantity")
      .join(smallParts, col("l_partkey") === col("p_partkey"), "left_semi")
      .groupBy("l_suppkey", "l_partkey")
      .agg(sum(col("l_quantity").cast(LongType)).as("supp_qty"))
    val dom = sp
      .withColumn("part_qty",
        sum("supp_qty").over(Window.partitionBy("l_partkey")))
      .filter(col("supp_qty") * 4 > col("part_qty"))
      .select("l_suppkey").distinct()
    Tables.supplier(s, d)
      .join(dom, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .join(broadcast(Tables.nation(s, d)),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "s_name", "n_name")
      .orderBy("s_suppkey")
  }

  // q173 — TPC-H Q22 shape (dormant high-balance customers): customers
  // above the average positive balance with NO order since 2000 —
  // the global-scalar-subquery + anti-join workload. The scalar
  // (count, sum) pair over positive balances is a 1-row aggregate
  // cross-joined back as a broadcast (the only safe crossJoin shape);
  // the above-average compare is multiplied out (bal·n > sum) in
  // decimal×BIGINT, division- and AVG-free so the boundary is exact
  // cross-engine. The NOT EXISTS is a keyed left_anti against the
  // date-filtered orders (filter pushed below the anti-join's
  // shuffle); nation broadcasts for the final rollup.
  val q173TpchQ22: QueryDef = QueryDef.sql(
    "q173_tpch_q22",
    """WITH t AS (SELECT COUNT(*) AS n_pos,
      |                  SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS sum_bal
      |           FROM customer WHERE c_acctbal > 0)
      |SELECT n_name, CAST(COUNT(*) AS BIGINT) AS numcust,
      |       CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
      |         AS totacctbal
      |FROM customer JOIN nation ON c_nationkey = n_nationkey, t
      |WHERE CAST(c_acctbal AS DECIMAL(12,2)) * n_pos > sum_bal
      |  AND NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey
      |                    AND o_orderdate >= TIMESTAMP '2000-01-01')
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    val t = Tables.customer(s, d)
      .filter(col("c_acctbal") > 0)
      .agg(count(lit(1)).as("n_pos"),
        sum(dec(col("c_acctbal"), 12, 2)).as("sum_bal"))
    Tables.customer(s, d)
      .join(Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit("2000-01-01").cast(TimestampType))
          .select("o_custkey"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .crossJoin(broadcast(t))
      .filter(dec(col("c_acctbal"), 12, 2) * col("n_pos") > col("sum_bal"))
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("numcust"),
        dsum(dec(col("c_acctbal"), 12, 2)).as("totacctbal"))
      .orderBy("n_name")
  }

  // q174 — TPC-H Q15 shape (top supplier by quarterly revenue): the
  // max-over-aggregated-view workload — suppliers whose Q1'98 revenue
  // EQUALS the global maximum of that same aggregate. The engine
  // aggregates once (keyed on suppkey, date filter pushed to the
  // scan), reduces the max to ONE row, and broadcast-cross-joins it
  // back for the equality filter — no window-over-everything funneling
  // the whole aggregate through one partition, no driver collect. The
  // winner set is provably tiny, so it broadcasts into the supplier
  // dim join. Revenue is an exact decimal sum; the max-equality
  // compares decimals, emitted as double only at the end.
  val q174TpchQ15: QueryDef = QueryDef.sql(
    "q174_tpch_q15",
    """WITH rev AS (
      |  SELECT l_suppkey,
      |         SUM(CAST(l_extendedprice AS DECIMAL(12,2))
      |             * (CAST(1 AS DECIMAL(3,2))
      |                - CAST(l_discount AS DECIMAL(4,2)))) AS total_rev
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1998-01-01'
      |    AND l_shipdate < TIMESTAMP '1998-04-01'
      |  GROUP BY 1)
      |SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_rev
      |FROM supplier JOIN rev ON s_suppkey = l_suppkey
      |WHERE total_rev = (SELECT MAX(total_rev) FROM rev)
      |ORDER BY s_suppkey""".stripMargin) { (s, d) =>
    val one = lit(1).cast(DecimalType(3, 2))
    val rev = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1998-01-01").cast(TimestampType)
        && col("l_shipdate") < lit("1998-04-01").cast(TimestampType))
      .groupBy("l_suppkey")
      .agg(sum(dec(col("l_extendedprice"), 12, 2)
        * (one - dec(col("l_discount"), 4, 2))).as("total_rev"))
    val mx = rev.agg(max("total_rev").as("max_rev"))
    val winners = rev.crossJoin(broadcast(mx))
      .filter(col("total_rev") === col("max_rev"))
      .select("l_suppkey", "total_rev")
    Tables.supplier(s, d)
      .join(broadcast(winners), col("s_suppkey") === col("l_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("total_rev").cast(DoubleType).as("total_rev"))
      .orderBy("s_suppkey")
  }

  // q175 — TPC-H Q4 shape (order-priority checking): orders in a year
  // window with at least one line shipped >30 days after the order
  // date — the EXISTS-with-inequality semi-join workload. The engine
  // plans it as ONE left_semi join whose condition mixes the orderkey
  // equi-conjunct with the shipdate inequality: the equi key drives
  // the shuffle (sort-merge semi on orderkey), the inequality rides
  // along as the join residual — no aggregation of lineitem, no
  // distinct, state O(1) per matched order. The date window is pushed
  // to the orders scan; the interval arithmetic is day-granular
  // timestamp math, exact in both engines.
  val q175TpchQ4: QueryDef = QueryDef.sql(
    "q175_tpch_q4",
    """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      |  AND o_orderdate < TIMESTAMP '1998-01-01'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey
      |                AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1997-01-01").cast(TimestampType)
        && col("o_orderdate") < lit("1998-01-01").cast(TimestampType))
      .join(Tables.lineitem(s, d).select("l_orderkey", "l_shipdate"),
        col("l_orderkey") === col("o_orderkey")
          && col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"),
        "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  // q176 — TPC-H Q19 shape (disjunctive discount revenue): the
  // OR-of-ANDs predicate-pushdown workload — three (brand, size,
  // quantity) clauses OR'd together across a join, written exactly as
  // a user would (one disjunction over the joined relation). The
  // engine does NOT pre-split the disjunction: Catalyst's CNF
  // conversion factors the side-local implications out of the OR and
  // pushes a brand/size filter into the part scan and a quantity
  // range into the lineitem scan (both visible as PushedFilters in
  // PLANS.md), leaving the cross-side residual on the join — the
  // point of the query is that the declarative form PRUNES. Revenue
  // is the exact decimal sum, emitted as double.
  val q176TpchQ19: QueryDef = QueryDef.sql(
    "q176_tpch_q19",
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
      |                * (CAST(1 AS DECIMAL(3,2))
      |                   - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
      |         AS revenue
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
      |       AND l_quantity >= 1 AND l_quantity <= 11)
      |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 30
      |       AND l_quantity >= 10 AND l_quantity <= 20)
      |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 50
      |       AND l_quantity >= 20 AND l_quantity <= 30)""".stripMargin) { (s, d) =>
    val cl1 = col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
      col("l_quantity") >= 1 && col("l_quantity") <= 11
    val cl2 = col("p_brand") === "Brand#23" && col("p_size").between(1, 30) &&
      col("l_quantity") >= 10 && col("l_quantity") <= 20
    val cl3 = col("p_brand") === "Brand#34" && col("p_size").between(1, 50) &&
      col("l_quantity") >= 20 && col("l_quantity") <= 30
    Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d)), col("p_partkey") === col("l_partkey"))
      .filter(cl1 || cl2 || cl3)
      .agg(count(lit(1)).as("n_lines"),
        dsum(dec(col("l_extendedprice"), 12, 2)
          * (lit(1).cast(DecimalType(3, 2)) - dec(col("l_discount"), 4, 2)))
          .as("revenue"))
  }

  // q177 — TPC-H Q7 shape (volume shipping between two nation groups):
  // the two-sided-disjunction join workload — trade in BOTH directions
  // between group A and group B, by ship year. The nation pair
  // condition references both dimension chains at once, so it cannot
  // push below either join; it stays a residual on the LAST dim join
  // while each chain's membership filter (n_name IN group A∪B) prunes
  // its own broadcast side. Facts shuffle on their keys, dims
  // broadcast, the year rollup is a small keyed agg. Ship-date window
  // pushes to the lineitem scan.
  val q177TpchQ7: QueryDef = QueryDef.sql(
    "q177_tpch_q7",
    """SELECT supp_nation, cust_nation, l_year,
      |       CAST(COUNT(*) AS BIGINT) AS n_lines,
      |       CAST(SUM(volume) AS DOUBLE) AS revenue
      |FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |             CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS l_year,
      |             CAST(l_extendedprice AS DECIMAL(12,2))
      |               * (CAST(1 AS DECIMAL(3,2))
      |                  - CAST(l_discount AS DECIMAL(4,2))) AS volume
      |      FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
      |      JOIN orders ON o_orderkey = l_orderkey
      |      JOIN customer ON c_custkey = o_custkey
      |      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |      WHERE ((n1.n_name IN ('NATION_1','NATION_2','NATION_3')
      |              AND n2.n_name IN ('NATION_4','NATION_5','NATION_6'))
      |          OR (n1.n_name IN ('NATION_4','NATION_5','NATION_6')
      |              AND n2.n_name IN ('NATION_1','NATION_2','NATION_3')))
      |        AND l_shipdate >= TIMESTAMP '1996-01-01'
      |        AND l_shipdate < TIMESTAMP '1998-01-01')
      |GROUP BY 1,2,3 ORDER BY 1,2,3""".stripMargin) { (s, d) =>
    val groupA = Seq("NATION_1", "NATION_2", "NATION_3")
    val groupB = Seq("NATION_4", "NATION_5", "NATION_6")
    val n1 = Tables.nation(s, d)
      .select(col("n_nationkey").as("n1_key"), col("n_name").as("supp_nation"))
      .filter(col("supp_nation").isin(groupA ++ groupB: _*))
    val n2 = Tables.nation(s, d)
      .select(col("n_nationkey").as("n2_key"), col("n_name").as("cust_nation"))
      .filter(col("cust_nation").isin(groupA ++ groupB: _*))
    val pairCond =
      (col("supp_nation").isin(groupA: _*) && col("cust_nation").isin(groupB: _*)) ||
        (col("supp_nation").isin(groupB: _*) && col("cust_nation").isin(groupA: _*))
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast(TimestampType)
        && col("l_shipdate") < lit("1998-01-01").cast(TimestampType))
      .join(Tables.supplier(s, d), col("s_suppkey") === col("l_suppkey"))
      .join(Tables.orders(s, d), col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(s, d), col("c_custkey") === col("o_custkey"))
      .join(broadcast(n1), col("s_nationkey") === col("n1_key"))
      .join(broadcast(n2), col("c_nationkey") === col("n2_key") && pairCond)
      .select(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("int").as("l_year"),
        (dec(col("l_extendedprice"), 12, 2)
          * (lit(1).cast(DecimalType(3, 2)) - dec(col("l_discount"), 4, 2)))
          .as("volume"))
      .groupBy("supp_nation", "cust_nation", "l_year")
      .agg(count(lit(1)).as("n_lines"), dsum(col("volume")).as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  // q184 — TPC-H Q3 shape (shipping priority): the classic
  // filter-join-aggregate-topN. Each scan keeps its own filter (segment
  // on customer, order date on orders, ship date on lineitem — all
  // pushed, all below the shuffles), the two joins ride the
  // orderkey/custkey families, and the top-10 is TakeOrderedAndProject
  // — never a global sort. Revenue aggregates in exact decimal and is
  // ordered on the emitted double (identical IEEE rounding of identical
  // decimals on both engines), ties broken by date + key.
  val q184TpchQ3: QueryDef = QueryDef.sql(
    "q184_tpch_q3",
    """SELECT l_orderkey,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
      |                * (CAST(1 AS DECIMAL(3,2))
      |                   - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
      |       o_orderdate, o_orderpriority
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-06-01'
      |  AND l_shipdate > TIMESTAMP '1998-06-01'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, o_orderdate, l_orderkey
      |LIMIT 10""".stripMargin) { (s, d) =>
    val revenue =
      dec(col("l_extendedprice"), 12, 2) *
        (lit(1).cast(DecimalType(3, 2)) - dec(col("l_discount"), 4, 2))
    Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      .join(Tables.orders(s, d)
          .filter(col("o_orderdate") < lit("1998-06-01").cast(TimestampType)),
        col("o_custkey") === col("c_custkey"))
      .join(Tables.lineitem(s, d)
          .filter(col("l_shipdate") > lit("1998-06-01").cast(TimestampType)),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
      .agg(dsum(revenue).as("revenue"))
      .select(col("l_orderkey"), col("revenue"), col("o_orderdate"),
        col("o_orderpriority"))
      .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
      .limit(10)
  }

  // q185 — TPC-H Q10 shape (returned-item reporting): which customers
  // returned the most revenue last quarter. The date window pushes to
  // the orders scan and the returnflag to the lineitem scan; fact joins
  // shuffle on their key families, the nation resolve broadcasts, and
  // the top-20 is TakeOrderedAndProject. The customer attribute columns
  // ride THROUGH the aggregation as grouping keys (one keyed agg — no
  // second join-back to re-attach them).
  val q185TpchQ10: QueryDef = QueryDef.sql(
    "q185_tpch_q10",
    """SELECT c_custkey, c_name,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
      |                * (CAST(1 AS DECIMAL(3,2))
      |                   - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
      |       c_acctbal, n_name, CAST(COUNT(*) AS BIGINT) AS n_items
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      |  AND o_orderdate < TIMESTAMP '1997-04-01'
      |  AND l_returnflag = 'R'
      |GROUP BY c_custkey, c_name, c_acctbal, n_name
      |ORDER BY revenue DESC, c_custkey
      |LIMIT 20""".stripMargin) { (s, d) =>
    val revenue =
      dec(col("l_extendedprice"), 12, 2) *
        (lit(1).cast(DecimalType(3, 2)) - dec(col("l_discount"), 4, 2))
    Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit("1997-01-01").cast(TimestampType) &&
            col("o_orderdate") < lit("1997-04-01").cast(TimestampType)),
        col("o_custkey") === col("c_custkey"))
      .join(Tables.lineitem(s, d).filter(col("l_returnflag") === "R"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
      .agg(dsum(revenue).as("revenue"), count(lit(1)).as("n_items"))
      .select(col("c_custkey"), col("c_name"), col("revenue"), col("c_acctbal"),
        col("n_name"), col("n_items"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  // q186 — TPC-H Q14 shape (promotion effect): the conditional-
  // aggregate-ratio workload. ONE pass over the month's lineitem
  // (window pushed to the scan) with the part join broadcast; promo and
  // total revenue accumulate as exact decimals in the same aggregate,
  // and the percentage divides the two emitted DOUBLES (identical IEEE
  // operands ⇒ identical quotient on both engines — never a
  // decimal-division, whose rounding rules differ cross-engine).
  val q186TpchQ14: QueryDef = QueryDef.sql(
    "q186_tpch_q14",
    """SELECT CAST(SUM(CASE WHEN p_type LIKE 'ECO%' THEN
      |                 CAST(l_extendedprice AS DECIMAL(12,2))
      |                 * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))
      |               ELSE CAST(0 AS DECIMAL(14,4)) END) AS DOUBLE) AS promo_revenue,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
      |                * (CAST(1 AS DECIMAL(3,2))
      |                   - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS total_revenue,
      |       CAST(100 AS DOUBLE) *
      |         (CAST(SUM(CASE WHEN p_type LIKE 'ECO%' THEN
      |                     CAST(l_extendedprice AS DECIMAL(12,2))
      |                     * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))
      |                   ELSE CAST(0 AS DECIMAL(14,4)) END) AS DOUBLE)
      |          / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
      |                     * (CAST(1 AS DECIMAL(3,2))
      |                        - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE))
      |         AS promo_pct
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE l_shipdate >= TIMESTAMP '1997-09-01'
      |  AND l_shipdate < TIMESTAMP '1997-10-01'""".stripMargin) { (s, d) =>
    val revenue =
      dec(col("l_extendedprice"), 12, 2) *
        (lit(1).cast(DecimalType(3, 2)) - dec(col("l_discount"), 4, 2))
    val promo = when(col("p_type").like("ECO%"), revenue)
      .otherwise(lit(0).cast(DecimalType(14, 4)))
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1997-09-01").cast(TimestampType) &&
        col("l_shipdate") < lit("1997-10-01").cast(TimestampType))
      .join(broadcast(Tables.part(s, d)), col("p_partkey") === col("l_partkey"))
      .agg(dsum(promo).as("promo_revenue"), dsum(revenue).as("total_revenue"))
      .select(col("promo_revenue"), col("total_revenue"),
        (lit(100).cast(DoubleType) *
          (col("promo_revenue") / col("total_revenue"))).as("promo_pct"))
  }

  // q187 — TPC-H Q6 shape (forecasting revenue change): the pure
  // scan-side workload — every predicate (ship-date window, discount
  // band, quantity cap) pushes to the parquet scan, zero joins, one
  // map-side-combinable aggregate. The plan IS the point: PushedFilters
  // carries all three, and the whole query is one codegen span over one
  // exchange.
  val q187TpchQ6: QueryDef = QueryDef.sql(
    "q187_tpch_q6",
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
      |                * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
      |       CAST(COUNT(*) AS BIGINT) AS n_lines
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      |  AND l_shipdate < TIMESTAMP '1998-01-01'
      |  AND l_discount BETWEEN 0.05 AND 0.07
      |  AND l_quantity < 24""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast(TimestampType) &&
        col("l_shipdate") < lit("1998-01-01").cast(TimestampType) &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(dsum(dec(col("l_extendedprice"), 12, 2) * dec(col("l_discount"), 4, 2))
          .as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  // q189 — TPC-H Q2 shape (minimum-cost supplier), completing the
  // 22-shape planning canon together with q190–q193 [EXT; no partsupp
  // table in the lake, so per-(part,supplier) supply cost is the MIN
  // observed unit price over their lineitems — same correlated-min
  // workload]. The plan: the tiny filtered part set broadcasts INTO the
  // lineitem scan BEFORE the (partkey,suppkey) aggregation (1/50 of
  // lineitem survives to the shuffle), supplier→nation→region resolves
  // broadcast with the region filter pruning the build side, and the
  // correlated "cheapest supplier of this part" subquery is a window
  // MIN over the partkey family (Q20's fused-window trick — never a
  // second aggregate-and-join-back). Per-row unit price divides
  // identical doubles in both engines; MIN picks an existing value, so
  // the best-cost equality compares bit-identical doubles.
  val q189TpchQ2: QueryDef = QueryDef.sql(
    "q189_tpch_q2",
    """WITH cost AS (
      |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
      |         min(l_extendedprice / l_quantity) AS supply_cost
      |  FROM lineitem JOIN part ON p_partkey = l_partkey
      |  WHERE p_size = 15
      |  GROUP BY 1, 2
      |), regional AS (
      |  SELECT ps_partkey, supply_cost, s_acctbal, s_name, n_name,
      |         min(supply_cost) OVER (PARTITION BY ps_partkey) AS best_cost
      |  FROM cost JOIN supplier ON s_suppkey = ps_suppkey
      |            JOIN nation ON n_nationkey = s_nationkey
      |            JOIN region ON r_regionkey = n_regionkey
      |  WHERE r_name = 'EUROPE'
      |)
      |SELECT s_acctbal, s_name, n_name, ps_partkey AS p_partkey, p_type,
      |       supply_cost
      |FROM regional JOIN part ON p_partkey = ps_partkey
      |WHERE supply_cost = best_cost
      |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
      |LIMIT 100""".stripMargin) { (s, d) =>
    val p = Tables.part(s, d).filter(col("p_size") === 15)
      .select("p_partkey", "p_type")
    val dims = Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d)),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d).filter(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      .select("s_suppkey", "s_acctbal", "s_name", "n_name")
    Tables.lineitem(s, d)
      .select("l_partkey", "l_suppkey", "l_extendedprice", "l_quantity")
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy("l_partkey", "p_type", "l_suppkey")
      .agg(min(col("l_extendedprice") / col("l_quantity")).as("supply_cost"))
      .join(broadcast(dims), col("l_suppkey") === col("s_suppkey"))
      .withColumn("best_cost",
        min(col("supply_cost")).over(Window.partitionBy(col("l_partkey"))))
      .filter(col("supply_cost") === col("best_cost"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
        col("l_partkey").as("p_partkey"), col("p_type"), col("supply_cost"))
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
        col("p_partkey"))
      .limit(100)
  }

  // q190 — TPC-H Q9 shape (product-type profit by nation and year)
  // [EXT; supply cost surrogate = 20% of the part's retail price — a
  // pure function of the part row, so the profit expression stays
  // deterministic]. The expression-heavy many-join workload: the
  // part-name substring filter broadcasts into the lineitem scan FIRST
  // (the big semi-reduction), supplier→nation broadcasts, and only the
  // surviving lines shuffle on orderkey against orders for the year.
  // Profit accumulates exactly in decimal (price, discount, retail
  // cost all cast at the base columns), emitted as double once.
  val q190TpchQ9: QueryDef = QueryDef.sql(
    "q190_tpch_q9",
    """SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
      |                  * (CAST(1 AS DECIMAL(3,2))
      |                     - CAST(l_discount AS DECIMAL(4,2)))
      |                - CAST(p_retailprice AS DECIMAL(12,2))
      |                  * CAST(0.2 AS DECIMAL(3,2))
      |                  * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
      |         AS sum_profit
      |FROM lineitem
      |JOIN part ON p_partkey = l_partkey
      |JOIN supplier ON s_suppkey = l_suppkey
      |JOIN orders ON o_orderkey = l_orderkey
      |JOIN nation ON n_nationkey = s_nationkey
      |WHERE p_name LIKE '%red%'
      |GROUP BY 1, 2
      |ORDER BY nation, o_year DESC""".stripMargin) { (s, d) =>
    val profit =
      dec(col("l_extendedprice"), 12, 2) *
        (lit(1).cast(DecimalType(3, 2)) - dec(col("l_discount"), 4, 2)) -
        dec(col("p_retailprice"), 12, 2) * lit(0.2).cast(DecimalType(3, 2)) *
          dec(col("l_quantity"), 12, 2)
    Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d).filter(col("p_name").contains("red"))
          .select("p_partkey", "p_retailprice")),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(Tables.supplier(s, d)
          .join(broadcast(Tables.nation(s, d)),
            col("s_nationkey") === col("n_nationkey"))
          .select("s_suppkey", "n_name")),
        col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(s, d).select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("o_orderdate")).as("o_year"))
      .agg(dsum(profit).as("sum_profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  // q191 — TPC-H Q11 shape (important inventory value): the
  // group-aggregate-vs-global-scalar-threshold workload [EXT; "stock
  // value" = a two-nation supplier group's lineitem revenue per part,
  // threshold 1/20000 of the total — both chosen non-degenerate at
  // every test SF (single-nation + 1/1000 empties at sf0.1)]. The
  // per-part aggregate is computed ONCE as a keyed shuffle over the
  // broadcast-semi-reduced lineitem; the global total reduces that
  // (already part-grain) relation to ONE row which broadcast-cross-joins
  // back (the q173/q174 scalar-subquery shape — no window-over-
  // everything single-partition funnel), and Spark's ReuseExchange
  // dedupes the shared aggregation subtree. The threshold compare
  // multiplies out to value·20000 > total over pinned decimals (division-
  // free, exact at the boundary); ordering is on the emitted double with
  // the partkey tiebreak.
  val q191TpchQ11: QueryDef = QueryDef.sql(
    "q191_tpch_q11",
    """WITH val AS (
      |  SELECT l_partkey AS partkey,
      |         SUM(CAST(l_extendedprice AS DECIMAL(12,2))
      |             * (CAST(1 AS DECIMAL(3,2))
      |                - CAST(l_discount AS DECIMAL(4,2)))) AS value
      |  FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
      |                JOIN nation ON n_nationkey = s_nationkey
      |  WHERE n_name IN ('NATION_7', 'NATION_13')
      |  GROUP BY 1
      |)
      |SELECT partkey, CAST(value AS DOUBLE) AS value
      |FROM val, (SELECT SUM(CAST(value AS DECIMAL(20,4))) AS total FROM val) t
      |WHERE CAST(value AS DECIMAL(20,4)) * 20000 > total
      |ORDER BY value DESC, partkey""".stripMargin) { (s, d) =>
    val revenue =
      dec(col("l_extendedprice"), 12, 2) *
        (lit(1).cast(DecimalType(3, 2)) - dec(col("l_discount"), 4, 2))
    val v = Tables.lineitem(s, d)
      .select("l_partkey", "l_suppkey", "l_extendedprice", "l_discount")
      .join(broadcast(Tables.supplier(s, d)
          .join(broadcast(Tables.nation(s, d)
              .filter(col("n_name").isin("NATION_7", "NATION_13"))),
            col("s_nationkey") === col("n_nationkey"))
          .select("s_suppkey")),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey").as("partkey"))
      .agg(sum(revenue).cast(DecimalType(20, 4)).as("value"))
    val total = v.agg(sum(col("value")).as("total"))
    v.crossJoin(broadcast(total))
      .filter(col("value") * 20000 > col("total"))
      .select(col("partkey"), col("value").cast(DoubleType).as("value"))
      .orderBy(col("value").desc, col("partkey"))
  }

  // q192 — TPC-H Q12 shape (shipping-mode service levels) [EXT; no
  // shipmode/commit/receipt columns, so "late" = shipped >45 days after
  // the order date and the reporting dimension is the line status]: ONE
  // orderkey-family shuffle join with the ship-date year window pushed
  // to the lineitem scan, the cross-table lateness inequality riding as
  // the join residual, and a two-arm conditional aggregate (urgent vs
  // non-urgent order priority) folded into a single tiny keyed agg —
  // integer counts, no distinct, no window.
  val q192TpchQ12: QueryDef = QueryDef.sql(
    "q192_tpch_q12",
    """SELECT l_linestatus AS linestatus,
      |       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS high_count,
      |       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |                     THEN 0 ELSE 1 END) AS BIGINT) AS low_count
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      |  AND l_shipdate < TIMESTAMP '1998-01-01'
      |  AND l_shipdate > o_orderdate + INTERVAL 45 DAY
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    val urgent = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    Tables.orders(s, d).select("o_orderkey", "o_orderdate", "o_orderpriority")
      .join(Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= lit("1997-01-01").cast(TimestampType) &&
            col("l_shipdate") < lit("1998-01-01").cast(TimestampType))
          .select("l_orderkey", "l_shipdate", "l_linestatus"),
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 45 DAYS"))
      .groupBy(col("l_linestatus").as("linestatus"))
      .agg(sum(when(urgent, 1).otherwise(0)).as("high_count"),
        sum(when(urgent, 0).otherwise(1)).as("low_count"))
      .orderBy("linestatus")
  }

  // q193 — TPC-H Q16 shape (supplier relationship counting) [EXT;
  // part↔supplier association via lineitem; "customer complaints" =
  // negative account balance]: the COUNT(DISTINCT) + NOT-IN workload.
  // All three part predicates (brand ≠, type NOT IN, size IN) push into
  // the part scan and broadcast into lineitem; the exclusion list is a
  // provably tiny broadcast LEFT ANTI on a non-nullable key (a plain
  // anti-join — contrast q178, where subquery nullability forces the
  // null-aware variant); the distinct-supplier count per (brand, type,
  // size) is Spark's two-phase partial-distinct aggregate on the one
  // composite-key shuffle.
  val q193TpchQ16: QueryDef = QueryDef.sql(
    "q193_tpch_q16",
    """SELECT p_brand, p_type, p_size,
      |       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE p_brand <> 'Brand#45' AND p_type NOT IN ('PROMO', 'ECONOMY')
      |  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
      |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
      |                        WHERE s_acctbal < 0)
      |GROUP BY 1, 2, 3
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin) {
    (s, d) =>
    val p = Tables.part(s, d)
      .filter(col("p_brand") =!= "Brand#45" &&
        !col("p_type").isin("PROMO", "ECONOMY") &&
        col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45))
      .select("p_partkey", "p_brand", "p_type", "p_size")
    val excluded = Tables.supplier(s, d).filter(col("s_acctbal") < 0)
      .select("s_suppkey")
    Tables.lineitem(s, d).select("l_partkey", "l_suppkey")
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(excluded), col("l_suppkey") === col("s_suppkey"),
        "left_anti")
      .groupBy("p_brand", "p_type", "p_size")
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
        col("p_size"))
  }

  val all: Seq[QueryDef] = Seq(
    q01ScanProject, q02Filter, q06DictLookup, q07Dedup, q08LatestSnapshot,
    q09Union, q10SortLimit, q11Count, q12GroupbyAgg, q13JoinAgg, q14Window,
    q15JsonExtract, q17TimeWindow, q114StarJoin, q134AvgQtyFilter, q147TpchQ5,
    q269CboQ5,
    q163TpchQ21, q168TpchQ8, q169TpchQ13, q170TpchQ17, q171TpchQ18,
    q172TpchQ20, q173TpchQ22, q174TpchQ15, q175TpchQ4, q176TpchQ19,
    q177TpchQ7, q184TpchQ3, q185TpchQ10, q186TpchQ14, q187TpchQ6,
    q189TpchQ2, q190TpchQ9, q191TpchQ11, q192TpchQ12, q193TpchQ16)
}

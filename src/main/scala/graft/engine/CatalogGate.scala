package graft.engine

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.sources.Versioned

/** The shared harness of the versioned-table scenario gates
  * (`operators.Incremental`, `operators.StreamQueries`). A gate builds a
  * table history over `part`, checks its scenario, and answers with one
  * `phase, n, sum_cents` row per phase — a table, a version or a
  * predicate — which the oracle replays closed-form.
  *
  * `CatalogGate(s, qname)` wipes the gate's [[Staging.scratch]] directory
  * and registers it as the warehouse of the `graft_cat` SQL catalog.
  * The conf stays set after the gate returns: the returned DataFrame
  * reads `graft_cat` lazily.
  */
final class CatalogGate private (s: SparkSession, val root: java.io.File) {

  /** The warehouse path; table `graft_cat.t` lives in `wh/t`. */
  val wh: String = root.getAbsolutePath

  /** The `phase, n, sum_cents` aggregate of `from` (a table name, a
    * `VERSION AS OF` read, a branch), filtered by `cond` when given.
    */
  def read(phase: String, from: String, cond: String = ""): DataFrame = s.sql(
    s"SELECT '$phase' AS phase, CAST(COUNT(*) AS BIGINT) AS n, " +
      s"CAST(SUM(cents) AS BIGINT) AS sum_cents FROM $from" +
      (if (cond.isEmpty) "" else s" WHERE $cond"))

  /** A `phase, a, b` row: `sql`'s `a` and `b` columns as BIGINT — the
    * answer shape of the aggregate-pushdown gates (q296, q302).
    */
  def readAB(phase: String, sql: String): DataFrame = s.sql(sql).select(
    lit(phase).as("phase"),
    col("a").cast(LongType).as("a"), col("b").cast(LongType).as("b"))

  /** [[read]], collected now — for a phase a later commit would move. */
  def collect(phase: String, from: String, cond: String = ""): (String, Long, Long) =
    CatalogGate.collectPhase(read(phase, from, cond))

  /** Collected phase rows as a `phase, n, sum_cents` frame. */
  def local(rows: (String, Long, Long)*): DataFrame = {
    import s.implicits._
    rows.toDF("phase", "n", "sum_cents")
  }

  /** Requires `ok` of the number of data files a scan of `from` filtered
    * by `cond` plans (the scan's pruning, observed through `_file`). The
    * count is taken once; a failure reports it. Returns the count.
    */
  def requireFiles(from: String, cond: String, what: String)(ok: Long => Boolean): Long = {
    val n = s.sql(s"SELECT COUNT(DISTINCT _file) FROM $from WHERE $cond")
      .head.getLong(0)
    require(ok(n), s"$what: planned $n files")
    n
  }

  /** [[requireFiles]] for an exact count. */
  def requireFiles(from: String, cond: String, expected: Long, what: String): Long =
    requireFiles(from, cond, s"$what (expected $expected)")(_ == expected)
}

object CatalogGate {

  def apply(s: SparkSession, qname: String,
      rootName: String = "graft-catalog-gate"): CatalogGate = {
    val root = Staging.scratch(rootName, qname)
    s.conf.set("spark.sql.catalog.graft_cat", "graft.sources.v2.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_cat.warehouse", root.getAbsolutePath)
    new CatalogGate(s, root)
  }

  /** `part` as `k` (the part key) and `cents` (the retail price in whole
    * cents, exact through DECIMAL), then `extra`.
    */
  def partCents(s: SparkSession, d: String, extra: Column*): DataFrame =
    Tables.part(s, d).select(Seq(col("p_partkey").as("k"),
      (col("p_retailprice").cast("decimal(12,2)") * 100).cast(LongType)
        .as("cents")) ++ extra: _*)

  /** Commits q211's three-version history of [[partCents]] (as
    * `p_partkey`, `cents`) into the versioned table at `dir`: v1 creates
    * the `p_partkey % 3 != 0` rows, v2 upserts the `% 5` ones bumped by
    * 100000 and inserts the `% 3 == 0` ones, v3 deletes the `% 7` keys.
    * Returns the source frame for the gate's own later steps.
    */
  def q211History(s: SparkSession, d: String, dir: String): DataFrame = {
    val part = partCents(s, d).toDF("p_partkey", "cents")
    Versioned.create(part.filter(col("p_partkey") % 3 =!= 0), dir)
    Versioned.upsert(s, dir, "p_partkey",
      part.filter(col("p_partkey") % 3 =!= 0 && col("p_partkey") % 5 === 0)
        .withColumn("cents", col("cents") + 100000)
        .unionByName(part.filter(col("p_partkey") % 3 === 0)))
    Versioned.deleteKeys(s, dir, "p_partkey",
      part.filter(col("p_partkey") % 7 === 0).select("p_partkey"))
    part
  }

  /** Requires `df`'s executed plan (forced once) to contain every marker
    * of `has` and none of `lacks`. A failure states `why`, names each
    * missing or forbidden marker and prints the plan.
    */
  def requirePlan(df: DataFrame, has: Seq[String], lacks: Seq[String],
      why: String): Unit = {
    val plan = df.queryExecution.executedPlan.toString
    val wrong = has.filterNot(plan.contains).map(m => s"missing '$m'") ++
      lacks.filter(plan.contains).map(m => s"forbidden '$m'")
    require(wrong.isEmpty, s"$why (${wrong.mkString(", ")}):\n$plan")
  }

  /** The `phase, n, sum_cents` aggregate of a DataFrame with `cents`. */
  def phaseOf(phase: String, df: DataFrame): DataFrame =
    df.agg(count(lit(1)).as("n"), sum("cents").cast(LongType).as("sum_cents"))
      .select(lit(phase).as("phase"), col("n"), col("sum_cents"))

  /** The gate's answer: the phase reads unioned and ordered by phase. */
  def phases(reads: DataFrame*): DataFrame =
    reads.reduce(_ unionByName _).orderBy("phase")

  /** A single-row phase read, collected now. */
  def collectPhase(read: DataFrame): (String, Long, Long) = {
    val r = read.head
    (r.getString(0), r.getLong(1), r.getLong(2))
  }
}

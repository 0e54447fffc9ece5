package perfbench

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.SparkEntry

/** A workload whose ops are declared engine queries, run through
  * `SparkEntry.queries` and materialized in full. The seed permutes their
  * order in every pass; the inputs are the fixed tables under the data dir.
  */
final class QueryWorkload(val name: String, val queries: Seq[String], kind: String,
    expected: Map[String, (Long, BigDecimal)]) extends Workload {

  def pass(spark: SparkSession, env: Env, rnd: scala.util.Random, passNo: Int): Iterator[Op] =
    rnd.shuffle(queries).iterator.map { q =>
      Op(q, kind) { ctx =>
        val df = ctx.layer("operators.build")(SparkEntry.queries(q)(ctx.spark, env.data))
        ctx.materialize(df)
      }
    }

  /** Runs each query once more, untimed, and compares its row count and
    * row hash with the recorded values. (The warm-up pass runs the timed
    * ops themselves: a hash plan differs from the `noop` plan in its last
    * stage, and a window after a hash-only warm-up measured ops up to twice
    * as slow as the next pass.)
    */
  def verify(spark: SparkSession, env: Env, done: Seq[Done]): Seq[(Int, String)] =
    done.groupBy(_.op.name).toSeq.sortBy(_._1).flatMap { case (q, ds) =>
      val got = scala.util.Try(QueryWorkload.fingerprint(SparkEntry.queries(q)(spark, env.data)))
      val reason = (got, expected.get(q)) match {
        case (scala.util.Failure(e), _) => Some(s"failed: $e")
        case (_, None) => Some("no expected value recorded")
        case (scala.util.Success(g), Some(want)) if g != want =>
          Some(s"rows/hash ${g._1}/${g._2} != expected ${want._1}/${want._2}")
        case _ => None
      }
      reason.toSeq.flatMap(r => ds.map(d => d.id -> s"$q: $r"))
    }
}

object QueryWorkload {
  /** Costs that `count()` hides (q105, q20) and the exact-pairs spread
    * (q216).
    */
  val batchCurate: Seq[String] = Seq("q105_dup_spans", "q20_salary_pipeline", "q216_prefix_join")

  /** Watermarked dedup on a state store (q150) and a versioned-table sink
    * that commits once per micro-batch (q219).
    */
  val streamGates: Seq[String] = Seq(150, 219).map { n =>
    SparkEntry.queryDefs.map(_.name).find(_.startsWith(s"q${n}_"))
      .getOrElse(throw new IllegalStateException(s"no stream gate q$n"))
  }

  /** Floating columns are compared at float precision: the last bits of a
    * double aggregate may depend on the order partial sums merge.
    */
  private def normalized(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => c.cast(FloatType) + lit(0.0f)
    case ArrayType(DoubleType | FloatType, _) =>
      transform(c, x => x.cast(FloatType) + lit(0.0f))
    case _: MapType => to_json(c)
    case _ => c
  }

  /** Row count and an order-insensitive hash of every row. */
  def fingerprint(df: DataFrame): (Long, BigDecimal) = {
    val cols = df.schema.fields.indices.map(i => col(s"c$i"))
    val renamed = df.toDF(cols.indices.map(i => s"c$i"): _*)
    val h = xxhash64(renamed.schema.fields.zip(cols).map { case (f, c) =>
      normalized(c, f.dataType)
    }.toIndexedSeq: _*)
    val r = renamed.select(h.cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  /** `query<TAB>rows<TAB>hash` lines. */
  def readExpected(f: java.io.File): Map[String, (Long, BigDecimal)] =
    if (!f.isFile) Map.empty
    else {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().filterNot(l => l.startsWith("#") || l.trim.isEmpty).map { l =>
        val Array(q, n, h) = l.split("\t")
        q -> (n.toLong, BigDecimal(h))
      }.toMap
      finally src.close()
    }
}

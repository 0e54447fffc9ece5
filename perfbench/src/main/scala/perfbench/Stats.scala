package perfbench

/** The benchmark's own arithmetic: interval unions, geometric means and
  * tail percentiles. Kept free of Spark so the self-tests pin it exactly.
  */
object Stats {

  /** Total length covered by half-open intervals `[start, end)`. Nested
    * and overlapping intervals count once; empty or inverted ones count
    * nothing.
    */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = s
        curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** Driver-only time of an op: its wall time minus the part of it that
    * some Spark job covered. Jobs are clipped to the op's interval.
    */
  def driverOnly(opStart: Long, opEnd: Long, jobs: Seq[(Long, Long)]): Long =
    (opEnd - opStart) - unionLength(jobs.map { case (s, e) =>
      (math.max(s, opStart), math.min(e, opEnd))
    })

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), s"geomean needs positive samples, got $xs")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** Best (least) time of each op slot over the passes. A slot is the k-th
    * op of a name within its pass, so a pass that repeats a name (several
    * reads) has several slots. Samples are (pass, op name, seconds) in the
    * order the ops ran. Load from other tenants of the host only ever adds
    * time, and it comes in bursts that cover a pass or two; the best pass
    * drops them.
    */
  def slotBest(samples: Seq[(Int, String, Double)]): Seq[Double] =
    samples.groupBy(_._1).toSeq.flatMap { case (_, ops) =>
      ops.groupBy(_._2).toSeq.flatMap { case (name, xs) =>
        xs.map(_._3).zipWithIndex.map { case (t, k) => (name, k) -> t }
      }
    }.groupBy(_._1).toSeq.sortBy(_._1).map { case (_, xs) => xs.map(_._2).min }

  /** Linear-interpolated quantile (`q` in [0, 1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** A tail percentile with its support: `beyond` is the number of samples
    * strictly above `value`. The value is trustworthy only when at least
    * ten samples lie beyond it; otherwise it is flagged.
    */
  final case class Tail(value: Double, n: Int, beyond: Int) {
    def reliable: Boolean = beyond >= Tail.MinBeyond
  }
  object Tail { val MinBeyond = 10 }

  def tail(xs: Seq[Double], q: Double): Tail = {
    val v = quantile(xs, q)
    Tail(v, xs.size, xs.count(_ > v))
  }
}

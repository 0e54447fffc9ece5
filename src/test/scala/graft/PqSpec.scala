package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Tables
import graft.operators.Similarity

/** Cross-checks for q197's product quantization, independent of the
  * DuckDB oracle: rerun quantize → subspace encode → ADC in plain Scala
  * on the driver and pin (1) the fundamental ADC identity — the emitted
  * distance IS the exact integer d² between the query and the vector's
  * codebook reconstruction, (2) codebook vectors are fixpoints of
  * encode (each encodes to its own code in every subspace), and (3) the
  * gate query's emitted rows equal the driver recompute end to end.
  */
class PqSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def quantize(e: Seq[Float]): Array[Long] =
    // BigDecimal HALF_UP, matching Spark's round() exactly
    e.map(x => new java.math.BigDecimal(x.toDouble * 1000)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue).toArray

  private def d2(a: Array[Long], b: Array[Long]): Long =
    a.lazyZip(b).map((x, y) => (x - y) * (x - y)).sum

  private lazy val vecs: Map[Long, Array[Long]] =
    Tables.widen(Tables.embeddings(spark, sfDir))
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> quantize(r.getSeq[Float](1))).toMap

  private lazy val cb: Array[Array[Array[Long]]] =
    Array.tabulate(4, 16)((sp, code) =>
      vecs(code.toLong).slice(sp * 16, sp * 16 + 16))

  private def encode(v: Array[Long]): Array[Int] =
    Array.tabulate(4) { sp =>
      val sub = v.slice(sp * 16, sp * 16 + 16)
      (0 until 16).minBy(code => (d2(sub, cb(sp)(code)), code))
    }

  test("ADC identity: emitted distance = exact d²(query, reconstruction)") {
    val qv = vecs(0L)
    val out = Similarity.q197PqAdc.run(spark, sfDir).collect()
    assert(out.nonEmpty)
    for (r <- out) {
      val codes = Array(r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4))
      val reconstruction = (0 until 4).flatMap(sp => cb(sp)(codes(sp))).toArray
      assert(r.getLong(5) == d2(qv, reconstruction),
        s"vec ${r.getLong(0)}: ADC != d2(query, reconstruction)")
    }
  }

  test("codebook vectors are fixpoints of encode") {
    for (code <- 0 until 16) {
      assert(encode(vecs(code.toLong)).toSeq == Seq.fill(4)(code),
        s"codebook vector $code must encode to itself in every subspace")
    }
  }

  test("gate query equals the driver recompute end to end") {
    val qv = vecs(0L)
    val lut = Array.tabulate(4, 16)((sp, code) =>
      d2(qv.slice(sp * 16, sp * 16 + 16), cb(sp)(code)))
    val expected = vecs.toSeq.filter(_._1 != 0L)
      .map { case (id, v) =>
        val codes = encode(v)
        (id, codes(0), codes(1), codes(2), codes(3),
          (0 until 4).map(sp => lut(sp)(codes(sp))).sum)
      }
      .sortBy { case (id, _, _, _, _, d) => (d, id) }
      .take(10)
    val got = Similarity.q197PqAdc.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getInt(4), r.getLong(5))).toSeq
    assert(got == expected)
  }

  test("q202 IVF-PQ: one pruned cluster, ADC distances match re-encode, ascending") {
    val qv = vecs(0L)
    val lut = Array.tabulate(4, 16)((sp, code) =>
      d2(qv.slice(sp * 16, sp * 16 + 16), cb(sp)(code)))
    val rows = Similarity.q202IvfPq.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows.nonEmpty && rows.size <= 5)
    // the probe reads exactly ONE inverted list
    assert(rows.map(_._2).distinct.size == 1, "probe must touch a single cluster")
    // each emitted distance is the ADC of the vector's own re-encoded codes
    for ((id, _, dist) <- rows) {
      val codes = encode(vecs(id))
      assert(dist == (0 until 4).map(sp => lut(sp)(codes(sp))).sum,
        s"vec $id: emitted ADC != re-encoded ADC")
    }
    assert(rows.map(_._3) == rows.map(_._3).sorted, "ascending by ADC")
    assert(!rows.exists(_._1 == 0L), "the query never matches itself")
  }

  // ---- residual IVFADC (round-12 item #7; spec-pinned, the q85
  // discipline — q202 stays the hash-gated no-residual twin) ----

  /** Raw double vectors for the coarse assignment (the engine assigns
    * on the unquantized dot). */
  private lazy val raw: Map[Long, Array[Double]] =
    Tables.widen(Tables.embeddings(spark, sfDir))
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap

  private def cidOf(v: Long): Long = {
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.lazyZip(b).map(_ * _).sum
    (0L until 8L).minBy(c => (-dot(raw(v), raw(c)), c))
  }

  private def residual(v: Long): Array[Long] =
    vecs(v).lazyZip(vecs(cidOf(v))).map(_ - _).toArray

  test("residual IVFADC equals the driver replay end to end") {
    // full replay in plain Scala: coarse-assign, residual-encode against
    // the 16 source vectors' RESIDUAL codebook, LUT from the query's
    // residual, ADC top-10 within the query's cluster — the engine's
    // rows must match exactly (every value is integer arithmetic)
    val cbRes = Array.tabulate(4, 16)((sp, code) =>
      residual(code.toLong).slice(sp * 16, sp * 16 + 16))
    def encodeRes(r: Array[Long]): Array[Int] =
      Array.tabulate(4) { sp =>
        val sub = r.slice(sp * 16, sp * 16 + 16)
        (0 until 16).minBy(code => (d2(sub, cbRes(sp)(code)), code))
      }
    val qres = residual(0L)
    val lut = Array.tabulate(4, 16)((sp, code) =>
      d2(qres.slice(sp * 16, sp * 16 + 16), cbRes(sp)(code)))
    val qcid = cidOf(0L)
    val expected = vecs.keys.filter(v => v != 0L && cidOf(v) == qcid).toSeq
      .map { v =>
        val codes = encodeRes(residual(v))
        (v, qcid, (0 until 4).map(sp => lut(sp)(codes(sp))).sum)
      }
      .sortBy { case (id, _, dist) => (dist, id) }
      .take(10)
    val got = Similarity.ivfAdcResidual(spark, sfDir, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected)
    assert(got.map(_._3) == got.map(_._3).sorted)
  }

  test("multi-probe residual IVFADC (nprobe=2) equals the driver replay") {
    // the FAISS recall dial: two inverted lists probed, each scored
    // against ITS OWN ADC table (the query residual is relative to that
    // list's centroid) — the replay recomputes probe order (same
    // left-fold dot as the engine), both LUTs, and the merged top-10
    val cbRes = Array.tabulate(4, 16)((sp, code) =>
      residual(code.toLong).slice(sp * 16, sp * 16 + 16))
    def encodeRes(r: Array[Long]): Array[Int] =
      Array.tabulate(4) { sp =>
        val sub = r.slice(sp * 16, sp * 16 + 16)
        (0 until 16).minBy(code => (d2(sub, cbRes(sp)(code)), code))
      }
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.lazyZip(b).map(_ * _).foldLeft(0.0)(_ + _)
    val probed = (0L until 8L)
      .sortBy(cid => (-dot(raw(0L), raw(cid)), cid)).take(2)
    val luts = probed.map { cid =>
      val qr = vecs(0L).lazyZip(vecs(cid)).map(_ - _).toArray
      cid -> Array.tabulate(4, 16)((sp, code) =>
        d2(qr.slice(sp * 16, sp * 16 + 16), cbRes(sp)(code)))
    }.toMap
    val expected = vecs.keys
      .filter(v => v != 0L && probed.contains(cidOf(v))).toSeq
      .map { v =>
        val codes = encodeRes(residual(v))
        val lut = luts(cidOf(v))
        (v, cidOf(v), (0 until 4).map(sp => lut(sp)(codes(sp))).sum)
      }
      .sortBy { case (id, _, dist) => (dist, id) }
      .take(10)
    val got = Similarity.ivfAdcResidual(spark, sfDir, 10, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected)
    // the SCAN must have covered two lists (the winner set may still be
    // single-cluster when the second list's distances are all larger)
    assert(probed.size == 2)
    assert(vecs.keys.filter(v => v != 0L && probed.contains(cidOf(v)))
      .map(cidOf).toSet.size == 2, "both probed lists must hold candidates")
    // more lists can only widen the candidate pool toward the truth:
    // nprobe=2 global-exact recall must not fall below nprobe=1's
    val qv = vecs(0L)
    val exactTop = vecs.filter(_._1 != 0L).toSeq
      .sortBy(kv => (d2(qv, kv._2), kv._1)).take(10).map(_._1).toSet
    def recallOf(n: Int): Double = {
      val ids = Similarity.ivfAdcResidual(spark, sfDir, 10, nprobe = n)
        .collect().map(_.getLong(0)).toSet
      exactTop.count(ids) / 10.0
    }
    val (r1, r2) = (recallOf(1), recallOf(2))
    assert(r2 >= r1, s"nprobe=2 recall $r2 regressed below nprobe=1 $r1")
  }

  test("residual IVFADC recall@10 vs exact top-k, with the honest caveat pinned") {
    import spark.implicits._
    val qv = vecs(0L)
    def shape(rows: Seq[(Long, Long, Int)]) = rows.toDF("qid", "vec_id", "rn")
    val approx = shape(Similarity.ivfAdcResidual(spark, sfDir, 10).collect()
      .toSeq.map(r => (0L, r.getLong(0), r.getInt(3))))
    // exact ground truth WITHIN the probed cluster (isolates encoding
    // quality from the coarse quantizer's 1-probe loss, which is the
    // multi-probe family's problem, not PQ's)
    val qcid = cidOf(0L)
    val exactIn = shape(vecs.keys.filter(v => v != 0L && cidOf(v) == qcid).toSeq
      .sortBy(v => (d2(qv, vecs(v)), v)).take(10)
      .zipWithIndex.map { case (v, i) => (0L, v, i + 1) })
    val rec = Similarity.recallAtK(approx, exactIn, 10)
      .as[(Long, Double)].collect().head._2
    // measured 0.4 on this corpus (deterministic — seedless synthetic
    // data): near-random unit vectors are residual-PQ's WORST case (the
    // centroid sits near the global mean, so residual magnitude ≈ raw
    // magnitude and the residual codebook buys nothing — on clustered
    // real embeddings residuals are the FAISS-default win; on this data
    // the raw-vector q202 form actually quantizes better, measured
    // meanErr raw 303k vs residual 545k). The floor pins the plumbing:
    // a drop means the encode/LUT geometry broke, not harder data.
    assert(rec >= 0.4, s"residual IVFADC within-cluster recall@10: $rec")
  }

  test("a 5-row embeddings table fails every PQ path with its minimum-input contract") {
    val tiny = graft.engine.Staging.scratch("graft-pq-spec", "tiny").getAbsolutePath
    Tables.embeddings(spark, sfDir).orderBy("vec_id").limit(5)
      .write.mode("overwrite").parquet(s"$tiny/embeddings.parquet")
    val paths = Seq[(String, () => Any)](
      "q197" -> (() => Similarity.q197PqAdc.run(spark, tiny)),
      "q202" -> (() => Similarity.q202IvfPq.run(spark, tiny)),
      "ivfAdcResidual" -> (() => Similarity.ivfAdcResidual(spark, tiny, 10)))
    for ((name, run) <- paths) {
      val e = intercept[IllegalArgumentException](run())
      assert(e.getMessage.contains("needs embeddings vec_id 0..15") &&
        e.getMessage.endsWith("missing 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15"),
        s"$name: ${e.getMessage}")
    }
  }
}

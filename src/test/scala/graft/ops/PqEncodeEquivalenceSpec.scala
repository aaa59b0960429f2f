package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** [[graft.functions.PqEncode]] (native codegen encode→reconstruct) vs
  * the built-ins-only HOF formulation it replaced
  * ([[Similarity.pqReconFrameHof]]): bit-identical reconstructions,
  * including the rounded-argmin tie semantics (round(l2, 6) minimum,
  * ties to the lowest code id) that the fast path only pays BigDecimal
  * for on near-ties.
  */
class PqEncodeEquivalenceSpec extends SparkSpec {
  import spark.implicits._

  private def compare(vecs: Seq[Array[Float]],
                      codebook: Seq[(Int, Int, Seq[Double])], m: Int): Unit = {
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
    val fast = Similarity.pqReconFrame(df, "vec_id", "embedding", m, codebook)
      .orderBy("neighbor_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    val hof = Similarity.pqReconFrameHof(df, "vec_id", "embedding", m, codebook)
      .orderBy("neighbor_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    assert(fast.toSeq == hof.toSeq)
  }

  test("production-shaped codebook: fast == HOF bit-for-bit") {
    val m = 4; val nCodes = 8; val sub = 2
    val codebook = for { s <- 0 until m; c <- 0 until nCodes }
      yield (s, c, Seq.tabulate(sub)(d => ((s * 31 + c * 7 + d * 3) % 13 - 6) / 3.0))
    val vecs = (0 until 50).map(i =>
      Array.tabulate(m * sub)(d => (((i * 17 + d * 5) % 23) - 11) / 4.0f))
    compare(vecs, codebook, m)
  }

  test("engineered near-ties and exact ties resolve identically") {
    val m = 1; val sub = 2
    // codes 0/1 exactly equidistant from the probe (tie -> code 0);
    // code 2 differs by ~1e-7 in squared distance (rounds equal ->
    // still the lowest id wins); code 3 clearly worse
    val codebook = Seq(
      (0, 0, Seq(1.0, 0.0)),
      (0, 1, Seq(-1.0, 0.0)),
      (0, 2, Seq(1.00000005, 0.0)),
      (0, 3, Seq(5.0, 5.0)))
    val vecs = Seq(Array(0.0f, 0.0f), Array(1.0f, 0.0f), Array(0.9999999f, 0.0f))
    compare(vecs, codebook, m)
  }

  test("NaN vector elements: fast == HOF (all-NaN subspace picks code 0, not garbage)") {
    val m = 2; val sub = 2
    val codebook = Seq(
      (0, 0, Seq(0.0, 0.0)), (0, 1, Seq(1.0, 1.0)),
      (1, 0, Seq(0.5, 0.5)), (1, 1, Seq(2.0, 2.0)))
    // an all-NaN subspace used to leave best = -1: AIOOBE for subspace 0,
    // and for s > 0 a silent reconstruction from the PREVIOUS subspace's
    // last code — the guarded default (code 0, where array_sort's
    // NaN-last ordering lands the HOF) must agree bit-for-bit
    val vecs = Seq(
      Array(Float.NaN, 0.0f, 2.1f, 2.2f), // subspace 0 NaN, 1 clean
      Array(0.9f, 1.1f, Float.NaN, Float.NaN), // subspace 1 NaN
      Array(Float.NaN, Float.NaN, Float.NaN, Float.NaN)) // all NaN
    compare(vecs, codebook, m)
  }

  test("double-element vectors take the getDouble path") {
    val m = 2; val nCodes = 3; val sub = 2
    val codebook = for { s <- 0 until m; c <- 0 until nCodes }
      yield (s, c, Seq.tabulate(sub)(d => (c * 2 + d).toDouble / 7.0))
    val df = (0 until 10).map(i =>
        (i.toLong, Array.tabulate(m * sub)(d => (i * 3 + d).toDouble / 5.0)))
      .toDF("vec_id", "embedding")
    val fast = Similarity.pqReconFrame(df, "vec_id", "embedding", m, codebook)
      .orderBy("neighbor_id").collect().map(_.getSeq[Double](1)).toSeq
    val hof = Similarity.pqReconFrameHof(df, "vec_id", "embedding", m, codebook)
      .orderBy("neighbor_id").collect().map(_.getSeq[Double](1)).toSeq
    assert(fast == hof)
  }

  test("short vectors fail loudly (unchecked Unsafe reads must never reconstruct garbage)") {
    val m = 2; val codebook = Seq(
      (0, 0, Seq(0.0, 0.0)), (0, 1, Seq(1.0, 1.0)),
      (1, 0, Seq(0.0, 0.0)), (1, 1, Seq(1.0, 1.0)))
    val df = Seq((0L, Array(0.1f, 0.2f, 0.3f))).toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      Similarity.pqReconFrame(df, "vec_id", "embedding", m, codebook).collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(_.getMessage != null) &&
      causes(e).exists(c => Option(c.getMessage).exists(_.contains("codebook needs 4"))))
  }

  test("edge values on eval and codegen: null element 0, null vector null, short throws, NaN as the HOF") {
    import org.apache.spark.sql.catalyst.expressions.{Literal, codegen}
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    import graft.functions.PqEncode
    // one subspace of two dims, codes (0, 0) and (1, 1)
    val codebook = Seq((0, 0, Seq(0.0, 0.0)), (0, 1, Seq(1.0, 1.0)))
    def arr(xs: Any*) = Literal.create(xs, ArrayType(FloatType))
    def expr(v: Literal) = PqEncode(v, Seq(0.0, 0.0, 1.0, 1.0), m = 1, nCodes = 2, subDim = 2)
    // the interpreted and the generated result; None = SQL null
    def paths(v: Literal): Seq[Option[Seq[Double]]] = {
      val e = expr(v)
      val row = codegen.GenerateUnsafeProjection.generate(Seq(e)).apply(null)
      Seq(Option(e.eval()).map(_.asInstanceOf[ArrayData].toDoubleArray().toSeq),
        if (row.isNullAt(0)) None else Some(row.getArray(0).toDoubleArray().toSeq))
    }
    // a null element reads as 0: (null, 0.9) encodes as (0, 0.9), code 0,
    // where (1, 0.9) would pick code 1
    assert(paths(arr(null, 0.9f)) == Seq.fill(2)(Some(Seq(0.0, 0.0))))
    assert(paths(arr(1.0f, 0.9f)) == Seq.fill(2)(Some(Seq(1.0, 1.0))))
    assert(paths(Literal.create(null, ArrayType(FloatType))) == Seq(None, None))
    Seq(arr(0.5f), arr()).foreach { v =>
      intercept[IllegalArgumentException](expr(v).eval())
      intercept[IllegalArgumentException](
        codegen.GenerateUnsafeProjection.generate(Seq(expr(v))).apply(null))
    }
    // NaN: both paths reconstruct what the HOF does
    val nan = Seq(Array(Float.NaN, 0.5f), Array(0.9f, Float.NaN))
    val hof = Similarity.pqReconFrameHof(
        nan.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "embedding"),
        "vec_id", "embedding", 1, codebook)
      .orderBy("neighbor_id").collect().map(r => Some(r.getSeq[Double](1)))
    nan.zip(hof).foreach { case (v, want) =>
      assert(paths(arr(v.toSeq: _*)) == Seq(want, want), s"${v.toSeq}")
    }
  }

  test("codegen path actually evaluates (no fallback): plan contains the expression") {
    val m = 1; val codebook = Seq((0, 0, Seq(0.0, 0.0)), (0, 1, Seq(1.0, 1.0)))
    // repartition keeps the projection out of ConvertToLocalRelation's
    // eager fold so the executed plan actually shows the expression
    val df = Seq((0L, Array(0.2f, 0.3f))).toDF("vec_id", "embedding")
      .repartition(1)
    val out = Similarity.pqReconFrame(df, "vec_id", "embedding", m, codebook)
    assert(out.queryExecution.executedPlan.toString.contains("graft_pq_encode"))
    assert(out.count() == 1)
  }
}

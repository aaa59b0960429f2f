package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.ops.Similarity

class DotProductSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet").limit(100).cache()

  test("native dot is bit-identical to the HOF formulation on real embeddings") {
    val pairs = emb.select(col("vec_id").as("i"), col("embedding").as("a"))
      .crossJoin(emb.select(col("vec_id").as("j"), col("embedding").as("b")))
      .limit(2000)
    val diff = pairs.select(
      (GraftFunctions.graft_dot(col("a"), col("b")) -
       Similarity.dotHof(col("a"), col("b"))).as("d"))
      .agg(max(abs(col("d"))), min(abs(col("d")))).head()
    assert(diff.getDouble(0) == 0.0) // exact, not approximate
  }

  test("known values, double arrays, null elements as zero") {
    import org.apache.spark.sql.catalyst.expressions.{Literal, codegen}
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    def arr(xs: Any*) = Literal.create(xs, ArrayType(DoubleType))
    // scaladoc edge cases on eval and on codegen; None = SQL null, text compare: NaN = NaN
    Seq((arr(1.0, 2.0, 3.0), arr(4.0, 5.0, 6.0), Some(32.0)),
      (arr(1.0, null, 3.0), arr(4.0, 5.0, null), Some(4.0)),   // null element = 0
      (arr(1.0, Double.NaN), arr(1.0, 2.0), Some(Double.NaN)), // NaN propagates
      (arr(), arr(), Some(0.0)),                               // empty
      (arr(1.0, 2.0, 3.0), arr(4.0, 5.0), Some(14.0)),         // common prefix
      (Literal.create(null, ArrayType(DoubleType)), arr(1.0), None)).foreach { case (a, b, want) =>
      val e = DotProduct(a, b)
      val row = codegen.GenerateUnsafeProjection.generate(Seq(e)).apply(null)
      val paths = Seq(Option(e.eval()), if (row.isNullAt(0)) None else Some(row.getDouble(0)))
      assert(paths.forall(_.map(_.toString) == want.map(_.toString)), s"$a . $b: $paths")
    }
    // the HOF formulation agrees where it is defined on an edge: NaN, empty
    val hof = spark.range(1).select(Similarity.dotHof(typedLit(Seq(1.0, Double.NaN)),
      typedLit(Seq(1.0, 2.0))), Similarity.dotHof(typedLit(Seq.empty[Double]), typedLit(Seq.empty[Double])))
    assert(hof.head().getDouble(0).isNaN && hof.head().getDouble(1) == 0.0)
  }

  test("SQL registration via functionRegistry and via extensions builder") {
    GraftFunctions.register(spark)
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(5)
      .createOrReplaceTempView("emb_t")
    val r = spark.sql(
      "SELECT vec_id, graft_dot(embedding, embedding) AS sq FROM emb_t ORDER BY vec_id")
      .collect()
    assert(r.length == 5 && r.forall(_.getDouble(1) > 0))
  }

  test("graft_topk aggregate equals the window formulation on real data") {
    // bruteForceTopK (the shared heap tail) against row_number() over the
    // same scored pairs, built here from the built-in window
    import org.apache.spark.sql.expressions.Window
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter(col("vec_id") < 4)
    def norm(v: String) = sqrt(GraftFunctions.graft_dot(col(v), col(v)))
    val scored = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
      .crossJoin(q.select(col("vec_id").as("query_id"), col("embedding").as("qv")))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos",
        round(GraftFunctions.graft_dot(col("qv"), col("cv")) / (norm("qv") * norm("cv")), 6))
    val w = Window.partitionBy("query_id").orderBy(desc("cos"), col("neighbor_id"))
    val viaWindow = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 7)
      .select("query_id", "neighbor_id", "rank", "cos")
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    val viaHeap = Similarity.bruteForceTopK(q, e, "vec_id", "embedding", k = 7)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    assert(viaHeap.length == 4 * 7)
    assert(viaHeap.toSeq == viaWindow.toSeq)
  }

  test("graft_topk: tie-break by smaller id, k larger than group") {
    import spark.implicits._
    val df = Seq((1L, 0.9, 10L), (1L, 0.9, 5L), (1L, 0.8, 7L)).toDF("g", "s", "i")
    val out = df.groupBy("g")
      .agg(GraftFunctions.graft_topk(col("s"), col("i"), 5).as("t"))
      .select(explode(col("t")).as("e")).select("e.score", "e.id").collect()
      .map(r => (r.getDouble(0), r.getLong(1)))
    assert(out.toSeq == Seq((0.9, 5L), (0.9, 10L), (0.8, 7L)))
  }

  test("integer element arrays: codegen intDot == integer-fold HOF, bit-for-bit") {
    import spark.implicits._
    // int8-quantized shape: values span the full ±127 range incl. zeros
    val rnd = new scala.util.Random(73)
    val df = (0 until 200)
      .map(i => (i.toLong, Array.fill(64)(rnd.nextInt(255) - 127)))
      .toDF("id", "v").repartition(3)
    val both = df.as("a").crossJoin(df.as("b")).limit(5000)
      .select(graft.ops.Similarity.intDot(col("a.v"), col("b.v")).as("fast"),
        graft.ops.Similarity.intDotHof(col("a.v"), col("b.v")).as("ref"))
    assert(both.filter(col("fast") =!= col("ref")).count() == 0)
    assert(both.count() == 5000)
  }

  test("type check rejects non-array inputs") {
    val df = Seq((1, 2)).toDF("a", "b")
    intercept[Exception] {
      df.select(GraftFunctions.graft_dot(col("a"), col("b"))).collect()
    }
  }

  test("codegen path actually compiles (plan contains the expression)") {
    val df = emb.select(GraftFunctions.graft_dot(col("embedding"), col("embedding")).as("d"))
    // force evaluation through the codegen'd projection
    assert(df.agg(count(lit(1))).head().getLong(0) == 100)
    assert(df.queryExecution.executedPlan.toString.contains("graft_dot"))
  }
}

package graft.functions

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** graft_topk against the rank window it replaced, on the edge values a
  * score column can carry: NaN (the cosine of a zero-norm vector), ±0.0
  * and null. Spark's double ordering is the contract — NaN greatest,
  * -0.0 equal to 0.0, ties by ascending id — and null scores are skipped,
  * so the kept set cannot depend on arrival order or partitioning.
  */
class TopKOrderingSpec extends SparkSpec {
  import spark.implicits._

  private val k = 5

  /** (group, rank, id, score bits): `doubleToLongBits` keeps -0.0 apart
    * from 0.0 and makes NaN equal to itself, so the comparison is exact.
    */
  private def bits(d: Double): Long = java.lang.Double.doubleToLongBits(d)

  test("graft_topk equals row_number() over (score desc, id) on NaN, ±0 and null, at 1, 3 and 8 partitions") {
    val rnd = new scala.util.Random(41)
    // zeros weighted up and groups kept small, so ±0 ties reach the top k
    val values = Array(Double.NaN, 0.0, -0.0, 0.0, -0.0, 0.5, -0.5)
    val rows = for { g <- 0 until 16; id <- 0 until 10 } yield {
      val s = if (rnd.nextInt(6) == 0) None else Some(values(rnd.nextInt(values.length)))
      (g.toLong, id.toLong, s)
    }
    val df = rnd.shuffle(rows).toDF("g", "id", "score")
    val w = Window.partitionBy("g").orderBy(desc("score"), col("id"))
    val expected = df.filter(col("score").isNotNull)
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1), bits(r.getDouble(2))))
      .toSet
    // the fixture must actually put the edge values inside the kept sets
    assert(expected.exists(_._4 == bits(Double.NaN)))
    assert(expected.exists(_._4 == bits(-0.0)) && expected.exists(_._4 == bits(0.0)))
    for (parts <- Seq(1, 3, 8)) {
      val got = df.repartition(parts)
        .groupBy("g").agg(GraftFunctions.graft_topk(col("score"), col("id"), k).as("t"))
        .select(col("g"), posexplode(col("t")).as(Seq("pos", "e")))
        .collect().map(r => (r.getLong(0), r.getInt(1) + 1,
          r.getStruct(2).getLong(1), bits(r.getStruct(2).getDouble(0))))
        .toSet
      assert(got == expected, s"partitions=$parts")
    }
  }

  test("TopKBuffer: NaN ranks first, -0.0 ties 0.0 and breaks by id, in any arrival order") {
    val xs = Seq((0.5, 1L), (Double.NaN, 9L), (-0.0, 2L), (0.0, 7L), (0.0, 3L),
      (Double.NaN, 4L), (1.0, 8L), (-0.5, 5L))
    val want = Seq((Double.NaN, 4L), (Double.NaN, 9L), (1.0, 8L), (0.5, 1L))
      .map { case (s, i) => (bits(s), i) }
    for (perm <- xs.permutations.take(500)) {
      val b = new TopKBuffer(4)
      perm.foreach { case (s, i) => b.add(s, i) }
      assert(b.sorted.map { case (s, i) => (bits(s), i) } == want, s"arrival $perm")
      val z = new TopKBuffer(7)
      perm.foreach { case (s, i) => z.add(s, i) }
      // ±0 tie: ids 2 (−0.0), 3 (0.0), 7 (0.0) in ascending id order
      assert(z.sorted.drop(4).map(_._2) == Seq(2L, 3L, 7L), s"arrival $perm")
    }
  }
}

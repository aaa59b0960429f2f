package graft.ops

import org.scalacheck.{Gen, Prop, Properties}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Algebraic laws of the scale-path join rewrites: each must return
  * EXACTLY what its naive formulation returns, on arbitrary inputs —
  * bucketing and sketching change the plan, never the answer.
  */
object JoinProperties extends Properties("JoinRewrites") {

  private lazy val spark = graft.SparkConfigs.local(4)

  // ── RangeJoin.intervalJoin ≡ naive range predicate join ────────────────

  private val dayGen = Gen.choose(0, 400) // days from 2025-12-01

  private val pointsGen: Gen[Seq[Int]] = Gen.listOfN(25, dayGen)

  private val intervalGen: Gen[(Int, Int)] = for {
    s <- dayGen
    len <- Gen.choose(-5, 120) // includes empty/inverted intervals
  } yield (s, s + len)

  private val intervalsGen: Gen[Seq[(Int, Int)]] = Gen.listOfN(8, intervalGen)

  private def pointsDf(days: Seq[Int]): DataFrame = {
    import spark.implicits._
    days.zipWithIndex.map { case (d, i) => (i.toLong, d) }.toDF("id", "off")
      .select(col("id"), date_add(lit("2025-12-01").cast("date"), col("off")).as("d"))
  }

  private def intervalsDf(iv: Seq[(Int, Int)]): DataFrame = {
    import spark.implicits._
    iv.zipWithIndex.map { case ((s, e), i) => (i.toLong, s, e) }.toDF("iid", "so", "eo")
      .select(col("iid"),
        date_add(lit("2025-12-01").cast("date"), col("so")).as("s"),
        date_add(lit("2025-12-01").cast("date"), col("eo")).as("e"))
  }

  property("intervalJoinMatchesNaive") =
    Prop.forAll(pointsGen, intervalsGen, Gen.oneOf(1, 7, 30, 100)) { (pts, ivs, bucketDays) =>
      val p = pointsDf(pts)
      val iv = intervalsDf(ivs)
      val naive = p.join(iv, col("d") >= col("s") && col("d") < col("e"))
        .select("id", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val bucketed = RangeJoin.intervalJoin(p, iv, "d", "s", "e", bucketDays)
        .select("id", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      naive == bucketed
    }

  // ── RangeJoin.overlapJoin ≡ naive overlap predicate ────────────────────

  private val tsIntervalGen: Gen[(Int, Int)] = for {
    s <- Gen.choose(0, 100000) // seconds from a fixed origin
    len <- Gen.choose(0, 20000) // includes zero-length (closed ends)
  } yield (s, s + len)

  private def tsIntervalsDf(iv: Seq[(Int, Int)], idName: String,
                            sName: String, eName: String): DataFrame = {
    import spark.implicits._
    iv.zipWithIndex.map { case ((s, e), i) => (i.toLong, s, e) }
      .toDF(idName, "so", "eo")
      .select(col(idName),
        timestamp_seconds(lit(1767225600) + col("so")).as(sName),
        timestamp_seconds(lit(1767225600) + col("eo")).as(eName))
  }

  property("overlapJoinMatchesNaive") =
    Prop.forAll(Gen.listOfN(12, tsIntervalGen), Gen.listOfN(12, tsIntervalGen),
      Gen.oneOf(600L, 3600L, 86400L)) { (ls, rs, cell) =>
      val l = tsIntervalsDf(ls, "lid", "ls", "le")
      val r = tsIntervalsDf(rs, "rid", "rs", "re")
      val naive = l.crossJoin(r)
        .filter(col("ls") <= col("re") && col("rs") <= col("le"))
        .select("lid", "rid").collect()
        .map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
      val bucketed = RangeJoin.overlapJoin(l, r, "ls", "le", "rs", "re", cell)
        .select("lid", "rid").collect()
        .map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
      naive == bucketed // same pairs AND same multiplicity (exactly once)
    }

  // ── BloomJoin.bloomAntiJoin ≡ plain left_anti ──────────────────────────

  private val keysGen: Gen[(Seq[Long], Seq[Long])] = for {
    l <- Gen.listOfN(40, Gen.choose(0L, 60L))
    r <- Gen.listOfN(25, Gen.choose(0L, 60L))
  } yield (l.distinct, r.distinct)

  // deliberately undersized bloom (high false-positive rate) — the result
  // must STILL be exact; fpp only moves rows between the two paths
  property("bloomAntiJoinExactEvenWithTinyBloom") = Prop.forAll(keysGen) { case (l, r) =>
    import spark.implicits._
    val left  = l.toDF("k")
    val right = r.toDF("k")
    val plain = left.join(right, Seq("k"), "left_anti")
      .collect().map(_.getLong(0)).sorted.toSeq
    val bloom = BloomJoin.bloomAntiJoin(left, right, "k",
      expectedItems = 5L, numBits = 64L)
      .collect().map(_.getLong(0)).sorted.toSeq
    plain == bloom
  }
}

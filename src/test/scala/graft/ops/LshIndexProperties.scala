package graft.ops

import org.scalacheck.{Gen, Prop, Properties}
import org.apache.spark.sql.functions.col

/** Law for the persisted LSH band index: probing an index built from a
  * corpus with an incoming batch must return EXACTLY the corpus↔batch
  * cross pairs of the in-memory band self-join over corpus ∪ batch —
  * the on-disk layout (prefix partitioning, pruned scans, append order)
  * is a plan detail, never the answer.
  */
object LshIndexProperties extends Properties("LshIndex") {

  // each case pays two parquet writes + a pruned read; 40 random layouts
  // pin the law without dominating the suite's wall-clock
  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(40)

  private lazy val spark = graft.SparkConfigs.local(4)

  private val word: Gen[String] = Gen.oneOf(
    "alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")

  private val docGen: Gen[String] =
    Gen.choose(1, 10).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))

  private val corpusGen: Gen[List[(Long, String)]] = for {
    n    <- Gen.choose(1, 6)
    txts <- Gen.listOfN(n, docGen)
  } yield txts.zipWithIndex.map { case (t, i) => (i.toLong, t) }

  property("probe(build ++ append) == in-memory cross pairs") =
    Prop.forAll(corpusGen, corpusGen, corpusGen) { (partA, partB, incRaw) =>
      import spark.implicits._
      // disjoint id spaces: corpus build half, corpus append half, batch
      val partB2 = partB.map { case (i, t) => (i + 100L, t) }
      val inc    = incRaw.map { case (i, t) => (i + 1000L, t) }
      val dir = java.nio.file.Files.createTempDirectory("lshprop").toString + "/idx"
      Dedup.buildLshIndex(partA.toDF("doc_id", "text"), "doc_id", "text",
        k = 4, rowsPerBand = 2, dir)
      Dedup.appendLshIndex(partB2.toDF("doc_id", "text"), "doc_id", "text",
        k = 4, rowsPerBand = 2, dir)
      val got = Dedup.probeLshIndex(spark, dir, inc.toDF("doc_id", "text"),
        "doc_id", "text", k = 4, rowsPerBand = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val all = (partA ++ partB2 ++ inc).toDF("doc_id", "text")
      val corpusIds = (partA ++ partB2).map(_._1).toSet
      val incIds = inc.map(_._1).toSet
      val want = Dedup.lshCandidatePairs(all, "doc_id", "text", k = 4, rowsPerBand = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .collect {
          case (a, b) if incIds(a) && corpusIds(b) => (a, b)
          case (a, b) if incIds(b) && corpusIds(a) => (b, a)
        }.toSet
      Prop(got == want) :| s"got=$got want=$want"
    }
}

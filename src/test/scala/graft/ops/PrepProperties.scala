package graft.ops

import org.scalacheck.{Gen, Prop, Properties}

/** Algebraic invariants of the source-mix rebalance arithmetic: on any
  * counts and positive shares, the binding source keeps rate 1, no rate
  * exceeds 1, and the implied kept sizes are proportional to the target
  * shares (up to the per-source count ceilings).
  */
object RebalanceProperties extends Properties("RebalanceRates") {

  private val sharesGen: Gen[Seq[(String, Double)]] = for {
    n <- Gen.choose(2, 5)
    ws <- Gen.listOfN(n, Gen.choose(1, 100))
  } yield ws.zipWithIndex.map { case (w, i) =>
    s"s$i" -> w.toDouble / ws.sum
  }

  private val countsGen: Gen[Seq[Long]] =
    Gen.listOf(Gen.choose(1L, 100000L))

  property("bindingKeptWhole_ratesBounded_proportional") =
    Prop.forAll(sharesGen, countsGen) { (shares, cs) =>
      val counts = shares.map(_._1).zip(
        cs.padTo(shares.size, 1000L)).toMap
      val rates = Sampling.rebalanceRates(counts, shares).toMap
      val binding = shares.minBy { case (s, w) => counts(s) / w }._1
      val allBounded = rates.values.forall(r => r >= 0.0 && r <= 1.0 + 1e-12)
      val bindingWhole = math.abs(rates(binding) - 1.0) < 1e-9
      // kept_i = rate_i * count_i must be proportional to share_i
      val kept = shares.map { case (s, w) => rates(s) * counts(s) / w }
      val proportional = kept.forall(k => math.abs(k - kept.head) < 1e-6 * kept.head)
      allBounded && bindingWhole && proportional
    }
}

import org.scalacheck.{Gen, Prop, Properties}

/** Laws for the corpus-prep building blocks: on arbitrary small corpora
  * the distributed ops must return exactly what naive Scala set/sequence
  * math computes — join strategy, broadcast choices, and hash keys are
  * plan details, never the answer.
  */
object PrepProperties extends Properties("CorpusPrep") {

  private lazy val spark = graft.SparkConfigs.local(4)

  private val word: Gen[String] = Gen.oneOf(
    "alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")

  private val docGen: Gen[String] =
    Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))

  private val corpusGen: Gen[List[(Long, String)]] = for {
    n    <- Gen.choose(1, 8)
    txts <- Gen.listOfN(n, docGen)
  } yield txts.zipWithIndex.map { case (t, i) => (i.toLong, t) }

  private def toks(s: String): Vector[String] =
    s.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toVector

  private def ngramSet(s: String, n: Int): Set[String] = {
    val t = toks(s)
    if (t.size < n) Set.empty
    else t.sliding(n).map(_.mkString(" ")).toSet
  }

  property("ngramOverlap equals naive distinct-set intersection") =
    Prop.forAll(corpusGen, corpusGen) { (corpus, benchRaw) =>
      import spark.implicits._
      // disjoint id spaces so a doc never "contaminates itself"
      val bench = benchRaw.map { case (i, t) => (i + 1000L, t) }
      val got = Contamination.ngramOverlap(
        corpus.toDF("doc_id", "text"), bench.toDF("doc_id", "text"),
        "doc_id", "text", n = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3))).toMap
      val want = (for {
        (cid, ctext) <- corpus
        (bid, btext) <- bench
        shared = ngramSet(ctext, 2).intersect(ngramSet(btext, 2)).size
        if shared > 0
      } yield (cid, bid) -> ((shared.toLong, ngramSet(btext, 2).size.toLong))).toMap
      got == want
    }

  property("dedupLines equals naive cross-doc duplicate-line removal") =
    Prop.forAll(corpusGen) { corpus =>
      import spark.implicits._
      val k = 2
      def lines(s: String): Vector[String] = {
        val t = toks(s)
        if (t.isEmpty) Vector.empty else t.grouped(k).map(_.mkString(" ")).toVector
      }
      val all = corpus.map { case (id, t) => id -> lines(t) }
      val dupLines = all.flatMap { case (id, ls) => ls.distinct.map(_ -> id) }
        .groupBy(_._1).collect { case (l, owners) if owners.map(_._2).distinct.size > 1 => l }
        .toSet
      val want = all.collect { case (id, ls) if ls.nonEmpty =>
        val kept = ls.filterNot(dupLines)
        id -> ((ls.size.toLong, kept.size.toLong, kept.mkString(" ")))
      }.toMap
      val got = Dedup.dedupLines(corpus.toDF("doc_id", "text"), "doc_id", "text", k)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
      got == want
    }

  property("repetitionFeatures equals naive multiset math") =
    Prop.forAll(corpusGen) { corpus =>
      import spark.implicits._
      def grams(t: Vector[String], n: Int): Vector[String] =
        if (t.size < n) Vector.empty else t.sliding(n).map(_.mkString(" ")).toVector
      def dupFrac(g: Vector[String]): Double =
        if (g.isEmpty) 0.0 else 1.0 - g.distinct.size.toDouble / g.size
      val want = corpus.map { case (id, text) =>
        val t = toks(text)
        val top = if (t.isEmpty) 0.0
          else t.groupBy(identity).values.map(_.size).max.toDouble / t.size
        id -> ((t.size.toLong, dupFrac(grams(t, 2)), dupFrac(grams(t, 3)), top))
      }.toMap
      val got = TextAnalysis.repetitionFeatures(
        corpus.toDF("doc_id", "text"), "doc_id", "text")
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
      got == want
    }
}

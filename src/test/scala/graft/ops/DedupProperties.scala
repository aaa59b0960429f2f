package graft.ops

import org.scalacheck.{Gen, Prop, Properties}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Laws of the prefix-filtered exact-Jaccard join: the PPJoin prefix
  * filter must be LOSSLESS — the pair set (with values) equals the naive
  * all-pairs computation at every threshold — and it must structurally
  * defuse the stop-word skew bomb (a token in half the corpus never
  * enters a prefix, so its |docs∋tok|² bucket never materializes).
  */
object DedupProperties extends Properties("Dedup") {

  private lazy val spark = graft.SparkConfigs.local(4)

  private val vocab = Vector("the", "quick", "brown", "fox", "jumps",
    "over", "lazy", "dog", "alpha", "beta", "gamma", "delta")

  private val docGen: Gen[String] =
    Gen.choose(1, 7).flatMap(n => Gen.listOfN(n, Gen.oneOf(vocab)))
      .map(_.mkString(" "))

  private val corpusGen: Gen[Seq[(Long, String)]] =
    Gen.choose(2, 14).flatMap(n => Gen.listOfN(n, docGen))
      .map(_.zipWithIndex.map { case (t, i) => (i.toLong, t) })

  private def df(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  /** Driver-side naive all-pairs Jaccard over normalized token sets —
    * the oracle the distributed op must reproduce exactly. Pairs must
    * share ≥1 token (the join-based op never emits disjoint pairs).
    */
  private def naivePairs(rows: Seq[(Long, String)],
                         t: Double): Set[(Long, Long, Double)] = {
    val sets = rows.map { case (id, s) =>
      id -> s.toLowerCase.split("\\s+").filter(_.nonEmpty).toSet
    }.filter(_._2.nonEmpty)
    (for {
      (i1, s1) <- sets; (i2, s2) <- sets if i1 < i2
      inter = (s1 & s2).size if inter > 0
      j = BigDecimal(inter.toDouble / (s1.size + s2.size - inter))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      if j >= t
    } yield (i1, i2, j)).toSet
  }

  private def gotPairs(rows: Seq[(Long, String)],
                       t: Double): Set[(Long, Long, Double)] =
    Dedup.jaccardPairs(df(rows), "doc_id", "text", t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  // prefix filtering is lossless at every threshold, values included
  property("prefixFilterLossless") =
    Prop.forAll(corpusGen, Gen.oneOf(0.0, 0.3, 0.5, 0.7, 0.9, 1.0)) {
      (rows, t) => gotPairs(rows, t) == naivePairs(rows, t)
    }

  // skew fixture: one stop-word in EVERY doc (worst-case document
  // frequency). Each doc also carries unique tokens, so at t=0.5 the
  // prefix (rarest |s|−⌈t|s|⌉+1 tokens) never reaches the stop-word —
  // the naive token self-join would put n² = 90k rows on one key; the
  // prefix join must put ZERO rows on it. Results still exact.
  property("stopWordNeverInPrefix") = {
    val n = 300
    val rows = (0 until n).map { i =>
      // 4 unique tokens + the universal stop-word → sz=5, prefix len 3
      (i.toLong, s"the u${i}a u${i}b u${i}c u${i}d")
    }
    val input = df(rows).select(col("doc_id").as("id"),
      TextAnalysis.tokenSet(col("text")).as("toks"))
      .withColumn("fp", md5(concat_ws(" ", array_sort(col("toks")))))
    val sets = input.select(col("fp"), col("toks"))
      .withColumn("sz", size(col("toks")))
    val hotInPrefix = Dedup.prefixTokens(sets, 0.5)
      .filter(col("tok") === "the").count()
    val got = gotPairs(rows, 0.5)
    Prop(hotInPrefix == 0L) :| s"hot token rode $hotInPrefix prefixes" &&
      Prop(got == naivePairs(rows, 0.5)) :| "skewed corpus pairs exact"
  }

  // the driver union-find fast path and the distributed label-propagation
  // loop are the same operator: identical (id, component) sets, min-id
  // components, on arbitrary small graphs (chains, cliques, singleton
  // edges, disconnected pieces)
  property("componentsDriverPathMatchesDistributed") = {
    val edgeGen = for {
      n <- Gen.choose(0, 12)
      es <- Gen.listOfN(n, for {
        a <- Gen.choose(0L, 15L); b <- Gen.choose(0L, 15L)
      } yield (a, b))
    } yield es.filter { case (a, b) => a != b }
    Prop.forAll(edgeGen) { es =>
      import spark.implicits._
      val df = es.toDF("id1", "id2")
      def comps(maxDriver: Long) =
        Dedup.connectedComponents(df, maxDriverPairs = maxDriver)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val driver = comps(1000000L)
      val dist = comps(0L)
      Prop(driver == dist) :| s"driver=$driver distributed=$dist"
    }
  }

  // the driver path replays the loop's maxIter TRUNCATION too: on a long
  // chain with a small iteration cap, both paths stop at the identical
  // partially-converged labels (min id within maxIter hops)
  property("componentsDriverPathMatchesTruncatedDistributed") = {
    import spark.implicits._
    val chain = (0L until 30L).sliding(2).map(w => (w(0), w(1))).toSeq
      .toDF("id1", "id2")
    def comps(maxDriver: Long) =
      Dedup.connectedComponents(chain, maxIter = 4, maxDriverPairs = maxDriver)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val driver = comps(1000000L)
    val dist = comps(0L)
    Prop(driver == dist) :| s"truncated driver=$driver distributed=$dist" &&
      // sanity: 4 rounds cannot fully converge a 30-node chain
      Prop(driver.map(_._2).toSet.size > 1) :| "chain unexpectedly converged"
  }

  // identical docs always become LSH candidates (jaccard 1 survives every band)
  property("lshFindsExactDups") = Prop.forAll(corpusGen) { rows =>
    val dup   = rows :+ (100L, rows.head._2)
    val pairs = Dedup.lshCandidatePairs(df(dup), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs.contains((rows.head._1, 100L))
  }

  // span removal equals the naive driver-side computation: position-level
  // coverage by any corpus-duplicated n-gram, at every alignment, in both
  // the remove-all and the keep-first-occurrence forms
  property("spanRemovalMatchesNaive") =
    Prop.forAll(corpusGen, Gen.oneOf(2, 3), Gen.oneOf(false, true)) {
      (rows, n, keepFirst) =>
        val toks = rows.map { case (id, t) =>
          id -> t.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq }
        val grams = for { (id, ts) <- toks; i <- 0 to ts.length - n }
          yield (id, i, ts.slice(i, i + n).mkString(" "))
        val byGram = grams.groupBy(_._3)
        val removable = byGram.values.filter(_.size >= 2).flatMap { occ =>
          if (keepFirst) occ.sortBy(o => (o._1, o._2)).tail else occ
        }
        val covered = removable
          .flatMap { case (id, i, _) => (i until i + n).map(id -> _) }.toSet
        val expected = toks.map { case (id, ts) =>
          val kept = ts.zipWithIndex.filterNot { case (_, i) => covered(id -> i) }
          id -> ((ts.length, kept.size.toLong, kept.map(_._1).mkString(" ")))
        }.toMap
        val got = Dedup.removeDuplicateSpans(df(rows), "doc_id", "text", n, keepFirst)
          .collect().map(r => r.getLong(0) ->
            ((r.getInt(1), r.getLong(2), r.getString(3)))).toMap
        got == expected
    }

  private val pairsGen: Gen[Seq[(Long, Long)]] =
    Gen.listOf(for {
      a <- Gen.choose(0L, 9L); b <- Gen.choose(0L, 9L) if a != b
    } yield (math.min(a, b), math.max(a, b))).map(_.distinct)

  // keep-best equals naive union-find + argmax(score, tie → min id)
  property("clusterKeepBestMatchesNaive") =
    Prop.forAll(pairsGen, Gen.listOfN(10, Gen.choose(0L, 5L))) { (pairs, scores) =>
      val ids = (0L until 10L).toSeq
      val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
      def find(x: Long): Long =
        if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      pairs.foreach { case (a, b) => parent(find(a)) = find(b) }
      val comp = ids.map(i => i -> ids.filter(j => find(j) == find(i)).min).toMap
      val score = ids.zip(scores).toMap
      val keepOf = comp.values.toSet.map { (c: Long) =>
        c -> ids.filter(comp(_) == c).minBy(i => (-score(i), i)) }.toMap
      import spark.implicits._
      val rows = ids.map(i => (i, score(i))).toDF("doc_id", "q")
      val pdf = pairs.toDF("id1", "id2")
      val got = Dedup.clusterKeepBest(rows, "doc_id", pdf,
          org.apache.spark.sql.functions.col("q"))
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getBoolean(3)))).toMap
      ids.forall { i =>
        got(i) == ((comp(i), keepOf(comp(i)) == i))
      }
    }

  // duplicate-heavy corpora still collapse to set representatives first:
  // many copies of one doc yield within-group pairs at jaccard 1.0
  property("duplicateCollapseExact") = Prop.forAll(Gen.choose(2, 8)) { copies =>
    val rows = (0 until copies).map(i => (i.toLong, "alpha beta gamma")) :+
      (copies.toLong, "alpha beta delta")
    val got = gotPairs(rows, 0.4)
    got == naivePairs(rows, 0.4)
  }
}

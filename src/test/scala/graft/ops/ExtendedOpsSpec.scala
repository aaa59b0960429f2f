package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("winnow degenerate w=1 keeps every gram (least() arity regression)") {
    val out = TextAnalysis.winnowFingerprints(
      Seq((1L, "a b c d e")).toDF("doc_id", "text"), "doc_id", "text",
      k = 2, w = 1).collect()
    assert(out.length == 4) // every 2-gram hash survives, distinct
  }

  test("tokens lowercase, trim, drop empties") {
    val out = Seq("  The Quick  fox ").toDF("text")
      .select(TextAnalysis.tokens(col("text"))).head().getSeq[String](0)
    assert(out == Seq("the", "quick", "fox"))
  }

  test("qualityScore: hand-computed sigmoid on rounded features") {
    // "the the fox": ratios = stopword 2/3→0.6667, distinct 2/3→0.6667,
    // mean_len 9/3→3.0 ⇒ z = -1 + .6667*4 + .6667*2 + 3*(-0.3) = 1.1002
    val df = Seq((1L, "the the fox")).toDF("doc_id", "text")
    val got = TextAnalysis.qualityScore(
      TextAnalysis.qualityFeatures(df, "text", "doc_id"))
      .select("q_score").head().getDouble(0)
    val z = -1.0 + 0.6667 * 4.0 + 0.6667 * 2.0 + 3.0 * -0.3
    assert(got == math.rint(1.0 / (1.0 + math.exp(-z)) * 1e6) / 1e6 ||
      got == math.round(1.0 / (1.0 + math.exp(-z)) * 1e6) / 1e6.toDouble, got.toString)
  }

  test("winnowing: shared runs share a fingerprint; short docs emit one min") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "xx yy alpha beta gamma delta epsilon zeta eta theta zz"),
      (3L, "one two") // fewer than k tokens → no grams → no rows
    ).toDF("doc_id", "text")
    val fps = TextAnalysis.winnowFingerprints(docs, "doc_id", "text", k = 3, w = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    // the winnowing guarantee: a shared run of ≥ w+k−1 = 6 tokens ⇒ a
    // shared selected fingerprint
    assert((fps(1L) intersect fps(2L)).nonEmpty)
    assert(!fps.contains(3L))
    // k ≤ tokens < k+w−1: a single window over all grams → exactly 1 fp
    val short = TextAnalysis.winnowFingerprints(
      Seq((9L, "a b c d")).toDF("doc_id", "text"), "doc_id", "text", 3, 4)
      .collect()
    assert(short.length == 1)
  }

  test("quality features on a known doc") {
    val df = Seq((1L, "the the fox")).toDF("doc_id", "text")
    val r  = TextAnalysis.qualityFeatures(df, "text", "doc_id").head()
    assert(r.getAs[Long]("n_tokens") == 3)
    assert(r.getAs[Long]("n_distinct_tokens") == 2)
    assert(r.getAs[Long]("n_stopwords") == 2)
    assert(r.getAs[Double]("mean_token_len") == math.rint(9.0 / 3 * 10000) / 10000)
  }

  test("language id picks first language on ties, und on no markers") {
    val df = Seq((1L, "le la et"), (2L, "xyzzy qwerty")).toDF("doc_id", "text")
    val out = df.select(col("doc_id"), TextAnalysis.languageId(col("text")).as("l"))
      .orderBy("doc_id").collect()
    assert(out(0).getString(1) == "fr")
    assert(out(1).getString(1) == "und")
  }

  test("unigramLogFreq scores docs by mean corpus token frequency") {
    val df = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    val out = TextAnalysis.unigramLogFreq(df, "doc_id", "text")
      .orderBy("id").collect()
    // corpus counts: a=2 b=2 c=1, total=5
    // doc1: (2+2+2)/(3*5)=0.4   doc2: (2+1)/(2*5)=0.3
    assert(out(0).getAs[Long]("n_tokens") == 3)
    assert(out(0).getAs[Double]("mean_logfreq") == math.rint(math.log(0.4) * 1e9) / 1e9)
    assert(out(1).getAs[Double]("mean_logfreq") == math.rint(math.log(0.3) * 1e9) / 1e9)
  }

  test("fingerprint is whitespace-normalization invariant") {
    val df = Seq(("a  b\tc"), ("A B C")).toDF("text")
      .select(TextAnalysis.fingerprint(col("text"))).collect()
    assert(df(0).getString(0) == df(1).getString(0))
  }

  test("redact scrubs emails, urls, and long digit runs; leaves prose alone") {
    val out = Seq(
      "mail me at jo.doe+x@site-a.co.uk today",
      "see https://ex.com/a?b=1 and http://y.io",
      "card 4111 1111-1111 1111 ok",
      "plain text with 12345 short digits").toDF("text")
      .select(TextAnalysis.redact(col("text")).as("t")).collect().map(_.getString(0))
    assert(out(0) == "mail me at <EMAIL> today")
    assert(out(1) == "see <URL> and <URL>")
    assert(out(2) == "card <NUM> ok")
    assert(out(3) == "plain text with 12345 short digits") // 5 digits: kept
  }

  test("tfidfTopTerms: corpus-wide terms score 0, distinctive terms rank first") {
    val df = Seq(
      (1L, "common alpha alpha"),
      (2L, "common beta"),
      (3L, "common gamma")).toDF("doc_id", "text")
    val out = TextAnalysis.tfidfTopTerms(df, "doc_id", "text", k = 2)
      .collect().map(r => (r.getLong(0), r.getInt(4)) ->
        ((r.getString(1), r.getLong(2), r.getDouble(5)))).toMap
    // idf("common") = ln(4/4) = 0; idf(unique) = ln(4/2) = ln 2
    assert(out((1L, 1))._1 == "alpha")
    assert(out((1L, 1))._2 == 2L) // tf counts repeats
    assert(out((1L, 1))._3 == math.rint(2 * math.log(2.0) * 1e9) / 1e9)
    assert(out((2L, 1))._1 == "beta")
    assert(out((2L, 2))._1 == "common" && out((2L, 2))._3 == 0.0)
  }

  test("chunkOverlap: stepped windows cover every token; no shuffle") {
    val df = Seq(
      (1L, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"),
      (2L, "only two"),
      (3L, "   ") // no tokens → no rows
    ).toDF("doc_id", "text")
    val out = TextAnalysis.chunkOverlap(df, "doc_id", "text",
      chunkSize = 4, step = 3)
    val rows = out.orderBy("doc_id", "chunk_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("chunk_id"),
        r.getAs[Long]("start_tok"), r.getAs[Long]("chunk_len"),
        r.getAs[String]("chunk_text")))
    assert(rows.toSeq == Seq(
      (1L, 0, 0L, 4L, "t1 t2 t3 t4"),
      (1L, 1, 3L, 4L, "t4 t5 t6 t7"),
      (1L, 2, 6L, 4L, "t7 t8 t9 t10"),
      (1L, 3, 9L, 1L, "t10"),
      (2L, 0, 0L, 2L, "only two")))
    // consecutive full chunks overlap by chunkSize − step = 1 token, and
    // every token index lands in at least one chunk
    val covered = rows.filter(_._1 == 1L)
      .flatMap(r => r._3 until (r._3 + r._4)).toSet
    assert(covered == (0L until 10L).toSet)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"chunking must not shuffle:\n$plan")
  }
}

class LineDedupSpec extends SparkSpec {
  import spark.implicits._

  test("chunkLines: fixed-width spans with ragged tail, empty doc dropped") {
    val df = Seq((1L, "a b c d e"), (2L, "")).toDF("doc_id", "text")
    val out = Dedup.chunkLines(df, "doc_id", "text", tokensPerLine = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getString(2)).toMap
    assert(out == Map((1L, 0) -> "a b", (1L, 1) -> "c d", (1L, 2) -> "e"))
  }

  test("dedupLines drops cross-doc boilerplate, keeps in-doc order") {
    val df = Seq(
      (1L, "shared header words here unique one content a"),
      (2L, "shared header words here unique two content b"),
      (3L, "totally independent document body text")
    ).toDF("doc_id", "text")
    // 4-token lines: line 0 ("shared header words here") is identical in
    // docs 1 and 2 → dropped from both; all other lines survive
    val out = Dedup.dedupLines(df, "doc_id", "text", tokensPerLine = 4)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(out(1L) == ((2L, 1L, "unique one content a")))
    assert(out(2L) == ((2L, 1L, "unique two content b")))
    assert(out(3L) == ((2L, 2L, "totally independent document body text")))
  }

  test("dedupLines: a doc that is ALL boilerplate survives with empty text") {
    val df = Seq((1L, "same same"), (2L, "same same")).toDF("doc_id", "text")
    val out = Dedup.dedupLines(df, "doc_id", "text", tokensPerLine = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getString(3))).toMap
    assert(out == Map(1L -> ((0L, "")), 2L -> ((0L, ""))))
  }
}

class QualityFilterSpec extends SparkSpec {
  import spark.implicits._

  test("qualityFilter names the first failing rule in fixed order") {
    val df = Seq(
      (1L, "the quick brown fox and a dog ran fast"),          // ok (9 toks min=5)
      (2L, "too short"),                                        // too_short
      (3L, "the spam spam spam spam spam spam spam spam spam"), // repetitive
      (4L, "the aa bb cc dd ee ff gg hh ii")                    // token_len (mean 2.0 < 3)
    ).toDF("doc_id", "text")
    val out = TextAnalysis.qualityFilter(df, "doc_id", "text",
      minTokens = 5, maxDup2Frac = 0.3, minMeanTokenLen = 3.0,
      maxMeanTokenLen = 8.0, minStopwordRatio = 0.05)
      .collect().map(r => r.getLong(0) -> (r.getString(2), r.getBoolean(3))).toMap
    assert(out(1L) == (("ok", true)))
    assert(out(2L) == (("too_short", false)))
    assert(out(3L) == (("repetitive", false)))
    assert(out(4L) == (("token_len", false)))
  }
}

class PrepSpec extends SparkSpec {
  import spark.implicits._

  test("prepPipeline assigns one disposition per doc with fixed precedence") {
    val corpus = Seq(
      (1L, "the quick brown fox and a dog ran over the hill with energy today"), // kept
      (2L, "tiny"),                                                               // too_short
      (3L, "the quick brown fox and a dog ran over the hill with energy today"), // exact dup of 1
      (4L, "the secret benchmark answer key phrase is here and a dog sat around") // contaminated
    ).toDF("doc_id", "text")
    val bench = Seq((99L, "secret benchmark answer key phrase is here")).toDF("doc_id", "text")
    val out = Prep.prepPipeline(corpus, bench, "doc_id", "text",
      minTokens = 5, maxDup2Frac = 0.9, minMeanTokenLen = 1.0,
      maxMeanTokenLen = 10.0, minStopwordRatio = 0.0,
      tokensPerLine = 50, contamN = 3, minShared = 2L, nShards = 4)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), Option(r.get(2)))).toMap
    assert(out(1L)._1 == "kept" && out(1L)._2.isDefined)
    assert(out(2L) == (("too_short", None)))
    assert(out(3L) == (("exact_dup", None))) // doc 1 is the min-id keeper
    assert(out(4L) == (("contaminated", None)))
  }
}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "alpha beta gamma"),
    (2L, "alpha  beta gamma"),   // whitespace-normalized dup of 1
    (3L, "alpha beta delta"),    // near-dup of 1 (jaccard 2/4 = 0.5)
    (4L, "completely different words entirely")
  ).toDF("doc_id", "text")

  test("exactGroups keeps min id and counts copies") {
    val g = Dedup.exactGroups(docs, "doc_id", "text").orderBy("keep_id").collect()
    assert(g.map(r => (r.getAs[Long]("keep_id"), r.getAs[Long]("n_copies"))).toSeq ==
      Seq((1L, 2L), (3L, 1L), (4L, 1L)))
  }

  test("jaccardPairs computes exact set jaccard") {
    val p = Dedup.jaccardPairs(docs, "doc_id", "text", minJaccard = 0.4)
      .orderBy("id1", "id2").collect()
    val m = p.map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("jaccard")).toMap
    assert(m((1L, 2L)) == 1.0)   // identical token sets
    assert(m((1L, 3L)) == 0.5)   // 2 common of 4 union
    assert(!m.contains((1L, 4L)))
  }

  test("minhash: identical token sets share signatures; lsh finds the pair") {
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", k = 8)
      .orderBy("doc_id").collect()
    assert(sigs(0).toSeq.drop(1) == sigs(1).toSeq.drop(1)) // doc 1 ≡ doc 2
    val pairs = Dedup.lshCandidatePairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists { case (a, b) => Set(a, b).contains(4L) })
  }

  test("persisted LSH index: probe prunes by hash prefix, agrees with in-memory bands") {
    val idx = java.nio.file.Files.createTempDirectory("lshix").toString + "/idx"
    val corpus   = docs.filter(col("doc_id") =!= 3L)
    val incoming = docs.filter(col("doc_id") === 3L)
    Dedup.buildLshIndex(corpus, "doc_id", "text", k = 8, rowsPerBand = 2, idx)
    val probe = Dedup.probeLshIndex(spark, idx, incoming, "doc_id", "text",
      k = 8, rowsPerBand = 2)
    // prefix pruning reaches the scan: bh_px is a partition filter on the
    // organized layout. The probe itself returns an eagerly-materialized
    // checkpoint (so it can retry across a racing compaction), so the
    // pruning is asserted on the layout's scan shape directly.
    val plan = spark.read.parquet(idx + "/organized")
      .filter(col("bh_px") === "p00")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bh_px"),
      s"expected bh_px partition pruning:\n$plan")
    // candidates == the in-memory band self-join restricted to cross pairs
    val got = probe.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Dedup.lshCandidatePairs(docs, "doc_id", "text", k = 8, rowsPerBand = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => (a == 3L) != (b == 3L) }
      .map { case (a, b) => if (a == 3L) (a, b) else (b, a) }.toSet
    assert(got == full, s"probe $got != in-memory cross pairs $full")
    assert(got.contains((3L, 1L))) // near-dup of doc 1 is found via the index
  }

  test("verifyPairsEditDistance: normalized levenshtein on candidate pairs only") {
    val d = Seq((1L, "a  b c"), (2L, "a b d"), (3L, "c b a")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("id1", "id2")
    val out = Dedup.verifyPairsEditDistance(d, pairs, "doc_id", "text", maxDist = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Int]("edit_dist")).toMap
    assert(out == Map((1L, 2L) -> 1)) // whitespace normalized; (1,3) dist 2 filtered
  }

  test("decontaminate drops exactly the quarantined docs") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon"),   // shares 2 grams with bench
      (2L, "totally clean words nothing shared"),
      (3L, "alpha beta gamma other stuff")      // shares 2 grams with bench
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "alpha beta gamma delta zeta")).toDF("doc_id", "text")
    val clean = Contamination.decontaminate(corpus, bench, "doc_id", "text",
      n = 3, minShared = 2L).select("doc_id").as[Long].collect().sorted
    // doc1 shares "alpha beta gamma" + "beta gamma delta" (2 grams) → out;
    // doc3 shares only "alpha beta gamma" (1 gram) → stays
    assert(clean.toSeq == Seq(2L, 3L))
  }

  test("clusterKeepBest keeps the highest score per cluster, ties to min id") {
    import org.apache.spark.sql.functions.{col => c}
    val rows = Seq((1L, 5L), (2L, 9L), (3L, 9L), (4L, 2L), (9L, 1L))
      .toDF("doc_id", "q")
    // {1,2,3} one cluster (chain), {4} paired with nothing... pair 4-9
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 9L)).toDF("id1", "id2")
    val out = Dedup.clusterKeepBest(rows, "doc_id", pairs, c("q"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    // cluster 1 = {1,2,3}: max q=9 held by 2 and 3 → tie keeps id 2
    assert(out(1L) == ((1L, 5L, false)))
    assert(out(2L) == ((1L, 9L, true)))
    assert(out(3L) == ((1L, 9L, false)))
    // cluster 4 = {4,9}: q 2 vs 1 → keeps 4
    assert(out(4L) == ((4L, 2L, true)))
    assert(out(9L) == ((4L, 1L, false)))
  }

  test("removeDuplicateSpans drops duplicated runs at any alignment") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps high"),
      (2L, "lazy dog saw the quick brown fox sleep"), // shares a 4-token run, shifted
      (3L, "totally unique words only here"),
      (4L, "a b c x a b c")                           // within-doc repeat
    ).toDF("doc_id", "text")
    val out = Dedup.removeDuplicateSpans(corpus, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getLong(2), r.getString(3))).toMap
    // doc1: grams "the quick brown"(p1) and "quick brown fox"(p2) are
    // duplicated → positions 1-4 covered, "jumps high" survives
    assert(out(1L) == ((6, 2L, "jumps high")))
    // doc2: same two grams at p4/p5 → positions 4-7 covered
    assert(out(2L) == ((8, 4L, "lazy dog saw sleep")))
    // doc3: nothing duplicated
    assert(out(3L) == ((5, 5L, "totally unique words only here")))
    // doc4: "a b c" occurs twice WITHIN the doc (p1, p5) → 1-3 and 5-7
    // covered, only "x" survives
    assert(out(4L) == ((7, 1L, "x")))

    // keepFirst: the globally first copy survives, later copies drop
    val kf = Dedup.removeDuplicateSpans(corpus, "doc_id", "text",
        n = 3, keepFirst = true)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getLong(2), r.getString(3))).toMap
    // doc1 holds the first occurrences of both duplicated grams → intact
    assert(kf(1L) == ((6, 6L, "the quick brown fox jumps high")))
    // doc2's copies (p4/p5) are the later occurrences → positions 4-7 drop
    assert(kf(2L) == ((8, 4L, "lazy dog saw sleep")))
    // doc4's second in-doc copy (p5) drops; first (p1) survives
    assert(kf(4L) == ((7, 4L, "a b c x")))
  }

  test("compactLshIndex: probe identical, delta folded to one file per prefix") {
    val base = java.nio.file.Files.createTempDirectory("lshcp").toString
    val idx = base + "/idx"
    // several appends accrete file sets in the flat delta tail
    Dedup.buildLshIndex(docs.filter(col("doc_id") <= 2L), "doc_id", "text", 8, 2, idx)
    Dedup.appendLshIndex(docs.filter(col("doc_id") === 3L), "doc_id", "text", 8, 2, idx)
    Dedup.appendLshIndex(docs.filter(col("doc_id") === 4L), "doc_id", "text", 8, 2, idx)
    val incoming = docs.filter(col("doc_id") === 1L)
    def pairs() =
      Dedup.probeLshIndex(spark, idx, incoming, "doc_id", "text", 8, 2)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def parquets(dir: java.io.File): Seq[java.io.File] =
      Option(dir.listFiles()).toSeq.flatten
        .filter(_.getName.endsWith(".parquet"))
    // delta appends each own a UUID batch directory
    def deltaCount(): Int =
      Option(new java.io.File(idx, "delta").listFiles()).toSeq.flatten
        .filter(_.isDirectory).map(parquets(_).size).sum
    def filesPerPrefix(): Map[String, Int] = {
      val root = new java.io.File(idx, "organized")
      Option(root.listFiles()).toSeq.flatten
        .filter(d => d.isDirectory && d.getName.startsWith("bh_px="))
        .map(d => d.getName -> parquets(d).size).toMap
    }
    val before = pairs()
    assert(deltaCount() >= 2, "fixture should accrete delta files")
    Dedup.compactLshIndex(spark, idx)
    assert(pairs() == before, "compaction changed probe results")
    assert(deltaCount() == 0, "compaction should consume the delta tail")
    assert(filesPerPrefix().nonEmpty && filesPerPrefix().values.forall(_ == 1),
      s"expected one file per prefix dir, got ${filesPerPrefix()}")
  }

  test("legacy root-layout index: probes read it, compaction migrates it") {
    import org.apache.spark.sql.functions.{concat, lit, substring}
    val idx = java.nio.file.Files.createTempDirectory("lshleg").toString + "/idx"
    val corpus = docs.filter(col("doc_id") =!= 3L)
    val incoming = docs.filter(col("doc_id") === 3L)
    // write the PRE-LSM layout by hand: bh_px=… hive dirs at the root
    Dedup.lshBands(Dedup.minhashSignatures(corpus, "doc_id", "text", 8), "doc_id", 8, 2)
      .withColumn("bh_px", concat(lit("p"), substring(col("band_hash"), 1, 2)))
      .repartition(col("bh_px"))
      .write.partitionBy("bh_px").parquet(idx)
    def pairs() = Dedup.probeLshIndex(spark, idx, incoming, "doc_id", "text", 8, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = pairs()
    assert(before.nonEmpty, "legacy layout should be probeable without migration")
    // an append lands in delta/ alongside the legacy dirs; probe unions both
    Dedup.appendLshIndex(docs.filter(col("doc_id") === 4L), "doc_id", "text", 8, 2, idx)
    val withAppend = pairs()
    assert(before.subsetOf(withAppend))
    // compaction folds legacy + delta into organized/ and drops the legacy dirs
    Dedup.compactLshIndex(spark, idx)
    assert(pairs() == withAppend, "migration changed probe results")
    val legacyLeft = Option(new java.io.File(idx).listFiles()).toSeq.flatten
      .count(d => d.isDirectory && d.getName.startsWith("bh_px="))
    assert(legacyLeft == 0, "legacy dirs should be consumed by compaction")
    assert(new java.io.File(idx, "organized").isDirectory)
  }

  test("probe surfaces a retryable failure mid-swap instead of silent delta-only results") {
    val idx = java.nio.file.Files.createTempDirectory("lshswap").toString + "/idx"
    Dedup.buildLshIndex(docs.filter(col("doc_id") =!= 3L), "doc_id", "text", 8, 2, idx)
    val incoming = docs.filter(col("doc_id") === 3L)
    def pairs() = Dedup.probeLshIndex(spark, idx, incoming, "doc_id", "text", 8, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = pairs()
    assert(before.nonEmpty)
    // simulate a compaction caught mid-swap: organized/ retired, not yet replaced
    val org = new java.io.File(idx, "organized")
    val retired = new java.io.File(idx, "organized.retired.test")
    assert(org.renameTo(retired))
    val thrown = intercept[Exception](pairs())
    assert(Dedup.fileGone(thrown),
      s"mid-swap probe must fail with the retryable signature, got $thrown")
    // swap completes; probes recover with identical results
    assert(retired.renameTo(org))
    assert(pairs() == before)
  }

  test("LSH index append: probe sees appended docs identically to a full rebuild") {
    val base = java.nio.file.Files.createTempDirectory("lshap").toString
    val (inc, rebuilt) = (base + "/inc", base + "/full")
    val partA = docs.filter(col("doc_id") <= 2L)
    val partB = docs.filter(col("doc_id") === 4L)
    val incoming = docs.filter(col("doc_id") === 3L)
    Dedup.buildLshIndex(partA, "doc_id", "text", k = 8, rowsPerBand = 2, inc)
    Dedup.appendLshIndex(partB, "doc_id", "text", k = 8, rowsPerBand = 2, inc)
    Dedup.buildLshIndex(docs.filter(col("doc_id") =!= 3L), "doc_id", "text",
      k = 8, rowsPerBand = 2, rebuilt)
    def pairs(path: String) =
      Dedup.probeLshIndex(spark, path, incoming, "doc_id", "text", k = 8, rowsPerBand = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(inc) == pairs(rebuilt))
  }

  test("shingles: word 2-grams, order-sensitive, short docs empty") {
    val out = Seq(("a b c d"), ("d c b a"), ("solo")).toDF("text")
      .select(Dedup.shingles(col("text"), 2).as("sh")).collect()
    assert(out(0).getSeq[String](0) == Seq("a b", "b c", "c d"))
    assert(out(1).getSeq[String](0) == Seq("d c", "c b", "b a")) // ≠ doc 1: order matters
    assert(out(2).getSeq[String](0).isEmpty)
  }

  test("shingle jaccard: reordered docs score 0 where unigram jaccard is 1") {
    val docs = Seq((1L, "a b c d"), (2L, "d c b a")).toDF("doc_id", "text")
    assert(Dedup.jaccardPairs(docs, "doc_id", "text", 0.9).count() == 1)       // same word set
    assert(Dedup.shingleJaccardPairs(docs, "doc_id", "text", 2, 0.01).count() == 0) // no shared bigram
  }

  test("dedupPipeline: exact collapse, LSH+verify near-dups, deterministic keep") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta"),
      (2L, "alpha  beta gamma delta epsilon zeta eta"),  // exact dup of 1
      (3L, "alpha beta gamma delta epsilon zeta theta"), // near dup (jaccard 6/8=0.75)
      (4L, "totally different content entirely")         // unique
    ).toDF("doc_id", "text")
    val out = Dedup.dedupPipeline(corpus, "doc_id", "text", minJaccard = 0.7)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "kept")
    assert(out(2L) == "exact_dup")
    assert(out(3L) == "near_dup") // dropped in favor of smaller id 1
    assert(out(4L) == "kept")
  }

  test("verifyPairsJaccard computes only requested pairs, zero for disjoint") {
    val words = Dedup.tokenSets(docs, "doc_id", "text")
      .withColumnRenamed("doc_id", "id")
    val pairs = Seq((1L, 3L), (1L, 4L)).toDF("id1", "id2")
    val out = Dedup.verifyPairsJaccard(words, pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out.size == 2)
    assert(out((1L, 3L)) == 0.5)
    assert(out((1L, 4L)) == 0.0)
  }

  test("simhashPairs finds identical docs at hamming 0, skips disjoint") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", 16, 4, maxHamming = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs((1L, 2L)) == 0L) // identical token multisets
    assert(!pairs.keys.exists { case (a, b) => Set(a, b).contains(4L) })
  }

  test("MLlib MinHashLSH finds the exact-dup pair (library-first variant)") {
    val out = MlDedup.minhashNearDups(docs, "doc_id", "text", maxDist = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out((1L, 2L)) == 0.0)      // identical token sets, distance 0
    assert(out.contains((1L, 3L)))    // near dup within threshold
    assert(!out.keys.exists { case (a, b) => Set(a, b).contains(4L) })
  }

  test("simhash: identical docs equal, disjoint docs differ") {
    val s = Dedup.simhash(docs, "doc_id", "text").orderBy("doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(s(1L) == s(2L))
    assert(s(1L) != s(4L))
    assert(s(1L).length == 16 && s(1L).forall(c => c == '0' || c == '1'))
  }

  test("newDocuments: content-new only, whitespace-normalized matches excluded") {
    val corpus   = Seq((1L, "alpha beta"), (2L, "gamma delta")).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "alpha  beta"),   // normalized dup of corpus doc 1 → excluded
      (11L, "brand new doc")  // genuinely new
    ).toDF("doc_id", "text")
    val out = Dedup.newDocuments(incoming, corpus, "doc_id", "text")
      .collect().map(_.getAs[Long]("doc_id")).toSeq
    assert(out == Seq(11L))
  }

  test("connectedComponents: min-label per component, transitive chains close") {
    // 1-2-3 is a chain (no direct 1-3 pair), 10-11 separate, 7-8-9 a triangle.
    val pairs = Seq((2L, 3L), (1L, 2L), (10L, 11L), (7L, 8L), (8L, 9L), (7L, 9L))
      .toDF("id1", "id2")
    val cc = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      7L -> 7L, 8L -> 7L, 9L -> 7L))
  }

  test("connectedComponents converges past diameter and survives repartition") {
    // Path graph 1-2-...-8: worst case for hash-min (diameter 7).
    val chain = (1L to 7L).map(i => (i, i + 1)).toDF("id1", "id2").repartition(5)
    val cc = Dedup.connectedComponents(chain).collect()
    assert(cc.length == 8 && cc.forall(_.getLong(1) == 1L))
  }

  test("clusterAssign: singletons self-clustered, one kept per cluster") {
    val ids = Seq(1L, 2L, 3L, 4L).toDF("doc_id")
    val pairs = Seq((2L, 3L)).toDF("id1", "id2")
    val out = Dedup.clusterAssign(ids, "doc_id", pairs)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(out == Map(1L -> ((1L, true)), 2L -> ((2L, true)),
      3L -> ((2L, false)), 4L -> ((4L, true))))
  }
}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)),
    (1L, Array(1.0f, 0.0f, 0.0f)),   // identical to 0
    (2L, Array(0.0f, 1.0f, 0.0f)),   // orthogonal
    (3L, Array(0.7f, 0.7f, 0.0f))
  ).toDF("vec_id", "embedding")

  test("cosine: identical=1, orthogonal=0") {
    val c = vecs.alias("a").crossJoin(vecs.alias("b"))
      .select(col("a.vec_id").as("i"), col("b.vec_id").as("j"),
        round(Similarity.cosine(col("a.embedding"), col("b.embedding")), 6).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(c((0L, 1L)) == 1.0)
    assert(c((0L, 2L)) == 0.0)
    assert(math.abs(c((0L, 3L)) - math.sqrt(0.5)) < 1e-5)
  }

  test("quadratic verifiers fail fast above maxRows, opt out with 0") {
    val big = spark.range(0, 50).select(col("id").as("vec_id"),
      array(col("id").cast("float"), lit(1.0f)).as("embedding"))
    val eBrute = intercept[IllegalArgumentException] {
      Similarity.bruteForceTopK(big.limit(1), big, "vec_id", "embedding",
        k = 3, maxRows = 10)
    }
    assert(eBrute.getMessage.contains("ivfTopK"))
    val ePairs = intercept[IllegalArgumentException] {
      Similarity.cosineNearDupPairs(big, "vec_id", "embedding", 0.9,
        maxRows = 10)
    }
    assert(ePairs.getMessage.contains("lshNearDupPairs"))
    // maxRows = 0 opts out; default ceiling admits small verification sets
    assert(Similarity.cosineNearDupPairs(big, "vec_id", "embedding", 0.999999,
      maxRows = 0).count() >= 0)
    assert(Similarity.bruteForceTopK(big.limit(1), big, "vec_id", "embedding",
      k = 3).count() == 3)
  }

  test("bruteForceTopK ranks by cosine desc with id tie-break") {
    val out = Similarity.bruteForceTopK(
      vecs.filter(col("vec_id") === 0), vecs, "vec_id", "embedding", k = 3)
      .orderBy("rank").collect()
    assert(out.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(1L, 3L, 2L))
    assert(out.map(_.getAs[Int]("rank")).toSeq == Seq(1, 2, 3))
  }

  test("prepVectors-prepared input is bit-identical across every top-k method") {
    // richer fixture than `vecs`: enough rows that buckets/centroids
    // actually partition the space, exercising the signature PREFIX
    // property (one 24-plane SigCol feeding 4-plane single/multi-probe
    // and 8-plane-in-4-bands banded probes) and NormCol reuse
    val many = spark.range(0, 40).select(col("id").as("vec_id"),
      array(cos(col("id") * 0.37).cast("float"),
        sin(col("id") * 0.37).cast("float"),
        cos(col("id") * 0.11).cast("float")).as("embedding"))
    val prepped = Similarity.prepVectors(many, "embedding",
      sigPlanes = 24, dims = 3).localCheckpoint()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(df.columns.map(col).toIndexedSeq: _*).collect().toSeq
    def check(f: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame)
        => org.apache.spark.sql.DataFrame): Unit = {
      val qRaw = many.filter(col("vec_id") < 3)
      val qPre = prepped.filter(col("vec_id") < 3)
      assert(rows(f(qPre, prepped)) == rows(f(qRaw, many)))
    }
    check((q, c) => Similarity.bruteForceTopK(q, c, "vec_id", "embedding", 4))
    check((q, c) => Similarity.lshTopK(q, c, "vec_id", "embedding", 4,
      planes = 4, dims = 3))
    check((q, c) => Similarity.lshTopKMultiProbe(q, c, "vec_id", "embedding", 4,
      planes = 4, dims = 3))
    check((q, c) => Similarity.lshTopKBanded(q, c, "vec_id", "embedding", 4,
      planes = 8, nBands = 4, dims = 3))
    check((q, c) => Similarity.ivfTopK(q, c, "vec_id", "embedding", 4,
      nCentroids = 4))
    check((q, c) => Similarity.quantizedTopK(q, c, "vec_id", "embedding", 4))
    check((q, c) => Similarity.lshQuantizedTopK(q, c, "vec_id", "embedding", 4,
      planes = 4, dims = 3))
    val book = Similarity.pqCodebookHashOrdered(many, "vec_id", "embedding",
      m = 3, nCodes = 4)
    for (cosineScore <- Seq(false, true))
      check((q, c) => Similarity.pqTopK(q, c, "vec_id", "embedding", 4, m = 3,
        codebook = book, cosineScore = cosineScore))
    check((q, c) => Similarity.pqTopKRerank(q, c, "vec_id", "embedding", 4, m = 3,
      codebook = book, rerank = 8))
    val cents = many.filter(col("vec_id") < 4)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cent_v"))
    for (scorer <- Seq(Similarity.DotScore, Similarity.L2Score))
      check((q, c) => Similarity.ivfTopKWith(q, c, "vec_id", "embedding", 4,
        cents, scorer))
    // the near-dup pair finders share the sides and the band helper
    assert(rows(Similarity.lshNearDupPairs(prepped, "vec_id", "embedding", 0.9,
      planes = 8, nBands = 4, dims = 3)) == rows(Similarity.lshNearDupPairs(many,
      "vec_id", "embedding", 0.9, planes = 8, nBands = 4, dims = 3)))
    assert(rows(Similarity.cosineNearDupPairs(prepped, "vec_id", "embedding", 0.9))
      == rows(Similarity.cosineNearDupPairs(many, "vec_id", "embedding", 0.9)))
    // asking for MORE planes than were prepared fails loudly (metadata
    // guard) instead of silently slicing a too-short prefix
    val narrow = Similarity.prepVectors(many, "embedding",
      sigPlanes = 2, dims = 3)
    val ex = intercept[IllegalArgumentException] {
      Similarity.lshTopK(narrow.filter(col("vec_id") < 3), narrow,
        "vec_id", "embedding", 4, planes = 4, dims = 3).collect()
    }
    assert(ex.getMessage.contains("prepared signature has 2 planes"))
    // STRIPPED metadata (an intermediate transform re-expressing SigCol
    // loses the column metadata): the prepared width is unverifiable, so
    // sigOf must RECOMPUTE, not trust a prefix slice — with a 2-plane
    // column and a 4-plane request the old trust-on-sight path would
    // silently merge buckets (ADVICE r10)
    val stripped = narrow.withColumn(Similarity.SigCol,
      concat(col(Similarity.SigCol)))
    assert(stripped.schema(Similarity.SigCol).metadata
      .contains("graft.sig.planes") == false,
      "fixture must actually strip the metadata")
    val viaStripped = rows(Similarity.lshTopK(
      stripped.filter(col("vec_id") < 3), stripped,
      "vec_id", "embedding", 4, planes = 4, dims = 3))
    assert(viaStripped == rows(Similarity.lshTopK(
      many.filter(col("vec_id") < 3), many,
      "vec_id", "embedding", 4, planes = 4, dims = 3)))
    // DIMS mismatch: planeWeights depend on dims, so a signature prepared
    // under different dims is the wrong hyperplanes. Rewrite the metadata
    // to CLAIM dims=2 — the guard must refuse reuse and recompute, and
    // the result must equal the unprepared evaluation at the requested
    // dims (before the fix, the 24≥4 width check passed and the foreign
    // signature was silently reused)
    val liedMeta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("graft.sig.planes", 24L).putLong("graft.sig.dims", 2L).build()
    val wrongDims = prepped.withColumn(Similarity.SigCol,
      col(Similarity.SigCol).as(Similarity.SigCol, liedMeta))
    val viaWrongDims = rows(Similarity.lshTopK(
      wrongDims.filter(col("vec_id") < 3), wrongDims,
      "vec_id", "embedding", 4, planes = 4, dims = 3))
    assert(viaWrongDims == rows(Similarity.lshTopK(
      many.filter(col("vec_id") < 3), many,
      "vec_id", "embedding", 4, planes = 4, dims = 3)))
    CacheControl.release(prepped)
  }

  test("lsh buckets: identical vectors share buckets; topk finds identical twin") {
    val out = Similarity.lshTopK(
      vecs.filter(col("vec_id") === 0), vecs, "vec_id", "embedding",
      k = 3, planes = 4, dims = 3).collect()
    assert(out.map(_.getAs[Long]("neighbor_id")).contains(1L))
  }

  test("ivfTopK: identical twin found when it shares the centroid list") {
    val out = Similarity.ivfTopK(
      vecs.filter(col("vec_id") === 0), vecs, "vec_id", "embedding",
      k = 3, nCentroids = 2).collect()
    // vec 1 is identical to query 0 → same nearest centroid → rank 1
    assert(out.head.getAs[Long]("neighbor_id") == 1L)
    assert(out.head.getAs[Int]("rank") == 1)
  }

  test("planeWeights deterministic and ±1") {
    val w1 = Similarity.planeWeights(3, 64)
    val w2 = Similarity.planeWeights(3, 64)
    assert(w1 == w2)
    assert(w1.forall(w => w == 1.0 || w == -1.0))
    assert(w1 != Similarity.planeWeights(4, 64))
  }

  test("lshNearDupPairs ⊆ exact pairs, same cosines, full recall on twins") {
    val exact = Similarity.cosineNearDupPairs(vecs, "vec_id", "embedding", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = Similarity.lshNearDupPairs(vecs, "vec_id", "embedding", 0.9,
      planes = 8, nBands = 4, dims = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // identical vectors share every band → always recalled
    assert(lsh.contains((0L, 1L)) && lsh((0L, 1L)) == 1.0)
    // verification is exact: no false positives, values match the verifier
    assert(lsh.keySet.subsetOf(exact.keySet))
    lsh.foreach { case (k, c) => assert(exact(k) == c) }
  }

  test("quantizeInt8: max magnitude maps to ±127, zero vector to zeros") {
    val out = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f)),
      (2L, Array(0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), Similarity.quantizeInt8(col("embedding")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(out(1L) == Seq(64, -127, 32)) // floor(±x/1.0*127+0.5)
    assert(out(2L) == Seq(0, 0, 0))
  }

  test("quantizedTopK ranks like exact topK on well-separated vectors") {
    val exact = Similarity.bruteForceTopK(
      vecs.filter(col("vec_id") === 0), vecs, "vec_id", "embedding", k = 3)
      .orderBy("rank").collect().map(_.getAs[Long]("neighbor_id")).toSeq
    val quant = Similarity.quantizedTopK(
      vecs.filter(col("vec_id") === 0), vecs, "vec_id", "embedding", k = 3)
      .orderBy("rank").collect().map(_.getAs[Long]("neighbor_id")).toSeq
    assert(quant == exact) // 8-bit error ≪ the separation between these vectors
  }

  test("kmeansCentroids converges to blob means; trained IVF finds the twin") {
    // Two tight blobs around x̂ and ŷ; init (first 2 by id) lands one seed
    // in each, so two rounds of Lloyd pull centroids to the blob means.
    val blobs = Seq(
      (0L, Array(1.0f, 0.05f, 0.0f)), (1L, Array(0.05f, 1.0f, 0.0f)),
      (2L, Array(1.0f, -0.05f, 0.0f)), (3L, Array(-0.05f, 1.0f, 0.0f)),
      (4L, Array(0.9f, 0.0f, 0.1f)), (5L, Array(0.0f, 0.9f, 0.1f))
    ).toDF("vec_id", "embedding")
    val cents = Similarity.kmeansCentroids(blobs, "vec_id", "embedding", k = 2, iters = 3)
      .orderBy("cent_id").collect().map(_.getSeq[Double](1))
    def cos(a: Seq[Double], b: Seq[Double]) = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    assert(cos(cents(0), Seq(1.0, 0.0, 0.0)) > 0.99) // blob A mean ≈ x̂
    assert(cos(cents(1), Seq(0.0, 1.0, 0.0)) > 0.99) // blob B mean ≈ ŷ
    // the trained quantizer routes the identical twin into the same list
    val top = Similarity.ivfTopKWith(
      blobs.filter(col("vec_id") === 0), blobs, "vec_id", "embedding", k = 1,
      Similarity.kmeansCentroids(blobs, "vec_id", "embedding", 2, 3))
      .collect()
    assert(top.length == 1 && top.head.getAs[Long]("neighbor_id") == 2L) // nearest same-blob vector
  }

  test("lshTopKMultiProbe: superset of single-bucket results, same cos, finds twin") {
    val single = Similarity.lshTopK(
      vecs.filter(col("vec_id") === 0), vecs, "vec_id", "embedding",
      k = 5, planes = 4, dims = 3)
      .collect().map(r => (r.getLong(1), r.getDouble(3))).toMap
    val multi = Similarity.lshTopKMultiProbe(
      vecs.filter(col("vec_id") === 0), vecs, "vec_id", "embedding",
      k = 5, planes = 4, dims = 3)
      .collect().map(r => (r.getLong(1), r.getDouble(3))).toMap
    // radius-1 probing only ADDS candidates; the scorer is identical
    assert(single.keySet.subsetOf(multi.keySet),
      s"single=$single multi=$multi")
    single.foreach { case (id, c) => assert(multi(id) == c) }
    assert(multi.contains(1L)) // the identical twin shares the own-bucket
  }

  test("lshQuantizedTopK: twin recall survives the quantized scorer, no cartesian") {
    val out = Similarity.lshQuantizedTopK(
      vecs.filter(col("vec_id") === 0), vecs, "vec_id", "embedding",
      k = 1, planes = 4, dims = 3)
    assert(out.collect().head.getAs[Long]("neighbor_id") == 1L) // identical twin
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
  }

  test("persisted IVF index: probe prunes to one partition, matches in-memory IVF") {
    val dir = java.nio.file.Files.createTempDirectory("ivf").toString + "/idx"
    val cents = Similarity.kmeansCentroids(vecs, "vec_id", "embedding", k = 2, iters = 2)
    Similarity.buildIvfIndex(vecs, "vec_id", "embedding", cents, dir)
    val probe = Similarity.probeIvfIndex(spark, dir, queryId = 0L,
      queryVec = Seq(1.0f, 0.0f, 0.0f), centroids = cents, k = 2)
    // partition pruning reaches the scan: cent_id is a partition filter
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cent_id"),
      s"expected cent_id partition pruning:\n$plan")
    // the probed list contains the identical twin as nearest
    val rows = probe.collect()
    assert(rows.head.getAs[Long]("neighbor_id") == 1L &&
      rows.head.getAs[Double]("cos") == 1.0)
    // and results agree with the in-memory IVF probe for the same quantizer
    val mem = Similarity.ivfTopKWith(vecs.filter(col("vec_id") === 0), vecs,
      "vec_id", "embedding", k = 2, cents)
      .orderBy("rank").collect().map(_.getAs[Long]("neighbor_id")).toSeq
    assert(rows.map(_.getAs[Long]("neighbor_id")).toSeq == mem)
  }

  test("auto-sized IVF index: √N lists; probe reads ONLY the probed lists' files") {
    val dir = java.nio.file.Files.createTempDirectory("ivfauto").toString + "/idx"
    assert(Similarity.suggestedIvfLists(1) == 1 &&
      Similarity.suggestedIvfLists(40) == 6 &&
      Similarity.suggestedIvfLists(1000000) == 1000)
    val many = spark.range(0, 40).select(col("id").as("vec_id"),
      array(cos(col("id") * 0.37).cast("float"),
        sin(col("id") * 0.37).cast("float"),
        cos(col("id") * 0.11).cast("float")).as("embedding"))
    val cents = Similarity.buildIvfIndexAuto(many, "vec_id", "embedding", dir)
    assert(cents.count() == 6)
    // organize-on-write leaves one file per list directory
    val listDirs = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cent_id="))
    assert(listDirs.length == 6, s"expected 6 list dirs, got ${listDirs.length}")
    listDirs.foreach { d =>
      val files = d.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1, s"list ${d.getName}: ${files.length} files")
    }
    // one query at nProbe=1 probes exactly one list → the executed scan
    // must read exactly ONE of the six files (numFiles metric, the same
    // evidence the manifest pruning specs use)
    val one = many.filter(col("vec_id") === 0L)
    val probe = Similarity.probeIvfIndexBatch(spark, dir, one,
      "vec_id", "embedding", cents, k = 3)
    probe.collect()
    // the probe plan is adaptive (joins + a window): recurse through
    // AQE stage wrappers — their `children` are empty — to reach the
    // index scan's numFiles metric (same traversal GraphSpec uses)
    def allNodes(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a +: allNodes(a.executedPlan)
      case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        qs +: allNodes(qs.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        r +: allNodes(r.child)
      case other => other +: other.children.flatMap(allNodes)
    }
    val scanned = allNodes(probe.queryExecution.executedPlan).collect {
      case p if p.nodeName.startsWith("Scan") && p.metrics.contains("numFiles") =>
        p.metrics("numFiles").value
    }.sum
    assert(scanned == 1, s"pruned probe read $scanned files, expected 1")
    // and the probe agrees with the in-memory IVF over the same quantizer
    val mem = Similarity.ivfTopKWith(one, many, "vec_id", "embedding",
      k = 3, cents).orderBy("rank")
      .collect().map(_.getAs[Long]("neighbor_id")).toSeq
    val got = probe.orderBy("rank")
      .collect().map(_.getAs[Long]("neighbor_id")).toSeq
    assert(got == mem)
    CacheControl.release(cents)
  }

  test("IVF batch probe: above the broadcast gate the equi-join fallback returns identical rows") {
    // the gate decision is pure and boundary-exact
    assert(Similarity.probeBroadcastEligible(100000L, 100000L))
    assert(!Similarity.probeBroadcastEligible(100001L, 100000L))
    val dir = java.nio.file.Files.createTempDirectory("ivfgate").toString + "/idx"
    val many = spark.range(0, 60).select(col("id").as("vec_id"),
      array(cos(col("id") * 0.41).cast("float"),
        sin(col("id") * 0.41).cast("float"),
        cos(col("id") * 0.13).cast("float")).as("embedding"))
    val cents = Similarity.buildIvfIndexAuto(many, "vec_id", "embedding", dir)
    val q = many.filter(col("vec_id") < 6)
    def rows(maxBroadcastRows: Long) =
      Similarity.probeIvfIndexBatch(spark, dir, q, "vec_id", "embedding",
          cents, k = 4, nProbe = 2, maxBroadcastRows = maxBroadcastRows)
        .collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
          r.getAs[Int]("rank"), r.getAs[Double]("cos"))).toSet
    // maxBroadcastRows = 0 forces the fallback (6 queries × 2 probes > 0)
    // — the paths must be plan-only variants of one probe
    assert(rows(0L) == rows(100000L))
    CacheControl.release(cents)
  }

  test("calibrateNProbe: 1 on cluster-aligned data, wider (and sufficient) on boundary-heavy data") {
    import spark.implicits._
    def vec(angle: Double): Seq[Float] =
      Seq(math.cos(angle).toFloat, math.sin(angle).toFloat)
    val base = java.nio.file.Files.createTempDirectory("ivfcal").toString
    // 3 tight, well-separated clusters with centroids AT the centers:
    // every true neighbor lives in the query's own list → nProbe = 1
    val clustered = (for (c <- 0 until 3; i <- 0 until 10)
      yield ((c * 10 + i).toLong, vec(c * 2.0 + (i - 5) * 0.002)))
      .toDF("vec_id", "embedding")
    val cCents = Seq((0, vec(0.0)), (1, vec(2.0)), (2, vec(4.0)))
      .toDF("cent_id", "cent_v")
      .select(col("cent_id"), expr("transform(cent_v, x -> cast(x as double))").as("cent_v"))
    Similarity.buildIvfIndex(clustered, "vec_id", "embedding", cCents, base + "/c")
    assert(Similarity.calibrateNProbe(spark, base + "/c", clustered,
      "vec_id", "embedding", cCents, k = 3, recallTarget = 0.9) == 1)
    // a uniform ring with 6 lists: many true neighbors sit across a
    // Voronoi boundary — single-probe recall misses the target, the
    // calibrated width is wider, and probing at it MEETS the target
    val ring = (0 until 24).map(i => (i.toLong, vec(i * math.Pi / 12)))
      .toDF("vec_id", "embedding")
    val rCents = (0 until 6).map(j => (j, vec(j * math.Pi / 3)))
      .toDF("cent_id", "cent_v")
      .select(col("cent_id"), expr("transform(cent_v, x -> cast(x as double))").as("cent_v"))
    Similarity.buildIvfIndex(ring, "vec_id", "embedding", rCents, base + "/r")
    val np = Similarity.calibrateAndRecord(spark, base + "/r", ring,
      "vec_id", "embedding", rCents, k = 3, recallTarget = 0.9)
    assert(np > 1 && np <= 6, s"calibrated nProbe = $np")
    // the operating point persists with the index; an uncalibrated
    // index reports None (callers must then choose explicitly)
    assert(Similarity.recordedNProbe(spark, base + "/r").contains(np))
    assert(Similarity.recordedNProbe(spark, base + "/c").isEmpty)
    // the sidecar is invisible to the index scan itself
    assert(spark.read.parquet(base + "/r").count() == 24)
    val truth = Similarity.bruteForceTopK(ring, ring, "vec_id", "embedding", 3)
      .select("query_id", "neighbor_id")
    val got = Similarity.probeIvfIndexBatch(spark, base + "/r", ring,
        "vec_id", "embedding", rCents, k = 3, nProbe = np)
      .select("query_id", "neighbor_id")
    val recall = got.join(truth, Seq("query_id", "neighbor_id"), "left_semi")
      .count().toDouble / truth.count()
    assert(recall >= 0.9, s"calibrated probe recall $recall < target")
  }

  test("auto-IVF centroid seeding stays balanced on a sorted-id corpus") {
    // id-correlated fixture (VERDICT r10 #4): vectors sweep a quarter
    // circle IN ID ORDER — time-ordered embeddings / sorted ingest. An
    // id-prefix seed ("first √N by id") takes all its centroids from one
    // tiny arc, so one centroid absorbs the whole tail of the corpus; the
    // hash-ordered seed spreads across the id range and the lists stay
    // near-uniform.
    val n = 400
    val many = spark.range(0, n).select(col("id").as("vec_id"),
      array(cos(col("id") * (math.Pi / 2 / n)).cast("float"),
        sin(col("id") * (math.Pi / 2 / n)).cast("float")).as("embedding"))
    def balance(idx: String): Double = {
      val sizes = spark.read.parquet(idx).groupBy("cent_id").count()
        .collect().map(_.getAs[Long]("count")).sorted
      sizes.last.toDouble / sizes(sizes.length / 2)
    }
    val base = java.nio.file.Files.createTempDirectory("ivfbal").toString
    val cents = Similarity.buildIvfIndexAuto(many, "vec_id", "embedding",
      base + "/auto")
    assert(cents.count() == 20) // √400
    val autoRatio = balance(base + "/auto")
    assert(autoRatio <= 4.0,
      s"hash-seeded lists skewed: max/median = $autoRatio")
    // prove the fixture discriminates: the OLD id-prefix seeding on the
    // same corpus produces a pathological max/median
    val prefixCents = many.orderBy(col("vec_id")).limit(20)
      .select((col("vec_id")).cast("int").as("cent_id"),
        col("embedding").as("cent_v"))
    Similarity.buildIvfIndex(many, "vec_id", "embedding", prefixCents,
      base + "/prefix")
    val prefixRatio = balance(base + "/prefix")
    assert(prefixRatio > 4.0,
      s"fixture does not discriminate (id-prefix ratio $prefixRatio)")
    // quality option: Lloyd refinement keeps the list count and balance
    val km = Similarity.buildIvfIndexAuto(many, "vec_id", "embedding",
      base + "/km", kmeansIters = 2)
    assert(km.count() == 20)
    assert(balance(base + "/km") <= 4.0)
    Seq(cents, km).foreach(CacheControl.release)
  }

  test("IVF index append: probes see appended vectors identically to a full rebuild") {
    val base = java.nio.file.Files.createTempDirectory("ivfap").toString
    val (inc, rebuilt) = (base + "/inc", base + "/full")
    val cents = Similarity.kmeansCentroids(vecs, "vec_id", "embedding", k = 2, iters = 2)
    Similarity.buildIvfIndex(vecs.filter(col("vec_id") <= 1L), "vec_id", "embedding", cents, inc)
    Similarity.appendIvfIndex(vecs.filter(col("vec_id") > 1L), "vec_id", "embedding", cents, inc)
    Similarity.buildIvfIndex(vecs, "vec_id", "embedding", cents, rebuilt)
    def top(path: String) =
      Similarity.probeIvfIndex(spark, path, queryId = 0L,
        queryVec = Seq(1.0f, 0.0f, 0.0f), centroids = cents, k = 3)
        .collect().map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos"))).toSeq
    assert(top(inc) == top(rebuilt) && top(inc).nonEmpty)
  }

  test("batch IVF probe: one IN-pruned scan, agrees with per-query probes") {
    val dir = java.nio.file.Files.createTempDirectory("ivfb").toString + "/idx"
    val cents = Similarity.kmeansCentroids(vecs, "vec_id", "embedding", k = 2, iters = 2)
    Similarity.buildIvfIndex(vecs, "vec_id", "embedding", cents, dir)
    val queries = vecs.filter(col("vec_id").isin(0L, 3L))
    val batch = Similarity.probeIvfIndexBatch(spark, dir, queries,
      "vec_id", "embedding", cents, k = 2)
    // ONE scan of the index, partition-pruned to the probed lists (IN filter)
    val plan = batch.queryExecution.executedPlan.toString
    val indexScans = plan.linesIterator.count(l => l.contains("Scan parquet") && l.contains("idx"))
    assert(indexScans == 1, s"expected one index scan, got $indexScans:\n$plan")
    assert(plan.contains("PartitionFilters") && plan.contains("cent_id"),
      s"expected cent_id IN partition pruning:\n$plan")
    // results agree with sequential per-query probes
    val got = batch.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
        (r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos"))).toMap
    val want = Seq(0L, 3L).flatMap { qid =>
      val qv = vecs.filter(col("vec_id") === qid).head()
        .getAs[scala.collection.Seq[Float]]("embedding").toSeq
      Similarity.probeIvfIndex(spark, dir, qid, qv, cents, k = 2)
        .collect().zipWithIndex.map { case (r, i) =>
          (qid, i + 1) -> (r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos"))
        }
    }.toMap
    assert(got == want, s"batch $got vs per-query $want")
  }

  test("batch IVF probe above the In-prune gate: semi branch keeps directory " +
    "pruning (DPP), rows identical") {
    // At 100 TB operating points (≥1e5 lists × wide batches) the literal
    // In set stops being a cheap plan constant — above ivfInPruneMaxLists
    // the probed lists reach the scan as a broadcast LEFT SEMI join and
    // the cent_id directories must still prune, now via Spark's
    // dynamic-partition-pruning subquery. Forcing the gate to 0 runs the
    // big-index branch on the small test index.
    val dir = java.nio.file.Files.createTempDirectory("ivfsemi").toString + "/idx"
    val cents = Similarity.kmeansCentroids(vecs, "vec_id", "embedding", k = 2, iters = 2)
    Similarity.buildIvfIndex(vecs, "vec_id", "embedding", cents, dir)
    val queries = vecs.filter(col("vec_id").isin(0L, 3L))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
        (r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos"))).toMap
    val viaIn = Similarity.probeIvfIndexBatch(spark, dir, queries,
      "vec_id", "embedding", cents, k = 2)
    val prev = Similarity.ivfInPruneMaxLists
    val viaSemi = try {
      Similarity.ivfInPruneMaxLists = 0
      Similarity.probeIvfIndexBatch(spark, dir, queries,
        "vec_id", "embedding", cents, k = 2)
    } finally Similarity.ivfInPruneMaxLists = prev
    assert(rows(viaSemi) == rows(viaIn), "semi branch changed the answer")
    val plan = viaSemi.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"semi branch lost partition pruning — no DPP subquery on cent_id:\n$plan")
    // and the literal branch still prunes the classic way
    val inPlan = viaIn.queryExecution.executedPlan.toString
    assert(inPlan.contains("PartitionFilters") && inPlan.contains("cent_id"))
  }

  /** 40 vectors along a 3-D curve: an auto-sized index over them has six lists. */
  private lazy val curve = spark.range(0, 40).select(col("id").as("vec_id"),
    array(cos(col("id") * 0.37).cast("float"),
      sin(col("id") * 0.37).cast("float"),
      cos(col("id") * 0.11).cast("float")).as("embedding"))

  test("IVF probe lists only the probed lists' directories") {
    val dir = java.nio.file.Files.createTempDirectory("ivfdirs").toString + "/idx"
    val cents = Similarity.buildIvfIndexAuto(curve, "vec_id", "embedding", dir)
    val query = curve.filter(col("vec_id") === 7L)
    // the query's two nearest lists, scored here on the driver
    val qv = query.head().getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble)
    def cosine(a: collection.Seq[Double], b: collection.Seq[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum /
        math.sqrt(a.map(x => x * x).sum * b.map(x => x * x).sum)
    val probed = cents.collect()
      .map(r => (r.getInt(0), cosine(qv, r.getSeq[Double](1))))
      .sortBy { case (id, c) => (-BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP), id) }
      .take(2).map(_._1).toSet
    val probe = Similarity.probeIvfIndexBatch(spark, dir, query,
      "vec_id", "embedding", cents, k = 3, nProbe = 2)
    val lists = probe.inputFiles.map(f => "cent_id=(-?\\d+)".r.findFirstMatchIn(f)
      .map(_.group(1).toInt).getOrElse(fail(s"$f is not a list file"))).toSet
    assert(lists == probed, s"scan covers lists $lists, probed $probed of 6")
    assert(probe.count() == 3)
    CacheControl.release(cents)
  }

  test("IVF batch probe evaluates the query frame once per call") {
    val dir = java.nio.file.Files.createTempDirectory("ivfonce").toString + "/idx"
    val cents = Similarity.buildIvfIndexAuto(curve, "vec_id", "embedding", dir)
    val evals = spark.sparkContext.longAccumulator("query vector evaluations")
    val tap = udf { (v: Seq[Float]) => evals.add(1); v }
    val queries = curve.filter(col("vec_id") < 5)
      .withColumn("embedding", tap(col("embedding")))
    val rows = Similarity.probeIvfIndexBatch(spark, dir, queries,
      "vec_id", "embedding", cents, k = 3, nProbe = 2).collect()
    assert(rows.length == 15)
    assert(evals.value == 5, s"5 query rows evaluated ${evals.value} times")
    CacheControl.release(cents)
  }

  test("IVF probe skips a list no vector was assigned to") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ivfempty").toString + "/idx"
    // no vector in `vecs` has a z component, so list 2 stays empty
    val cents = Seq((0, Seq(1.0, 0.0, 0.0)), (1, Seq(0.0, 1.0, 0.0)),
      (2, Seq(0.0, 0.0, 1.0))).toDF("cent_id", "cent_v")
    Similarity.buildIvfIndex(vecs, "vec_id", "embedding", cents, dir)
    assert(!new java.io.File(dir, "cent_id=2").exists())
    // nearest list 2 (cos 0.8), then list 1 (cos 0.6)
    val query = Seq((100L, Array(0.0f, 0.6f, 0.8f))).toDF("vec_id", "embedding")
    def rows(cs: org.apache.spark.sql.DataFrame, nProbe: Int) =
      Similarity.probeIvfIndexBatch(spark, dir, query, "vec_id", "embedding",
          cs, k = 2, nProbe = nProbe).collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
          r.getAs[Int]("rank"), r.getAs[Double]("cos"))).toSet
    val alone = rows(cents.filter(col("cent_id") === 1), 1)
    assert(alone.nonEmpty)
    assert(rows(cents, 2) == alone)
    val onlyEmpty = Similarity.probeIvfIndexBatch(spark, dir, query,
      "vec_id", "embedding", cents, k = 2)
    assert(onlyEmpty.collect().isEmpty)
    assert(onlyEmpty.columns.toSeq == Seq("query_id", "neighbor_id", "rank", "cos"))
  }

  test("batch IVF probe with nProbe = nCentroids recovers exact brute-force top-k") {
    val dir = java.nio.file.Files.createTempDirectory("ivfnp").toString + "/idx"
    val cents = Similarity.kmeansCentroids(vecs, "vec_id", "embedding", k = 2, iters = 2)
    Similarity.buildIvfIndex(vecs, "vec_id", "embedding", cents, dir)
    val queries = vecs.filter(col("vec_id").isin(0L, 3L))
    // probing every list makes IVF exhaustive → must equal brute force
    val ivf = Similarity.probeIvfIndexBatch(spark, dir, queries,
      "vec_id", "embedding", cents, k = 2, nProbe = 2)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
        r.getAs[Long]("neighbor_id")).toMap
    val bf = Similarity.bruteForceTopK(queries, vecs, "vec_id", "embedding", k = 2)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
        r.getAs[Long]("neighbor_id")).toMap
    assert(ivf == bf, s"ivf $ivf vs brute force $bf")
  }

  test("lshNearDupPairs plan has no cartesian product (scale shape)") {
    val plan = Similarity.lshNearDupPairs(vecs, "vec_id", "embedding", 0.9,
      planes = 8, nBands = 4, dims = 3).queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"))
  }

  test("semanticDedup: within-cluster duplicates collapse, min id kept") {
    val cents = vecs.filter(col("vec_id").isin(0L, 2L))
      .select(col("vec_id").as("cent_id"), col("embedding").as("cent_v"))
    val out = Similarity.semanticDedup(vecs, "vec_id", "embedding", cents, 0.9)
      .orderBy("id").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("cluster_id"), r.getAs[Boolean]("kept")))
    // 0 and 1 are identical → same centroid, cos=1 ≥ 0.9 → one component,
    // 0 kept; 2 and 3 have no ≥0.9 partner in their cluster → kept
    assert(out.toSeq == Seq(
      (0L, 0L, true), (1L, 0L, false), (2L, 2L, true), (3L, 3L, true)))
  }

  test("semanticDedup pair search never crosses clusters (scale shape)") {
    // orthogonal centroids: the identical twins 0/1 land in cluster 0,
    // vector 2 in its own — a cross-cluster pair (0,2) must NOT be scored
    val cents = vecs.filter(col("vec_id").isin(0L, 2L))
      .select(col("vec_id").as("cent_id"), col("embedding").as("cent_v"))
    val out = Similarity.semanticDedup(vecs, "vec_id", "embedding", cents, -1.0)
    // threshold -1 admits every scored pair; 2's cluster is a singleton so
    // it still survives — proof the quadratic term was cluster-bounded
    val got = out.collect().map(r => r.getAs[Long]("id") -> r.getAs[Boolean]("kept")).toMap
    assert(got(2L), s"vector 2 must stay kept: $got")
  }

  // ── product quantization ──────────────────────────────────────────────

  private val pvecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
    (1L, Array(0.0f, 1.0f, 0.0f, 1.0f)),
    (2L, Array(0.5f, 0.5f, 1.0f, 0.0f)),
    (3L, Array(0.9f, 0.1f, 0.2f, 0.7f)),
    (4L, Array(0.88f, 0.12f, 0.15f, 0.72f)) // near 3, outside the codebook
  ).toDF("vec_id", "embedding")

  test("pqTopK with a perfect codebook reproduces exact dot scores") {
    // every candidate subvector IS a code → argmin L2 = 0 at itself →
    // reconstruction is the identity → PQ score == exact inner product
    val inBook = pvecs.filter(col("vec_id") < 4)
    val book = Similarity.pqCodebookHashOrdered(inBook, "vec_id", "embedding",
      m = 2, nCodes = 4)
    val got = Similarity.pqTopK(inBook.filter(col("vec_id") === 0), inBook,
      "vec_id", "embedding", k = 3, m = 2, codebook = book)
      .orderBy("rank").collect()
      .map(r => r.getAs[Long]("neighbor_id") -> r.getAs[Double]("score"))
    // exact dots of q0=(1,0,0,0) against 3,2,1
    assert(got.toSeq == Seq(3L -> 0.9, 2L -> 0.5, 1L -> 0.0), got.toSeq.toString)
  }

  test("pqTopK maps an out-of-book vector to its nearest codes") {
    val book = Similarity.pqCodebookHashOrdered(pvecs, "vec_id", "embedding",
      m = 2, nCodes = 4)
    val got = Similarity.pqTopK(pvecs.filter(col("vec_id") === 0), pvecs,
      "vec_id", "embedding", k = 4, m = 2, codebook = book)
      .collect().map(r => r.getAs[Long]("neighbor_id") -> r.getAs[Double]("score")).toMap
    // the md5 hash order keeps 4 of the 5 vectors (vec 3 drops out); 3
    // and 4 are near-identical so the OUT-of-book one encodes to the
    // in-book twin's codes in both subspaces → identical
    // reconstruction → identical PQ score, ranked after 3 by id tie-break
    assert(got(4L) == got(3L), s"expected 4 to share 3's reconstruction: $got")
    val ranks = Similarity.pqTopK(pvecs.filter(col("vec_id") === 0), pvecs,
      "vec_id", "embedding", k = 4, m = 2, codebook = book)
      .orderBy("rank").collect().map(_.getAs[Long]("neighbor_id")).toSeq
    assert(ranks.indexOf(3L) < ranks.indexOf(4L))
  }

  test("pqTopK candidate side is join-free before the probe (scale shape)") {
    val book = Similarity.pqCodebookHashOrdered(pvecs, "vec_id", "embedding",
      m = 2, nCodes = 4)
    val out = Similarity.pqTopK(pvecs.filter(col("vec_id") === 0), pvecs,
      "vec_id", "embedding", k = 2, m = 2, codebook = book)
    val plan = out.queryExecution.executedPlan.toString
    // the codebook is a plan literal: no join or explode on the ENCODE
    // path (below the scoring join) — the only joins are the single
    // broadcast of the (tiny) query side, and the only Generate is the
    // rank tail's posexplode of the top-k aggregate ABOVE the join (the
    // r15 window→graft_topk conversion), which this assertion scopes out
    // by checking the subtree under the join only
    assert(!plan.contains("CartesianProduct"))
    val joinIdx = plan.indexOf("Join")
    assert(joinIdx >= 0, s"expected the broadcast probe join:\n$plan")
    assert(!plan.substring(joinIdx).contains("Generate"),
      s"unexpected explode in encode:\n$plan")
  }
}

class ProfileSpec extends SparkSpec {
  import spark.implicits._

  test("profileNumeric: one row per column, nulls and distincts counted") {
    val df = Seq[(java.lang.Double, java.lang.Double)](
      (1.0, 10.0), (2.0, null), (2.0, 30.0))
      .toDF("a", "b")
    val out = Profile.profileNumeric(df, Seq("a", "b"))
      .orderBy("col_name").collect()
    val a = out(0)
    assert(a.getString(0) == "a" && a.getAs[Long]("n") == 3 &&
      a.getAs[Long]("n_null") == 0 && a.getAs[Long]("n_distinct") == 2 &&
      a.getAs[Double]("min_v") == 1.0 && a.getAs[Double]("max_v") == 2.0 &&
      a.getAs[Double]("mean_v") == 5.0 / 3)
    val b = out(1)
    assert(b.getAs[Long]("n_null") == 1 && b.getAs[Long]("n_distinct") == 2 &&
      b.getAs[Double]("mean_v") == 20.0)
    // the exact (oracle-parity) form agrees with the sketch default here,
    // and its plan carries the Expand the sketch avoids
    val exact = Profile.profileNumeric(df, Seq("a", "b"), exactDistinct = true)
      .orderBy("col_name").collect()
    assert(exact.map(_.getAs[Long]("n_distinct")).toSeq ==
      out.map(_.getAs[Long]("n_distinct")).toSeq)
    val approxPlan = Profile.profileNumeric(df, Seq("a", "b"))
      .queryExecution.executedPlan.toString
    assert(!approxPlan.contains("Expand"),
      s"sketch profile must not multiply rows via Expand:\n$approxPlan")
  }

  test("correlations: perfect positive, perfect negative, r in matrix order") {
    val df = Seq(
      (1.0, 2.0, 4.0), (2.0, 4.0, 3.0), (3.0, 6.0, 2.0), (4.0, 8.0, 1.0)
    ).toDF("a", "b", "c") // b = 2a (r=1), c = 5-a (r=-1)
    val out = Profile.correlations(df, Seq("a", "b", "c"))
      .orderBy("col_x", "col_y").collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    assert(out.toSeq == Seq(
      ("a", "b", 1.0), ("a", "c", -1.0), ("b", "c", -1.0)))
  }

  test("driftPsi: per-bucket shares and contributions, one-sided buckets dropped") {
    val df = Seq(
      (5.0, "a"), (15.0, "a"), (25.0, "a"), (25.0, "a"), // cohort a: buckets 0,1,2,2
      (5.0, "b"), (25.0, "b")                            // cohort b: buckets 0,2
    ).toDF("v", "coh")
    val out = Profile.driftPsi(df, col("v"),
        col("coh") === "a", col("coh") === "b",
        bucketWidth = 10.0, maxBucket = 2)
      .orderBy("bucket").collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    // bucket 1 has no cohort-b support → excluded
    assert(out.toSeq == Seq(
      (0, 0.25, 0.5, 0.173287), // (0.25-0.5)*ln(0.5)
      (2, 0.5, 0.5, 0.0)))
  }

  test("regression: exact lines recover slope/intercept/r2/covar/corr per group") {
    val df = Seq(
      ("p", 1.0, 3.0), ("p", 2.0, 5.0), ("p", 3.0, 7.0),  // y = 2x + 1
      ("q", 1.0, 4.0), ("q", 2.0, 2.0), ("q", 3.0, 0.0)   // y = -2x + 6
    ).toDF("g", "x", "y")
    val out = Profile.regression(df, "g", "x", "y").orderBy("g").collect()
    val p = out(0)
    assert(p.getAs[Long]("n") == 3 && p.getAs[Double]("slope") == 2.0 &&
      p.getAs[Double]("intercept") == 1.0 && p.getAs[Double]("r2") == 1.0 &&
      p.getAs[Double]("covar_pop") == 1.333333 &&
      p.getAs[Double]("covar_samp") == 2.0 &&
      p.getAs[Double]("corr_xy") == 1.0)
    val q = out(1)
    assert(q.getAs[Double]("slope") == -2.0 &&
      q.getAs[Double]("intercept") == 6.0 &&
      q.getAs[Double]("covar_pop") == -1.333333 &&
      q.getAs[Double]("covar_samp") == -2.0 &&
      q.getAs[Double]("corr_xy") == -1.0)
  }
}

class ContaminationSpec extends SparkSpec {
  import spark.implicits._

  test("ngramOverlap finds planted benchmark leakage, no all-pairs join") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"), // contains bench 10's text
      (2L, "completely unrelated words here okay"),
      (3L, "quick brown fox appears here too")
    ).toDF("doc_id", "text")
    val bench = Seq((10L, "quick brown fox jumps")).toDF("doc_id", "text")
    val out = Contamination.ngramOverlap(corpus, bench, "doc_id", "text", n = 3)
    val rows = out.collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("bench_id")) ->
      (r.getAs[Long]("n_shared"), r.getAs[Double]("bench_frac"))).toMap
    // bench doc has 2 distinct 3-grams; doc 1 contains both, doc 3 only one
    assert(rows((1L, 10L)) == ((2L, 1.0)))
    assert(rows((3L, 10L)) == ((1L, 0.5)))
    assert(!rows.contains((2L, 10L))) // zero shared grams → no row at all
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("contaminatedDocs quarantines by minShared threshold") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma unrelated tail")).toDF("doc_id", "text")
    val bench = Seq((9L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val out = Contamination.contaminatedDocs(corpus, bench, "doc_id", "text",
      n = 3, minShared = 2L).collect().map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[Long]("n_bench_hits"), r.getAs[Long]("total_shared"))).toMap
    assert(out == Map(1L -> ((1L, 2L)))) // doc 2 shares only 1 gram → dropped
  }
}

class RepetitionSpec extends SparkSpec {
  import spark.implicits._

  test("dupNgramFrac: loops score high, unique text scores zero") {
    val df = Seq(
      (1L, "spam spam spam spam"),      // 3 bigrams, 1 distinct → 2/3 dup
      (2L, "all words here differ"),    // all bigrams unique → 0
      (3L, "ab")                        // shorter than n → 0
    ).toDF("id", "text")
    val out = df.select(col("id"), TextAnalysis.dupNgramFrac(col("text"), 2).as("f"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(1L) == 1.0 - 1.0 / 3.0)
    assert(out(2L) == 0.0 && out(3L) == 0.0)
  }

  test("topTokenFrac: dominant token fraction, empty text safe") {
    val df = Seq((1L, "a a a b"), (2L, "")).toDF("id", "text")
    val out = df.select(col("id"), TextAnalysis.topTokenFrac(col("text")).as("f"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(1L) == 0.75 && out(2L) == 0.0)
  }
}

class SamplingSpec extends SparkSpec {
  import spark.implicits._

  private def ids = spark.range(0, 4000).toDF("id")

  test("packChunks: in-shard id-ordered cumsum, chunk spans cover doc token ranges") {
    // single shard → deterministic sequential packing over id order
    val df = Seq((1L, 100L), (2L, 200L), (3L, 30L), (4L, 300L))
      .toDF("doc_id", "n_toks")
    val out = Sampling.packChunks(df, "doc_id", "n_toks",
        nShards = 1, chunkTokens = 256L)
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("start_tok"),
        r.getAs[Long]("chunk_first"), r.getAs[Long]("chunk_last")))
    assert(out.toSeq == Seq(
      (1L, 0L, 0L, 0L),     // [0,100)    → chunk 0
      (2L, 100L, 0L, 1L),   // [100,300)  → straddles 0→1
      (3L, 300L, 1L, 1L),   // [300,330)  → chunk 1
      (4L, 330L, 1L, 2L)))  // [330,630)  → 1→2
    // zero-token doc occupies no range but maps to its boundary chunk
    val z = Sampling.packChunks(Seq((9L, 0L)).toDF("doc_id", "n_toks"),
      "doc_id", "n_toks", nShards = 1, chunkTokens = 256L).head()
    assert(z.getAs[Long]("chunk_first") == 0L && z.getAs[Long]("chunk_last") == 0L)
  }

  test("rebalanceRates: binding source kept whole, others scaled to shares") {
    val rates = Sampling.rebalanceRates(
      Map("a" -> 100L, "b" -> 100L),
      Seq("a" -> 0.25, "b" -> 0.75)).toMap
    // b binds: scale = min(100/0.25, 100/0.75) = 133.3..; a keeps a third
    assert(rates("b") == 1.0)
    assert(math.abs(rates("a") - (100.0 / 0.75) * 0.25 / 100.0) < 1e-12)
    // a source absent from targets contributes nothing; absent counts → 0
    assert(Sampling.rebalanceRates(Map("a" -> 10L), Seq("a" -> 0.5, "c" -> 0.5))
      .toMap.apply("c") == 0.0)
  }

  test("rebalanceToShares: membership is exactly the stratified md5 filter") {
    val df = spark.range(0, 1000).toDF("id")
      .withColumn("src", when(col("id") % 2 === 0, "a").otherwise("b"))
    val shares = Seq("a" -> 0.2, "b" -> 0.8)
    val got = Sampling.rebalanceToShares(df, "id", "src", shares)
      .select("id").collect().map(_.getLong(0)).toSet
    val rates = Sampling.rebalanceRates(Map("a" -> 500L, "b" -> 500L), shares)
    val want = Sampling.stratifiedSampleByHash(df, "id", "src", rates, 0.0)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got == want && got.nonEmpty)
    // b binds (500/0.8 < 500/0.2): every b row survives
    assert((0 until 1000 by 1).filter(_ % 2 == 1).map(_.toLong).toSet.subsetOf(got))
  }

  test("temperatureMix: α=0.5 rates are sqrt(c_min/c_i); smallest source whole") {
    // a: 100 rows, b: 400 rows → rate_a = 1, rate_b = sqrt(100/400) = 0.5
    val df = spark.range(0, 500).toDF("id")
      .withColumn("src", when(col("id") < 100, "a").otherwise("b"))
    val kept = Sampling.temperatureMix(df, "id", "src", alpha = 0.5)
      .groupBy("src").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("a") == 100L, s"smallest source must keep every row: $kept")
    // md5-bucket sampling at rate 0.5 over 400 rows: expect ~200 ± binomial noise
    assert(kept("b") > 150L && kept("b") < 250L, s"b ≈ 200 expected: $kept")
    // rerun-deterministic: identical membership on a different partitioning
    val again = Sampling.temperatureMix(df.repartition(7), "id", "src", 0.5)
      .select("id").collect().map(_.getLong(0)).toSet
    val first = Sampling.temperatureMix(df, "id", "src", 0.5)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(again == first)
  }

  test("hashBucket in [0, 4096) and invariant under repartition") {
    val b1 = ids.select(col("id"), Sampling.hashBucket(col("id")).as("b"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(b1.values.forall(b => b >= 0 && b < Sampling.Buckets))
    val b2 = ids.repartition(13)
      .select(col("id"), Sampling.hashBucket(col("id")).as("b"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(b1 == b2)
  }

  test("sampleByHash: nested membership, fraction within tolerance, 0/1 edges") {
    val s25 = Sampling.sampleByHash(ids, "id", 0.25).collect().map(_.getLong(0)).toSet
    val s50 = Sampling.sampleByHash(ids, "id", 0.50).collect().map(_.getLong(0)).toSet
    assert(s25.subsetOf(s50)) // bucket-range samples nest by construction
    assert(math.abs(s25.size / 4000.0 - 0.25) < 0.05)
    assert(math.abs(s50.size / 4000.0 - 0.50) < 0.05)
    assert(Sampling.sampleByHash(ids, "id", 0.0).count() == 0)
    assert(Sampling.sampleByHash(ids, "id", 1.0).count() == 4000)
  }

  test("splitColumn: total partition, fractions near weights, threshold-consistent") {
    val out = ids.select(col("id"), Sampling.hashBucket(col("id")).as("b"),
      Sampling.splitColumn(col("id"), Sampling.DefaultSplits).as("split")).collect()
    val counts = out.groupBy(_.getString(2)).view.mapValues(_.size).toMap
    assert(counts.keySet == Set("train", "valid", "test"))
    assert(math.abs(counts("train") / 4000.0 - 0.90) < 0.03)
    out.foreach { r =>
      val b = r.getInt(1)
      val expect =
        if (b < Sampling.threshold(0.90)) "train"
        else if (b < Sampling.threshold(0.95)) "valid"
        else "test"
      assert(r.getString(2) == expect)
    }
  }

  test("splitColumn rejects weights not summing to 1") {
    intercept[IllegalArgumentException] {
      Sampling.splitColumn(col("id"), Seq("a" -> 0.5, "b" -> 0.4))
    }
  }

  test("stratifiedSampleByHash: per-stratum fractions, default for the rest") {
    val df = spark.range(0, 3000)
      .selectExpr("id", "CASE WHEN id % 3 = 0 THEN 'en' WHEN id % 3 = 1 THEN 'zh' ELSE 'fr' END AS lang")
    val out = Sampling.stratifiedSampleByHash(df, "id", "lang",
      Seq("en" -> 0.1, "zh" -> 0.6), defaultFraction = 0.3)
    val counts = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(counts("en") / 1000.0 - 0.1) < 0.05)
    assert(math.abs(counts("zh") / 1000.0 - 0.6) < 0.05)
    assert(math.abs(counts("fr") / 1000.0 - 0.3) < 0.05)
    // same ids always selected: membership is a pure function of the id
    val again = Sampling.stratifiedSampleByHash(df.repartition(11), "id", "lang",
      Seq("en" -> 0.1, "zh" -> 0.6), defaultFraction = 0.3)
    assert(out.select("id").collect().map(_.getLong(0)).toSet ==
      again.select("id").collect().map(_.getLong(0)).toSet)
  }

  test("uniformFromId in (0,1); weightedKey monotone in weight for a fixed id") {
    val u = ids.select(Sampling.uniformFromId(col("id")).as("u")).collect().map(_.getDouble(0))
    assert(u.forall(x => x > 0.0 && x < 1.0))
    // ln(u) < 0, so dividing by a LARGER weight moves the key toward 0 (up).
    val k = ids.limit(50).select(
      Sampling.weightedKey(col("id"), lit(1.0)).as("k1"),
      Sampling.weightedKey(col("id"), lit(10.0)).as("k10")).collect()
    assert(k.forall(r => r.getDouble(1) > r.getDouble(0)))
  }

  test("epochShuffle: total order differs across epochs, stable within one") {
    val a1 = Sampling.epochShuffle(ids, "id", epoch = 1).collect().map(_.getLong(0)).toSeq
    val a2 = Sampling.epochShuffle(ids.repartition(9), "id", epoch = 1)
      .collect().map(_.getLong(0)).toSeq
    val b = Sampling.epochShuffle(ids, "id", epoch = 2).collect().map(_.getLong(0)).toSeq
    assert(a1 == a2)                      // same epoch → same order at any parallelism
    assert(a1 != b && a1.sorted == b.sorted) // different epoch → different permutation
  }

  test("weightedSample: heavy weights dominate, membership repartition-invariant") {
    val df = ids.withColumn("w", when(col("id") < 100, 1000.0).otherwise(1.0))
    val top = Sampling.weightedSample(df, "id", col("w"), k = 50)
    val heavy = top.filter(col("id") < 100).count()
    assert(heavy >= 45) // 100 heavy ids at 1000× weight vs 3900 light ones
    assert(top.count() == 50)
    val again = Sampling.weightedSample(df.repartition(17), "id", col("w"), k = 50)
    assert(top.select("id").collect().map(_.getLong(0)).toSet ==
      again.select("id").collect().map(_.getLong(0)).toSet)
    // zero/negative weights can never be drawn
    val z = Sampling.weightedSample(
      df.withColumn("w", when(col("id") === 0, 0.0).otherwise(col("w"))), "id", col("w"), 4000)
    assert(!z.collect().map(_.getLong(0)).contains(0L))
  }
}

class ShardSpec extends SparkSpec {
  import spark.implicits._

  test("shardColumn: stable, in range, uniform-ish for dividing shard counts") {
    val df = spark.range(0, 4096).toDF("id")
    val shards = df.select(Sampling.shardColumn(col("id"), 8).as("s"))
      .groupBy("s").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(shards.keySet == (0 until 8).toSet)
    // md5-uniform over 4096 ids: every shard within ±40% of the mean
    assert(shards.values.forall(c => c > 300 && c < 720), s"skewed: $shards")
    // invariant under repartition (pure function of the id)
    val a = df.select(col("id"), Sampling.shardColumn(col("id"), 8).as("s"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val b = df.repartition(13).select(col("id"), Sampling.shardColumn(col("id"), 8).as("s"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a == b)
  }

  test("writeShards: shard=k dirs on disk, contents reassemble the corpus") {
    val path = java.nio.file.Files.createTempDirectory("shards").toString + "/ds"
    val df = spark.range(0, 500).toDF("id").withColumn("v", col("id") * 2)
    Sampling.writeShards(df, "id", 4, path)
    val dirs = new java.io.File(path).listFiles().map(_.getName).filter(_.startsWith("shard=")).sorted
    assert(dirs.toSeq == (0 until 4).map(k => s"shard=$k"))
    val back = spark.read.parquet(path)
    assert(back.count() == 500)
    assert(back.select(sum(col("v"))).head().getLong(0) == (0L until 500L).map(_ * 2).sum)
    // each row's directory matches its shardColumn assignment
    val wrong = back.filter(Sampling.shardColumn(col("id"), 4) =!= col("shard")).count()
    assert(wrong == 0)
  }
}

class RollingHashSpec extends SparkSpec {
  import spark.implicits._

  /** JVM-side mirror of the polynomial fold for expected values. */
  private def tokVal(t: String): Long = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(h.substring(0, 8), 16)
  }
  private def poly(toks: Seq[String]): Long =
    toks.foldLeft(0L)((h, t) =>
      (h * TextAnalysis.RollBase + tokVal(t)) % TextAnalysis.RollMod)

  test("rollingFingerprint matches the reference fold; order-sensitive") {
    val out = Seq((1L, "alpha beta gamma"), (2L, "gamma beta alpha"), (3L, "  Alpha  beta GAMMA "))
      .toDF("id", "text")
      .select(col("id"), TextAnalysis.rollingFingerprint(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) == poly(Seq("alpha", "beta", "gamma")))
    assert(out(1L) != out(2L))       // order matters
    assert(out(1L) == out(3L))       // case/whitespace normalization
  }

  test("ngramHashes: one hash per window, short docs empty") {
    val rows = Seq((1L, "a b c d"), (2L, "x y")).toDF("id", "text")
      .select(col("id"), TextAnalysis.ngramHashes(col("text"), 3).as("h"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(rows(1L) == Seq(poly(Seq("a", "b", "c")), poly(Seq("b", "c", "d"))))
    assert(rows(2L).isEmpty)
  }
}

class BucketingSpec extends SparkSpec {
  import spark.implicits._

  test("same-bucketed tables sort-merge-join with NO exchange and no sort") {
    val dir = java.nio.file.Files.createTempDirectory("bkt").toString
    val orders = (1L to 1000L).map(k => (k, s"o$k")).toDF("k", "o")
    val items  = (1L to 3000L).map(i => (i % 1000 + 1, i)).toDF("k", "item")
    Bucketing.writeBucketed(orders, "bkt_orders", s"$dir/o", Seq("k"), 8)
    Bucketing.writeBucketed(items, "bkt_items", s"$dir/i", Seq("k"), 8)
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val joined = Bucketing.bucketedJoin(spark, "bkt_orders", "bkt_items", Seq("k"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"))
      assert(!plan.contains("Exchange"), s"bucketed join must not shuffle:\n$plan")
      assert(joined.count() == 3000)
      // and the result matches the plain (shuffling) join
      assert(joined.agg(sum($"item")).head.getLong(0) ==
        items.join(orders, "k").agg(sum($"item")).head.getLong(0))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      spark.sql("DROP TABLE IF EXISTS bkt_orders")
      spark.sql("DROP TABLE IF EXISTS bkt_items")
    }
  }

  test("mismatched bucket counts coalesce (8 vs 4) instead of shuffling") {
    val dir = java.nio.file.Files.createTempDirectory("bkt2").toString
    val a = (1L to 800L).map(k => (k, k * 2)).toDF("k", "va")
    val b = (1L to 800L).map(k => (k, k * 3)).toDF("k", "vb")
    Bucketing.writeBucketed(a, "bkt_a8", s"$dir/a", Seq("k"), 8)
    Bucketing.writeBucketed(b, "bkt_b4", s"$dir/b", Seq("k"), 4)
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.bucketing.coalesceBucketsInJoin.enabled", "true")
      val joined = Bucketing.bucketedJoin(spark, "bkt_a8", "bkt_b4", Seq("k"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"8-bucket side must coalesce to 4, not shuffle:\n$plan")
      assert(joined.count() == 800)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      spark.sql("DROP TABLE IF EXISTS bkt_a8")
      spark.sql("DROP TABLE IF EXISTS bkt_b4")
    }
  }
}

class RangeJoinSpec extends SparkSpec {
  import spark.implicits._

  private def points = Seq(
    (1L, "2026-01-01"), (2L, "2026-01-31"), (3L, "2026-02-15"),
    (4L, "2026-03-01"), (5L, "2025-12-31"))
    .toDF("id", "d").withColumn("d", col("d").cast("date"))

  private def intervals = Seq(
    ("q1", "2026-01-01", "2026-03-01"),   // spans several 10-day buckets
    ("jan", "2026-01-01", "2026-02-01"),
    ("empty", "2026-01-10", "2026-01-10")) // start == end matches nothing
    .toDF("name", "s", "e")
    .withColumn("s", col("s").cast("date")).withColumn("e", col("e").cast("date"))

  test("bucketed interval join == naive range join (boundaries, multi-bucket, no dups)") {
    val naive = points.join(intervals, col("d") >= col("s") && col("d") < col("e"))
      .select("id", "name").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val out = RangeJoin.intervalJoin(points, intervals, "d", "s", "e", bucketDays = 10)
    val bucketed = out.select("id", "name").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(bucketed.toSet == naive)
    assert(bucketed.length == naive.size) // exploding buckets never duplicates a match
    assert(bucketed.toSet.contains((1L, "q1")) && bucketed.toSet.contains((1L, "jan")))
    assert(!bucketed.toSet.contains((4L, "q1"))) // end exclusive: 03-01 not in [01-01, 03-01)
    assert(!bucketed.exists(_._2 == "empty"))
  }

  test("plan is a hash join on the bucket key, not a nested-loop sweep") {
    val plan = RangeJoin.intervalJoin(points, intervals, "d", "s", "e", bucketDays = 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"))
  }

  private def iv(rows: Seq[(String, String, String)]) =
    rows.toDF("name", "s_s", "e_s")
      .withColumn("s", to_timestamp(col("s_s")))
      .withColumn("e", to_timestamp(col("e_s"))).drop("s_s", "e_s")

  test("overlapJoin == naive overlap; multi-cell pairs emitted once; zero-length joins") {
    val l = iv(Seq(
      ("a", "2026-01-01 00:30:00", "2026-01-01 05:00:00"), // spans 6 hour-cells
      ("b", "2026-01-01 10:00:00", "2026-01-01 10:00:00"), // zero-length
      ("c", "2026-01-02 00:00:00", "2026-01-02 01:00:00")))
    val r = iv(Seq(
      ("x", "2026-01-01 04:00:00", "2026-01-01 12:00:00"), // overlaps a (4-5h) and b
      ("y", "2026-01-01 06:00:00", "2026-01-01 07:00:00"), // overlaps nothing in l
      ("z", "2026-01-02 01:00:00", "2026-01-02 02:00:00"))) // touches c at the closed end
      .withColumnRenamed("name", "rname")
      .withColumnRenamed("s", "rs").withColumnRenamed("e", "re")
    val naive = l.crossJoin(r)
      .filter(col("s") <= col("re") && col("rs") <= col("e"))
      .select("name", "rname").collect().map(r => (r.getString(0), r.getString(1)))
    val out = RangeJoin.overlapJoin(l, r, "s", "e", "rs", "re", cellSeconds = 3600)
      .select("name", "rname").collect().map(r => (r.getString(0), r.getString(1)))
    assert(out.toSet == naive.toSet)
    assert(out.length == naive.length, "each overlapping pair exactly once")
    assert(out.toSet == Set(("a", "x"), ("b", "x"), ("c", "z")))
    val plan = RangeJoin.overlapJoin(l, r, "s", "e", "rs", "re", 3600)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"))
  }
}

class SketchSpec extends SparkSpec {

  // HLL++ is deterministic for a fixed input, so the bound is a stable
  // assertion, not a flaky statistical one: 3×rsd covers the estimator's
  // guarantee with wide margin (agg_approx_distinct's correctness anchor —
  // its oracle row is rows-only by design since HLL values differ per
  // engine).
  test("approx_count_distinct within 3×rsd of exact at low and high cardinality") {
    val df = spark.range(200000)
      .selectExpr("id % 5000 AS k", "id % 37 AS j", "id AS u")
    val r = df.agg(
      approx_count_distinct(col("k")).as("k5"),        // default rsd = 0.05
      approx_count_distinct(col("j"), 0.02).as("j2"),
      approx_count_distinct(col("u"), 0.05).as("u5")).head()
    def relErr(est: Long, exact: Long) = math.abs(est - exact.toDouble) / exact
    assert(relErr(r.getLong(0), 5000L) < 0.15)
    assert(relErr(r.getLong(1), 37L) < 0.06)
    assert(relErr(r.getLong(2), 200000L) < 0.15)
  }

  // GK sketch guarantee: rank error ≤ N/accuracy, so the estimate must sit
  // inside the exact quantile band q ± 1/accuracy (deterministic for a
  // fixed input — agg_approx_percentile's correctness anchor; its oracle
  // row is rows-only since sketch values differ per engine).
  test("percentile_approx within the rank-error band of exact quantiles") {
    val n = 100000L
    val df = spark.range(n).selectExpr(
      "CAST(id AS DOUBLE) AS x",          // uniform: value(q) = q·n
      "CAST(id AS DOUBLE) * id AS y")     // skewed: value(q) = (q·n)²
    val r = df.agg(
      percentile_approx(col("x"), lit(0.5), lit(1000)).as("px"),
      percentile_approx(col("y"), lit(0.9), lit(1000)).as("py")).head()
    // accuracy 1000 → rank error ≤ 100 of 100000 → quantile band ±0.001 (doubled for slack)
    assert(r.getDouble(0) >= 0.498 * n && r.getDouble(0) <= 0.502 * n)
    assert(r.getDouble(1) >= math.pow(0.898 * n, 2) && r.getDouble(1) <= math.pow(0.902 * n, 2))
  }
}

class EventsSpec extends SparkSpec {
  import spark.implicits._

  private val ev = Seq(
    (1L, 10L, "2026-01-01 10:00:00", "view", 1.0),
    (2L, 10L, "2026-01-01 10:10:00", "view", 2.0),  // same session (10 min gap)
    (3L, 10L, "2026-01-01 11:00:00", "click", 3.0), // new session (50 min gap)
    (4L, 20L, "2026-01-01 10:05:00", "view", 4.0)
  ).toDF("event_id", "user_id", "ts_s", "event_type", "value")
    .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")

  test("sessionize splits on gap > threshold per user") {
    val s = Events.sessionStats(ev, "user_id", "ts", gapMinutes = 30, tieCol = "event_id")
      .orderBy("user_id", "session_id").collect()
    assert(s.map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_id"), r.getAs[Long]("n_events"))).toSeq ==
      Seq((10L, 1L, 2L), (10L, 2L, 1L), (20L, 1L, 1L)))
  }

  test("tumbling window aligns to epoch hour") {
    val w = Events.tumblingAgg(ev, "ts", "1 hour").orderBy("window_start", "event_type")
    val starts = w.select("window_start").collect().map(_.getTimestamp(0).toString).toSet
    assert(starts == Set("2026-01-01 10:00:00.0", "2026-01-01 11:00:00.0"))
  }

  test("asofJoin: latest right at-or-before, inclusive, per key") {
    val purchases = Seq(
      (101L, 10L, "2026-01-01 10:08:00"),
      (102L, 10L, "2026-01-01 11:00:00")
    ).toDF("p_id", "user_id", "ts_s")
      .withColumn("p_ts", to_timestamp(col("ts_s"))).drop("ts_s")
    val out = AsOf.asofJoin(
      ev.select("event_id", "user_id", "ts"), purchases,
      keys = Seq("user_id"), leftTime = "ts", rightTime = "p_ts",
      payload = Seq("p_id", "p_ts"))
      .orderBy("event_id").collect()
    // event 1 (10:00) → none; event 2 (10:10) → 101; event 3 (11:00) → 102 inclusive
    assert(out(0).isNullAt(out(0).fieldIndex("p_id")))
    assert(out(1).getAs[Long]("p_id") == 101L)
    assert(out(2).getAs[Long]("p_id") == 102L)
    assert(out(3).isNullAt(out(3).fieldIndex("p_id"))) // other user
  }

  test("asofJoinForward: earliest right at-or-after, inclusive, per key") {
    val purchases = Seq(
      (101L, 10L, "2026-01-01 10:08:00"),
      (102L, 10L, "2026-01-01 11:00:00")
    ).toDF("p_id", "user_id", "ts_s")
      .withColumn("p_ts", to_timestamp(col("ts_s"))).drop("ts_s")
    val out = AsOf.asofJoinForward(
      ev.select("event_id", "user_id", "ts"), purchases,
      keys = Seq("user_id"), leftTime = "ts", rightTime = "p_ts",
      payload = Seq("p_id", "p_ts"))
      .orderBy("event_id").collect()
    // event 1 (10:00) → 101 ahead; event 2 (10:10) → 102;
    // event 3 (11:00) → 102 inclusive at equal time; user 20 → none
    assert(out(0).getAs[Long]("p_id") == 101L)
    assert(out(1).getAs[Long]("p_id") == 102L)
    assert(out(2).getAs[Long]("p_id") == 102L)
    assert(out(3).isNullAt(out(3).fieldIndex("p_id")))
  }

  test("outliers: z-scores from exact sums, degenerate single-row group dropped") {
    // view values 1,2,4: mean 7/3, var (21 - 49/3)/2 → z(4) = 1.0911
    val out = Events.outliers(ev, "event_type", "value", "event_id", zThreshold = 1.0)
      .collect().map(r => r.getAs[Long]("event_id") -> r.getAs[Double]("z")).toMap
    assert(out.keySet == Set(4L), out.toString)
    assert(out(4L) == 1.0911)
    // the single click event's std is 0/0 → NaN z → never passes the filter
    assert(!Events.outliers(ev, "event_type", "value", "event_id", 0.0)
      .collect().map(_.getAs[String]("event_type")).contains("click"))
  }

  test("outliersRobust: bounded-memory approx default flags the same rows as the exact form") {
    // a clear outlier among tight values — sketch vs interpolated medians
    // must agree on WHO is flagged even if the medians differ in the
    // interpolation digits
    val df = ((1 to 50).map(i => (i.toLong, "a", 10.0 + (i % 3) * 0.01)) :+
      (99L, "a", 500.0)).toDF("event_id", "event_type", "value")
    def flagged(exact: Boolean) =
      Events.outliersRobust(df, "event_type", "value", "event_id", 3.5,
        exactPercentile = exact).collect().map(_.getAs[Long]("event_id")).toSet
    assert(flagged(exact = true) == Set(99L))
    assert(flagged(exact = false) == Set(99L))
  }

  test("funnel: stage must follow previous stage within the gap window") {
    val out = Events.funnel(ev, "user_id", "ts", "event_type",
        Seq("view", "click"), maxGap = "24 HOURS")
      .collect().map(r => r.getAs[Long]("user_id") ->
        (Option(r.getAs[java.sql.Timestamp]("t2")), r.getAs[Int]("reached"))).toMap
    assert(out(10L)._1.map(_.toString) == Some("2026-01-01 11:00:00.0") && out(10L)._2 == 2)
    assert(out(20L)._1.isEmpty && out(20L)._2 == 1)
    // a 30-minute window excludes user 10's click at +1h
    val tight = Events.funnel(ev, "user_id", "ts", "event_type",
        Seq("view", "click"), maxGap = "30 MINUTES")
      .collect().map(r => r.getAs[Long]("user_id") -> r.getAs[Int]("reached")).toMap
    assert(tight(10L) == 1)
  }

  test("retentionCohorts: users counted once per (cohort, k)") {
    val e2 = Seq(
      (10L, "2026-01-01 10:00:00"), (10L, "2026-01-01 12:00:00"), // same day, one row
      (10L, "2026-01-03 09:00:00"),                               // k=2
      (20L, "2026-01-02 09:00:00"), (20L, "2026-01-03 09:00:00")  // cohort 2nd, k=0,1
    ).toDF("user_id", "ts_s").withColumn("ts", to_timestamp(col("ts_s")))
    val out = Events.retentionCohorts(e2, "user_id", "ts")
      .orderBy("cohort_day", "k").collect()
      .map(r => (r.getAs[java.sql.Date]("cohort_day").toString,
        r.getAs[Int]("k"), r.getAs[Long]("n_users")))
    assert(out.toSeq == Seq(
      ("2026-01-01", 0, 1L), ("2026-01-01", 2, 1L),
      ("2026-01-02", 0, 1L), ("2026-01-02", 1, 1L)))
  }

  test("resampleGapFill: dense grid, zero-filled counts, forward-filled sums") {
    val out = Events.resampleGapFill(ev, "event_type", "ts", "value")
      .orderBy("event_type", "bucket_ts").collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[java.sql.Timestamp]("bucket_ts").toString,
        r.getAs[Long]("n_events"), Option(r.getAs[java.lang.Double]("sum_value")),
        Option(r.getAs[java.lang.Double]("filled_value"))))
    // grid = 2 types × 2 hours; click@10 is a gap (null sum, nothing to
    // carry yet), view@11 is a gap that carries view@10's sum forward
    assert(out.toSeq == Seq(
      ("click", "2026-01-01 10:00:00.0", 0L, None, None),
      ("click", "2026-01-01 11:00:00.0", 1L, Some(3.0), Some(3.0)),
      ("view", "2026-01-01 10:00:00.0", 3L, Some(7.0), Some(7.0)),
      ("view", "2026-01-01 11:00:00.0", 0L, None, Some(7.0))))
  }

  test("durations per key") {
    val d = Events.durations(ev, "user_id", "ts").orderBy("user_id").collect()
    assert(d(0).getAs[Double]("duration_sec") == 3600.0)
    assert(d(1).getAs[Double]("duration_sec") == 0.0)
  }
}

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("binary plumbing: length/md5/head on real bytes") {
    val df = Seq((1L, "hello world")).toDF("doc_id", "text")
    val r  = Multimodal.binaryFeatures(
      Multimodal.attachBinary(df, "text"), "doc_id", "content").head()
    assert(r.getAs[Long]("n_bytes") == 11L)
    assert(r.getAs[String]("content_md5") == "5eb63bbbe01eeed093cb22bb8f5acdc3")
    assert(r.getAs[String]("head_hex") == "68656c6c6f20776f") // "hello wo"
  }

  test("featurize mapPartitions pipeline with stubbed decoder") {
    implicit val s = spark
    val ds = spark.createDataset(Seq(
      Multimodal.MediaRecord(1L, "fake image bytes".getBytes("UTF-8"), "image/fake"),
      Multimodal.MediaRecord(2L, Array[Byte](), "image/fake")))
    val out = Multimodal.featurize(ds).collect().sortBy(_.id)
    assert(out(0).nBytes == 16L && out(0).embedding.length == 8)
    assert(out(1).nBytes == 0L)
    // determinism of the stub
    assert(Multimodal.decodeStub("abc".getBytes).toSeq == Multimodal.decodeStub("abc".getBytes).toSeq)
  }

  test("frameSample: fixed-size frames, stride, ragged tail, empty payload") {
    val payload = "x" * 300 // 300 bytes → frames of 64: 0..4, tail = 44 bytes
    val df = Seq((1L, payload), (2L, "")).toDF("doc_id", "text")
    val out = Multimodal.frameSample(
      Multimodal.attachBinary(df, "text"), "doc_id", "content",
      frameBytes = 64, stride = 4)
      .select(col("doc_id"), col("frame_idx"), length(col("frame")).as("len"))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getInt(2)).toMap
    assert(out == Map((1L, 0) -> 64, (1L, 4) -> 44)) // doc 2 (empty) dropped
  }

  test("real PNG decode: grayscale samples round-trip bit-exactly") {
    val bytes = Array.tabulate[Byte](5)(i => (i * 50 + 3).toByte) // 3,53,103,153,203
    val png = Multimodal.encodeGrayPng(bytes, 4, 4)
    // PNG magic: a real container came out of the encoder
    assert((png(0) & 0xff) == 0x89 && png(1) == 'P' && png(2) == 'N' && png(3) == 'G')
    val st = Multimodal.decodeImageStats(png).get
    assert(st.width == 4 && st.height == 4 && st.channels == 1)
    // pixel i = bytes(i % 5): 16 pixels cycling the 5 values
    val expected = (0 until 16).map(i => bytes(i % 5) & 0xff).sum.toLong
    assert(st.pixelSum == expected)
  }

  test("decodeImageStats returns None for non-image payloads") {
    assert(Multimodal.decodeImageStats("not an image".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.decodeImageStats(Array[Byte](1, 2, 3)).isEmpty)
  }

  test("pngRoundtripStats runs as partition batches and drops empty payloads") {
    val df = Seq((1L, "abc"), (2L, "")).toDF("doc_id", "text")
    val rows = Multimodal.pngRoundtripStats(df, "doc_id", "text", 16, 16)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3), r.getLong(4))).toMap
    val abc = "abc".getBytes("UTF-8")
    val expected = (0 until 256).map(i => abc(i % 3) & 0xff).sum.toLong
    assert(rows == Map(1L -> ((16, 16, 1, expected))))
  }

  test("resizeBinary truncates to maxBytes and keeps short payloads whole") {
    val out = Seq(("abcdefgh"), ("ab")).toDF("text")
      .select(Multimodal.resizeBinary(encode(col("text"), "UTF-8"), 4).as("b"))
      .collect().map(r => new String(r.getAs[Array[Byte]](0), "UTF-8"))
    assert(out.toSeq == Seq("abcd", "ab"))
  }
}

class FetchSpec extends SparkSpec {

  test("filename derivation (download_manager.rb:249-251)") {
    assert(graft.io.Fetch.deriveFilename("http://x.test/a/b/file.csv?q=1") == "file.csv")
    assert(graft.io.Fetch.deriveFilename("file:///tmp/data.json") == "data.json")
  }

  test("http fetch via loopback server: 200 body, 404, connection error") {
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/data.csv", (ex: HttpExchange) => {
      val body = "x,y\n1,2\n".getBytes("UTF-8")
      ex.sendResponseHeaders(200, body.length)
      ex.getResponseBody.write(body)
      ex.close()
    })
    server.createContext("/missing.csv", (ex: HttpExchange) => {
      ex.sendResponseHeaders(404, -1); ex.close()
    })
    server.start()
    // a port with nothing listening → connect refused → transport error 599
    val deadPort = { val s = new java.net.ServerSocket(0); val p = s.getLocalPort; s.close(); p }
    try {
      val port = server.getAddress.getPort
      val dst  = java.nio.file.Files.createTempDirectory("httpdst")
      val urls = Seq(
        s"http://127.0.0.1:$port/data.csv",
        s"http://127.0.0.1:$port/missing.csv",
        s"http://127.0.0.1:$deadPort/nope.csv")
      val res = graft.io.Fetch.fetchAll(spark, urls, dst.toString, parallelism = 2)
        .collect().map(r => r.url -> r.status_code).toMap
      assert(res(urls(0)) == 200)
      assert(java.nio.file.Files.readString(dst.resolve("data.csv")) == "x,y\n1,2\n")
      assert(res(urls(1)) == 404)
      assert(res(urls(2)) == 599)
    } finally server.stop(0)
  }

  test("executor-side fetch of file:// urls with per-url status") {
    val src = java.nio.file.Files.createTempDirectory("fetchsrc")
    val dst = java.nio.file.Files.createTempDirectory("fetchdst")
    java.nio.file.Files.writeString(src.resolve("a.txt"), "AAA")
    java.nio.file.Files.writeString(src.resolve("b.txt"), "BBB")
    val urls = Seq(s"file://$src/a.txt", s"file://$src/b.txt", s"file://$src/missing.txt")
    val res  = graft.io.Fetch.fetchAll(spark, urls, dst.toString, parallelism = 2)
      .collect().map(r => r.url -> r.status_code).toMap
    assert(res(s"file://$src/a.txt") == 200)
    assert(res(s"file://$src/missing.txt") == 404)
    assert(java.nio.file.Files.readString(dst.resolve("a.txt")) == "AAA")
  }
}

class ConnectionsSpec extends SparkSpec {
  import spark.implicits._
  import graft.io.Connections

  test("registry + parquet read/write/drop roundtrip (S1/S6/S7/S8)") {
    val base = java.nio.file.Files.createTempDirectory("conn").toString
    Connections.clear()
    Connections.add(Connections.ConnectionInfo("staging", "parquet", basePath = Some(base)))
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    Connections.write(df, "staging", "t1", mode = "overwrite")
    assert(Connections.read(spark, "staging", "t1").count() == 2)
    Connections.write(df, "staging", "t1") // append (S6)
    assert(Connections.read(spark, "staging", "t1").count() == 4)
    Connections.dropTable(spark, "staging", "t1") // S8
    assert(!new java.io.File(s"$base/t1.parquet").exists())
  }

  test("jdbc roundtrip through embedded Derby (S3, repository_manager.rb:32-71)") {
    // Derby ships with Spark (hive-metastore dependency) — a pure-JVM
    // in-memory RDBMS, so the "jdbc" read/write branches run for real.
    System.setProperty("derby.system.home",
      java.nio.file.Files.createTempDirectory("derby").toString)
    Connections.clear()
    Connections.add(Connections.ConnectionInfo("warehouse", "jdbc",
      options = Map(
        "url"    -> "jdbc:derby:memory:graftdb;create=true",
        "driver" -> "org.apache.derby.jdbc.EmbeddedDriver")))
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    Connections.write(df, "warehouse", "t_jdbc", mode = "overwrite") // CTAS (S7)
    assert(Connections.read(spark, "warehouse", "t_jdbc").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "b")))
    Connections.write(df, "warehouse", "t_jdbc") // append (S6)
    assert(Connections.read(spark, "warehouse", "t_jdbc").count() == 4)
  }

  test("first registration wins on search path (repository_manager.rb:47-66)") {
    Connections.clear()
    Connections.add(Connections.ConnectionInfo("c", "parquet", basePath = Some("/first")))
    Connections.add(Connections.ConnectionInfo("c", "parquet", basePath = Some("/second")))
    assert(Connections.get("c").get.basePath.contains("/first"))
  }

  test("csv and json formats roundtrip through the registry") {
    val base = java.nio.file.Files.createTempDirectory("connfmt").toString
    Connections.clear()
    Connections.add(Connections.ConnectionInfo("csvz", "csv",
      options = Map("header" -> "true", "inferSchema" -> "true"), basePath = Some(base)))
    Connections.add(Connections.ConnectionInfo("jsonz", "json", basePath = Some(base)))
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    Connections.write(df, "csvz", "t_csv", mode = "overwrite")
    Connections.write(df, "jsonz", "t_json", mode = "overwrite")
    assert(Connections.read(spark, "csvz", "t_csv").count() == 2)
    assert(Connections.read(spark, "jsonz", "t_json")
      .filter(col("v") === "b").select("id").head().getLong(0) == 2L)
  }

  test("partitioned write enables partition pruning on read (100TB layout)") {
    val base = java.nio.file.Files.createTempDirectory("connpart").toString
    Connections.clear()
    Connections.add(Connections.ConnectionInfo("ds", "parquet", basePath = Some(base)))
    val df = (1 to 100).map(i => (i.toLong, s"2026-0${i % 3 + 1}", i * 1.0))
      .toDF("id", "month", "v")
    Connections.write(df, "ds", "facts", mode = "overwrite", partitionBy = Seq("month"))
    val read = Connections.read(spark, "ds", "facts").filter(col("month") === "2026-01")
    // pruned scan: only the matching partition directory is read
    val plan = read.queryExecution.executedPlan.toString
    assert(read.count() == df.filter(col("month") === "2026-01").count())
    assert(plan.contains("PartitionFilters") || plan.contains("month#"))
    val dirs = new java.io.File(s"$base/facts.parquet").listFiles().map(_.getName)
    assert(dirs.count(_.startsWith("month=")) == 3)
  }
}

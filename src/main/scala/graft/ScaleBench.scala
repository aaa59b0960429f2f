package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops._

/** Empirical scale-curve harness for the dedup/graph/gate families: the
  * 100 TB story everywhere else in this repo is argued from PLAN SHAPE at
  * sf0.1 — this main measures it. It synthesizes derived corpora at
  * 1×/10×/30× of a base scale factor and times each operator's
  * distributed path, then fits the scaling exponent b in t ≈ a·m^b by
  * least squares on (ln m, ln t). Linear-work operators should land near
  * b ≈ 1 (sub-linear for the fixed-batch gate probe, whose cost is the
  * batch + pruned index slices, not the corpus); anything clearly
  * superlinear is a scale bug to diagnose, not a number to report.
  *
  * Corpus synthesis (testdata is read-only; derived copies live in /tmp):
  * every copy c suffixes EVERY token with "q<c>", so copy vocabularies
  * are disjoint — each copy reproduces the base corpus's internal
  * near-dup structure exactly, while cross-copy pairs are impossible.
  * That keeps the dedup rate (pairs per doc) CONSTANT as the corpus
  * grows, the realistic regime: naive replication without perturbation
  * would add m² cross-copy near-dup pairs per base doc and the measured
  * "superlinearity" would be genuine output growth, not operator cost.
  * Graph edges replicate the bench's orders⋈lineitem bipartite graph
  * with per-copy node offsets (m× edges, m× nodes, same degree
  * distribution).
  *
  * Usage: runMain graft.ScaleBench [baseSfDir] [multipliers] [outJson]
  * (defaults: /root/testdata/sf0.1, "1,10,30", /tmp/scale_curves.json).
  * `SPARK_GRAFT_SCALE_OPS=a,b` restricts the run to the named rows —
  * the quiet-window targeted re-fold workflow (NOTES r12: replicate a
  * disputed point across invocations, then merge_curves.py folds it
  * into the published table). Corpora and standing artifacts build
  * lazily, so a graph-only rerun never synthesizes the 30× document
  * corpus; unfiltered runs keep the historical block order and timed
  * regions exactly.
  * Driver fast paths are FORCED OFF (maxDriver* = 0) so every point
  * measures the distributed loop — the path that exists at 100 TB.
  * Run with SPARK_DRIVER_MEM=48g: the 30× corpus plus its localCheckpoint
  * pins exceed the 8g default of this single-JVM harness (a cluster
  * spreads the same blocks over executors).
  */
object ScaleBench {

  private def timeIt[A](f: => A): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  /** Least-squares slope of ln t over ln m — the fitted exponent. */
  private def exponent(points: Seq[(Int, Double)]): Double = {
    val xs = points.map(p => math.log(p._1.toDouble))
    val ys = points.map(p => math.log(p._2))
    val n = xs.size
    val mx = xs.sum / n; val my = ys.sum / n
    val num = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum
    val den = xs.map(x => (x - mx) * (x - mx)).sum
    if (den == 0) 0.0 else num / den
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val mults = (if (args.length > 1) args(1) else "1,10,30")
      .split(",").map(_.trim.toInt).toSeq
    val outJson = if (args.length > 2) args(2) else "/tmp/scale_curves.json"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkConfigs.local(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    val work = "/tmp/scalebench"
    val workFs = new org.apache.hadoop.fs.Path(work)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    workFs.delete(new org.apache.hadoop.fs.Path(work), true): Unit

    // ---- derived corpora ---------------------------------------------
    val baseDocs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    def scaledDocs(m: Int): DataFrame = {
      val copies = explode(sequence(lit(0), lit(m - 1))).as("copy")
      baseDocs.select(col("doc_id"), col("text"), copies)
        .select((col("doc_id") + col("copy") * 10000000L).as("doc_id"),
          when(col("copy") === 0, col("text"))
            .otherwise(array_join(
              transform(split(col("text"), " "),
                t => concat(t, lit("q"), col("copy"))), " ")).as("text"))
    }
    val baseEmb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
    // per-copy embedding perturbation: one rotated element per copy keeps
    // vectors distinct across copies (no degenerate all-tied top-k) while
    // preserving the base corpus's neighborhood structure within a copy.
    // multiplier is (copy%7)+1 for copy>0 — NEVER zero, else copies that
    // are multiples of 7 would be byte-identical to the base and top-k
    // would tie across them; two copies collide only at copy ≡ copy'
    // (mod 56), beyond any multiplier this harness runs
    def scaledEmb(m: Int): DataFrame = {
      val copies = explode(sequence(lit(0), lit(m - 1))).as("copy")
      baseEmb.select(col("vec_id"), col("embedding"), copies)
        .select((col("vec_id") + col("copy") * 10000000L).as("vec_id"),
          when(col("copy") === 0, col("embedding")).otherwise(
            transform(col("embedding"),
              (x, i) => x + ((col("copy") % 7) + 1).cast("float") *
                when(i === col("copy") % 8, lit(0.01f)).otherwise(lit(0f))))
            .as("embedding"))
    }
    val o = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"))
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_suppkey"))
    // skewed fact table: key 0 owns ~1/3 of the rows at EVERY m — the
    // planned-hot-key regime Skew.* exists for. The hot key's absolute
    // row count grows m×, so an unsalted groupBy/join would put m× rows
    // on one reducer; the salted paths must instead scale like uniform
    // data (≈ linear in total rows)
    def scaledSkewed(m: Int): DataFrame = {
      val copies = explode(sequence(lit(0), lit(m - 1))).as("copy")
      li.select(col("l_orderkey").as("id0"),
          col("l_suppkey").cast("long").as("v"), copies)
        .select((col("id0") + col("copy") * 100000000L).as("id"),
          when(pmod(col("id0"), lit(3)) === 0, lit(0L))
            .otherwise(pmod(col("id0"), lit(1000L))).as("k"),
          col("v"))
    }
    val basePairs = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("a"), (col("l_suppkey") + 1000000L).as("b"))
      .distinct()
    def scaledEdges(m: Int): DataFrame = {
      val copies = explode(sequence(lit(0), lit(m - 1))).as("copy")
      val p = basePairs.select(col("a"), col("b"), copies)
        .select((col("a") + col("copy") * 10000000L).as("a"),
          (col("b") + col("copy") * 10000000L).as("b"))
      p.select(col("a").as("src"), col("b").as("dst"))
        .union(p.select(col("b").as("src"), col("a").as("dst")))
    }
    // hub-heavy triangle fixture: a 1/5 hash-sample of the bipartite
    // pairs (bounds the benign spoke-side wedge volume) plus ONE GLOBAL
    // hub (-1) adjacent to every node of every copy — the hub's degree
    // grows m×, the power-law regime the degree orientation exists for:
    // id-ordered wedge enumeration would put O((m·|V|)²) wedges on the
    // hub's key, degree-ordered puts ZERO there (all hub edges orient
    // INTO it). Each sampled edge closes exactly one triangle with the
    // hub, so output volume grows m× — real work, not a degenerate zero.
    def scaledHubEdges(m: Int): DataFrame = {
      val copies = explode(sequence(lit(0), lit(m - 1))).as("copy")
      val p = basePairs.filter(pmod(hash(col("a"), col("b")), lit(5)) === 0)
        .select(col("a"), col("b"), copies)
        .select((col("a") + col("copy") * 10000000L).as("a"),
          (col("b") + col("copy") * 10000000L).as("b"))
      p.union(p.select(col("a"), lit(-1L).as("b")).distinct())
        .union(p.select(col("b").as("a"), lit(-1L).as("b")).distinct())
    }

    // ---- measured operators ------------------------------------------
    // Each returns the wall seconds of the DISTRIBUTED path; results are
    // materialized (count) inside the timed region; corpora materialize
    // OUTSIDE it (localCheckpoint) so synthesis cost never pollutes the
    // operator measurement.
    // SPARK_GRAFT_SCALE_OPS=a,b: run only the named rows (targeted
    // quiet-window re-measurement); unset = every row, original order
    val only = sys.env.get("SPARK_GRAFT_SCALE_OPS")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def want(name: String): Boolean = only.forall(_.contains(name))
    def measure(m: Int): Seq[(String, Double)] = {
      // shared corpora pin LAZILY so a filtered run synthesizes only
      // what its rows consume; everything that materialized is released
      // on exit exactly like the historical eager pins were
      val pins = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      def pin(df: DataFrame): DataFrame = { pins += df; df }
      lazy val docs = pin(scaledDocs(m).localCheckpoint())
      lazy val docsSample =
        pin(docs.filter(col("doc_id") % 5 === 0).localCheckpoint())
      lazy val sigs = pin(Dedup.signatures(docsSample, "doc_id", "text"))
      lazy val sets =
        sigs.select(col("id"), array_distinct(col("toks")).as("toks"))
      lazy val edges = pin(scaledEdges(m).localCheckpoint())
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
      // time-and-record iff wanted; `body` never runs otherwise
      def row(name: String)(body: => Unit): Unit =
        if (want(name)) out += name -> timeIt(body)

      row("jaccard_pairs") {
        val r = Dedup.jaccardPairsOnSets(sets, 0.5)
        r.count(); CacheControl.release(r)
      }
      if (want("connected_components")) {
        val pairs = Dedup.lshCandidatePairsOnSets(sets)
        row("connected_components") {
          val r = Dedup.connectedComponents(pairs, maxDriverPairs = 0L)
          r.count(); CacheControl.release(r)
        }
        CacheControl.release(pairs)
      }
      row("remove_duplicate_spans") {
        val r = Dedup.removeDuplicateSpans(docsSample, "doc_id", "text",
          n = 3, keepFirst = true)
        r.count(); CacheControl.release(r)
      }
      row("pagerank") {
        val r = Graph.pagerank(edges, "src", "dst", iterations = 3,
          maxDriverEdges = 0L)
        r.count(); CacheControl.release(r)
      }
      // the symmetric-promise variant: scaledEdges emits both orientations,
      // so the node set reads off the degree aggregate and the general
      // path's union+distinct+checkpoint over 2·|E| rows is skipped — the
      // delta between these two rows IS that pass's cost at each scale
      row("pagerank_sym") {
        val r = Graph.pagerank(edges, "src", "dst", iterations = 3,
          maxDriverEdges = 0L, symmetricEdges = true)
        r.count(); CacheControl.release(r)
      }
      // standing graph index (round 12): graph_index_build is the
      // one-time amortized cost (derivation + distinct + bucketed+sorted
      // three-table write), pagerank_indexed is what a deployment pays
      // PER QUERY over the standing artifact — iterations only, the
      // bucketed scans enter the loop exchange- and sort-free. The gap
      // to the pagerank/pagerank_sym rows above is the per-query rebuild
      // the index amortizes away.
      val gIdxPath = s"$work/gidx-$m"
      // pagerank_indexed needs the artifact even when the build row is
      // filtered out — build untimed then
      if (want("graph_index_build")) out += "graph_index_build" -> timeIt {
        Graph.buildGraphIndex(edges, "src", "dst", gIdxPath)
      }
      else if (want("pagerank_indexed"))
        Graph.buildGraphIndex(edges, "src", "dst", gIdxPath)
      row("pagerank_indexed") {
        val idx = Graph.loadGraphIndex(spark, gIdxPath)
        val r = Graph.pagerankOnIndex(idx, iterations = 3,
          maxDriverEdges = 0L)
        r.count(); CacheControl.release(r)
      }
      // gate: the index holds the m-scaled corpus; the PROBE BATCH is
      // fixed at base size (a crawl batch does not grow with the corpus).
      // This is the sub-linear claim: per-batch cost ∝ batch + pruned
      // index slices.
      val idxPath = s"$work/idx-$m"
      val needLshIdx =
        Seq("index_build", "gate_batch", "compact_index").exists(want)
      if (want("index_build")) out += "index_build" -> timeIt {
        Dedup.buildLshIndex(docs, "doc_id", "text", 8, 2, idxPath)
      }
      else if (needLshIdx)
        Dedup.buildLshIndex(docs, "doc_id", "text", 8, 2, idxPath)
      // fixed-size crawl batch; 500 docs — every one is a near-copy of a
      // corpus doc AND shares vocabulary with the others (the worst case
      // for in-batch verification), so the batch-local quadratic term is
      // kept honest but bounded
      lazy val batch = pin(baseDocs.limit(500)
        .select((col("doc_id") + 900000000L).as("doc_id"),
          concat(col("text"), lit(" probeonly")).as("text"))
        .localCheckpoint())
      def gateBatchBody(): Unit = {
        val (accepted, bands) = Dedup.gateBatchWithBands(batch, "doc_id",
          "text", idxPath, docs, 8, 2, 0.7)
        accepted.count()
        // the real sink (StreamOps.lshDedupGateSink) appends only the
        // ACCEPTED docs' band rows — appending all of them would grow
        // the benched index with rows production never holds (this batch
        // is built to be mostly rejected), skewing compact_index's input
        Dedup.writeLshIndexBands(
          bands.join(accepted.select("doc_id"), Seq("doc_id"), "left_semi"),
          idxPath)
        bands.unpersist()
        CacheControl.release(accepted)
      }
      row("gate_batch")(gateBatchBody())
      // compact_index's input contract is "an index with an appended
      // batch": when an OPS filter keeps compact_index but drops
      // gate_batch, run the append UNTIMED (the build-untimed pattern
      // above) — otherwise compaction runs on a band-free index, a
      // strictly lighter workload that merge_curves.py would fold into
      // the published table as if comparable
      if (want("compact_index") && !want("gate_batch")) gateBatchBody()
      row("compact_index") { Dedup.compactLshIndex(spark, idxPath): Unit }
      row("winnow_pairs") {
        val r = TextAnalysis.winnowPairsOfTokens(sigs, k = 5, w = 4,
          minShared = 2)
        r.count(); CacheControl.release(r)
      }
      row("dedup_lines") {
        val r = Dedup.dedupLines(docsSample, "doc_id", "text",
          tokensPerLine = 8)
        r.count(); CacheControl.release(r)
      }
      // Contamination: the benchmark side is FIXED (eval suites don't
      // grow with the corpus) — the scale claim is that cost is the
      // corpus-side gram pass plus a broadcast probe, with only matched
      // rows reaching the aggregation exchange. Disjoint per-copy
      // vocabularies keep the hit set constant as the corpus grows (the
      // realistic regime: a 30× corpus is not 30× more contaminated), so
      // the curve measures operator cost, not output blowup. Results are
      // PLAIN plans — no release (see the ANN note below); count()
      // leaves nothing persistent.
      lazy val benchSlice = pin(baseDocs.filter(col("doc_id") % 97 === 0)
        .localCheckpoint())
      row("contam_overlap") {
        Contamination.ngramOverlap(docs, benchSlice, "doc_id", "text",
          n = 3).count(): Unit
      }
      row("contam_decontaminate") {
        Contamination.decontaminate(docs, benchSlice, "doc_id", "text",
          n = 3, minShared = 2L).count(): Unit
      }
      // TF-IDF: two hash-aggs over the exploded tokens plus a per-doc
      // rank window — the expected-linear text-analysis representative;
      // (doc, term) rows AND the vocabulary both grow m× (disjoint copy
      // suffixes), the worst case for the df_t aggregation.
      row("text_tfidf") {
        TextAnalysis.tfidfTopTerms(docsSample, "doc_id", "text", 5)
          .count(): Unit
      }
      // ANN: the candidate set scales with the corpus; the query set is
      // FIXED (200 vectors) — per-query probe cost is the scale claim
      // (IVF: ~N/nCentroids per query on balanced lists, so ~linear at
      // fixed nCentroids; a real deployment grows nCentroids ~√N)
      lazy val emb = pin(scaledEmb(m).localCheckpoint())
      lazy val annQueries = pin(baseEmb.limit(200)
        .select((col("vec_id") + 900000000L).as("vec_id"), col("embedding"))
        .localCheckpoint())
      // NO CacheControl.release on the ANN results: ivfTopK/lshTopKBanded
      // return PLAIN plans (no output checkpoint), so their analyzed
      // lineage still contains emb's and annQueries' LogicalRDDs — a
      // release would unpersist the SHARED corpus checkpoints out from
      // under every later consumer (bit us: ann_lsh_banded crashed with
      // CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND after ann_ivf_topk's release).
      // count() leaves nothing persistent behind for these rows.
      row("ann_ivf_topk") {
        Similarity.ivfTopK(annQueries, emb, "vec_id", "embedding",
          k = 5, nCentroids = 64).count(): Unit
      }
      // banded-LSH ANN — the production recall path (recall@5 = 0.975,
      // oracle-gated in ann_recall): candidates collapse to narrow id
      // pairs in the band join before any vector rides a shuffle
      row("ann_lsh_banded") {
        Similarity.lshTopKBanded(annQueries, emb, "vec_id",
          "embedding", k = 5, planes = 24, nBands = 12, dims = 64)
          .count(): Unit
      }
      // persisted IVF at DEPLOYMENT sizing (√N lists, auto): the build is
      // its own row (paid once per corpus); the probe row is what a fixed
      // 200-query batch pays against the STANDING index — one partition-
      // pruned scan of the probed lists, ~batch·√N rows touched, so the
      // curve should hold near 0.5 where fixed-list ann_ivf_topk is ~1
      val ivfPath = s"$work/ivf-$m"
      if (Seq("ivf_build_sqrt_lists", "ivf_probe_persisted").exists(want)) {
        workFs.delete(new org.apache.hadoop.fs.Path(ivfPath), true): Unit
        var ivfCents: DataFrame = null
        // the probe row needs the standing index even when the build row
        // is filtered out — build untimed then
        if (want("ivf_build_sqrt_lists"))
          out += "ivf_build_sqrt_lists" -> timeIt {
            ivfCents = Similarity.buildIvfIndexAuto(emb, "vec_id", "embedding",
              ivfPath)
          }
        else
          ivfCents = Similarity.buildIvfIndexAuto(emb, "vec_id", "embedding",
            ivfPath)
        row("ivf_probe_persisted") {
          Similarity.probeIvfIndexBatch(spark, ivfPath, annQueries,
            "vec_id", "embedding", ivfCents, k = 5).count(): Unit
        }
        CacheControl.release(ivfCents)
      }
      // perceptual-hash near-dup pairs (the heaviest bench query): the
      // phash fold is linear in docs; the banded join must track bucket
      // occupancy, never all-pairs
      row("mm_phash_pairs") {
        val r = Multimodal.phashPairs(docsSample, "doc_id", "text",
          maxHamming = 3)
        r.count(); CacheControl.release(r)
      }
      // degree-oriented triangles on the hub-heavy graph — the one
      // power-law hazard left in the graph family (r9 verdict): the hub
      // must never own a wedge key
      if (want("triangles_hub")) {
        val hubEdges = scaledHubEdges(m).localCheckpoint()
        out += "triangles_hub" -> timeIt {
          val r = Graph.triangleCounts(hubEdges, "a", "b")
          r.count(); CacheControl.release(r)
        }
        CacheControl.release(hubEdges)
      }
      // capstone corpus pipeline (VERDICT r10 #6): the single most
      // expensive bench query, measured AS SHIPPED — quality gate → line
      // dedup → span removal → PPJoin clustering (incl. its adaptive
      // small-input fast paths) → decontamination → packing. The bench
      // set is a ~1% residue slice of the same scaled corpus, so both
      // sides grow m× while per-copy dedup structure stays constant.
      row("pipeline_end_to_end") {
        val r = Prep.corpusPipeline(docsSample,
          docs.filter(col("doc_id") % 97 === 0), "doc_id", "text")
        r.count(); CacheControl.release(r)
      }
      // stateful streaming representative (VERDICT r10 #6): the
      // watermarked view→purchase stream-stream join over an m×-user
      // event stream — state GROWTH is the 100 TB risk class none of the
      // other curve rows touch (four state stores per partition holding
      // both sides' rows inside the watermark horizon; horizon row count
      // grows m× because users multiply within the same time range).
      // The derived fixture writes outside the timed region; the timed
      // work is the full AvailableNow execution: state build, join,
      // watermark eviction, sink commit.
      val evDir = s"$work/ev-$m"
      if (want("stream_stream_join")) {
      workFs.delete(new org.apache.hadoop.fs.Path(evDir), true): Unit
      graft.Tables.events(spark, sfDir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("ts"), explode(sequence(lit(0), lit(m - 1))).as("copy"))
        .select((col("event_id") + col("copy") * 100000000L).as("event_id"),
          (col("user_id") + col("copy") * 10000000L).as("user_id"),
          col("event_type"), col("ts"))
        .write.mode("overwrite").parquet(evDir)
      out += "stream_stream_join" -> timeIt {
        val schema = spark.read.parquet(evDir).schema
        def side(evType: String, idAs: String, tsAs: String) =
          spark.readStream.schema(schema).parquet(evDir)
            .filter(col("event_type") === evType)
            .select(col("user_id"), col("event_id").as(idAs),
              col("ts").as(tsAs))
        val joined = graft.streaming.StreamOps.streamStreamJoin(
          side("view", "view_id", "view_ts"),
          side("purchase", "purchase_id", "purchase_ts"),
          "user_id", "view_ts", "purchase_ts",
          watermarkDelay = "10 minutes", joinWindow = "1 hour")
        // same state sizing as the bench query (ev_stream_stream_join):
        // four stores per partition make commit cost partition-bound
        val name = s"ssj_${m}_${System.nanoTime()}"
        graft.streaming.StreamOps.runToMemory(joined, name,
          outputMode = "append", statePartitions = Some(8))
        spark.table(name).count()
        spark.catalog.dropTempView(name): Unit // memory sink holds rows
      }
      }
      // manifest: commit + point-scan latency against an m-commit,
      // m×-data table — the metadata path (rebase + version listing +
      // min/max pruning) must stay bounded by the FILE count, not rows.
      // History builds OUTSIDE the timed region; the timed work is one
      // fixed-size append and one pruned point scan.
      // fresh table per measure() call — the warm-up and both sweeps
      // would otherwise keep growing one table's history across passes
      val mfPath = s"$work/mf-$m"
      if (want("manifest_commit_scan")) {
      workFs.delete(new org.apache.hadoop.fs.Path(mfPath), true): Unit
      val mfBatch = pin(baseDocs.limit(500)
        .select(col("doc_id"), length(col("text")).as("len"))
        .localCheckpoint())
      // probe key taken from an ACTUAL batch row — an assumed id could
      // be absent from the unordered limit(500) sample, and the "point
      // scan" would then match zero files and measure only pruning
      val probeId = mfBatch.agg(min(col("doc_id"))).head.getLong(0) +
        900000000L
      (0 until m).foreach { c =>
        Manifest.append(mfBatch.withColumn("doc_id",
          col("doc_id") + lit(c * 10000000L)), mfPath): Unit
      }
      out += "manifest_commit_scan" -> timeIt {
        Manifest.append(mfBatch.withColumn("doc_id",
          col("doc_id") + lit(900000000L)), mfPath): Unit
        val n = Manifest.read(spark, mfPath)
          .filter(col("doc_id") === probeId).count()
        require(n > 0, s"point scan matched nothing (doc_id=$probeId)")
      }
      }
      // skew: salted two-phase agg + salted join over the hot-key fact —
      // results equal the unsalted forms (oracle-gated at sf0.01 by the
      // skew_salted_* queries); here the claim under measure is the
      // SCALING of the mitigation itself
      lazy val skewed = pin(scaledSkewed(m).localCheckpoint())
      lazy val dim = spark.range(1000)
        .select(col("id").as("k"), (col("id") * 7L).as("w"))
      row("skew_salted_agg") {
        Skew.saltedSumCount(skewed, Seq("k"), "v",
          saltN = 32, saltBy = Seq("id")).count(): Unit
      }
      row("skew_salted_join") {
        Skew.saltedJoin(skewed, dim, Seq("k"),
          saltN = 32, saltBy = Seq("id"))
          .agg(sum(col("w"))).count(): Unit
      }
      // release every corpus/fixture that actually materialized, in
      // reverse pin order (dependents before their sources)
      pins.reverseIterator.foreach(CacheControl.release)
      out.toSeq
    }

    // JIT/codegen warm-up on the smallest multiplier, untimed
    measure(mults.min): Unit
    // min over two INTERLEAVED full sweeps — the same defense the bench
    // uses, arranged so a noisy-neighbor window cannot contaminate both
    // samples of one point: back-to-back passes of the same multiplier
    // share any multi-minute contention window (observed: a 10× segment
    // 3-8× off while 30× stayed clean), whereas a full-sweep interleave
    // puts ~sweep-length between the two samples of every point.
    // Raw per-sweep samples go to stderr with wall-clock stamps so a
    // surprising published point can be adjudicated from one artifact
    // (which sample was slow, and when) instead of re-running blind.
    def logSweep(tag: String, m: Int, r: Seq[(String, Double)]): Unit =
      System.err.println(s"[scalebench] $tag m=$m " +
        java.time.Instant.now().toString + " " +
        r.map { case (op, t) => f"$op=$t%.2f" }.mkString(" "))
    val sweep1 = mults.map { m =>
      val r = measure(m); logSweep("sweep1", m, r); m -> r
    }.toMap
    val sweep2 = mults.map { m =>
      val r = measure(m); logSweep("sweep2", m, r); m -> r.toMap
    }.toMap
    val rows: Seq[(Int, Seq[(String, Double)])] = mults.map { m =>
      m -> sweep1(m).map { case (op, t) => op -> math.min(t, sweep2(m)(op)) }
    }
    val ops = rows.head._2.map(_._1)
    val byOp = ops.map { op =>
      op -> rows.map { case (m, r) => m -> r.find(_._1 == op).get._2 }
    }
    def sec(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val json = byOp.map { case (op, pts) =>
      val fitted = exponent(pts)
      val ptsJson = pts.map { case (m, t) => s""""${m}x":${sec(t)}""" }.mkString(",")
      s""""$op":{$ptsJson,"exponent":${sec(fitted)}}"""
    }.mkString("{\"base\":\"" + sfDir + "\",\"cpus\":" + cpus + ",", ",", "}")
    java.nio.file.Files.write(java.nio.file.Paths.get(outJson),
      (json + "\n").getBytes("UTF-8")): Unit
    println(json)
    spark.stop()
  }
}

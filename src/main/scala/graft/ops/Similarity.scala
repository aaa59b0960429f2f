package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`): brute-force
  * cosine top-k as the exact baseline, and a random-hyperplane LSH-bucketed
  * variant as the scale path (candidates come from one bucket join instead
  * of a full cross product).
  *
  * Numeric portability: elements are cast float→double (exact) and reduced
  * left-to-right with `aggregate`, matching DuckDB's `list_sum` order, so
  * cosines are bit-identical across engines. All arithmetic stays in
  * codegen'd higher-order Column functions — no UDFs, no driver collect.
  */
object Similarity {

  /** Row-count ceiling for the exact quadratic verifiers
    * ([[bruteForceTopK]], [[cosineNearDupPairs]]): they are all-pairs by
    * design — correct, but O(N²) — so a caller pointing one at a corpus
    * instead of a verification sample should fail fast with a pointer to
    * the bucketed path, not melt the cluster. The check costs one
    * `limit(max+1).count()` (a bounded scan, stops at max+1 rows).
    * Opt out per call with `maxRows = 0` (any non-positive value).
    */
  val DefaultQuadraticMaxRows: Long = 100000L

  private def requireSmall(df: DataFrame, maxRows: Long, op: String,
                           scalePath: String): Unit = {
    if (maxRows <= 0) return
    val n = df.limit(math.min(maxRows + 1, Int.MaxValue.toLong).toInt).count()
    require(n <= maxRows,
      s"$op is an exact all-pairs verifier and its input exceeds $maxRows " +
        s"rows — use $scalePath for corpus-scale inputs, or pass maxRows=0 " +
        "to override")
  }

  /** Left-to-right double dot product of two array columns — the native
    * codegen'd [[graft.functions.DotProduct]] expression (bit-identical to
    * the HOF formulation `aggregate(zip_with(...))`, see [[dotHof]], but
    * compiled into a tight loop).
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.graft_dot(a, b)

  /** The built-ins-only formulation, kept as the reference semantics the
    * native expression must match.
    */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = CosineScore.raw(a, b)

  /** Score-function family shared BY CONSTRUCTION across the IVF
    * surface — build-time list assignment ([[buildIvfIndex]]), probe
    * assignment + ranking ([[probeIvfIndexBatch]]), Lloyd refinement
    * ([[kmeansCentroids]]) and recall calibration ([[calibrateNProbe]])
    * all take the SAME [[VecScore]], so an index built under one metric
    * can never be probed or calibrated under another by accident (the
    * NOTES r12 staging rule: "pass a scorer, not a flag").
    *
    * Contract: HIGHER = closer for every member, so nearest is always
    * `max_by(score, …)` / `ORDER BY score DESC` — L2 is therefore the
    * NEGATED squared distance (monotone in euclidean rank; skipping the
    * sqrt keeps it exact and cheap). Every member rounds to 6 decimals
    * (the repo's engine-portability convention) and is expressed over
    * [[dot]] alone — no sqrt-then-square round-trips — so a DuckDB
    * oracle replays scores bit-identically with the same left-fold
    * `list_sum` (`ann_ivf_l2_topk`).
    */
  sealed abstract class VecScore(val name: String) {
    /** Unrounded score — iteration-internal use ([[kmeansCentroids]]'s
      * assignment, which never crosses an engine boundary). */
    def raw(a: Column, b: Column): Column
    /** The portable score: `round(raw, 6)`. */
    def apply(a: Column, b: Column): Column = round(raw(a, b), 6)
    /** [[apply]] with precomputed norms available ([[NormCol]] prep
      * convention): cosine reuses them, metrics that don't need norms
      * ignore them. Same VALUES as [[apply]] either way. */
    def withNorms(a: Column, b: Column, na: Column, nb: Column): Column =
      apply(a, b)
    /** Output-column name: `cos` keeps the historical cosine contract,
      * other metrics say what they are. */
    def scoreCol: String = "score"
  }
  case object CosineScore extends VecScore("cosine") {
    def raw(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))
    override def withNorms(a: Column, b: Column, na: Column, nb: Column): Column =
      round(dot(a, b) / (na * nb), 6)
    override def scoreCol: String = "cos"
  }
  case object DotScore extends VecScore("dot") {
    def raw(a: Column, b: Column): Column = dot(a, b)
  }
  case object L2Score extends VecScore("l2") {
    def raw(a: Column, b: Column): Column =
      -((dot(a, a) + dot(b, b)) - lit(2.0) * dot(a, b))
  }
  object VecScore {
    val all: Seq[VecScore] = Seq(CosineScore, DotScore, L2Score)
    def byName(n: String): VecScore = all.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(
        s"unknown scorer '$n' (known: ${all.map(_.name).mkString(", ")})"))
  }

  /** Prepared-input convention: a frame carrying [[NormCol]] (the
    * precomputed `norm(vec)` double) and/or [[SigCol]] (a precomputed
    * [[lshBucket]] bit-string) makes every top-k method below REUSE
    * those columns instead of recomputing norm/signature per method —
    * the multi-method caller's pattern (one recall harness, five probe
    * paths over the same corpus) pays the normalize-and-sign scan ONCE
    * behind a checkpoint instead of once per method. Signature reuse
    * leans on a structural property: plane p's hyperplane depends only
    * on p, so the r-plane bucket is the LENGTH-r PREFIX of any wider
    * signature — one 24-plane [[SigCol]] serves planes=4 single-bucket,
    * radius-1 multi-probe, and 12×2 banded probes alike. The caller
    * must prepare AT LEAST as many planes as any consuming method asks
    * for (a too-short column would silently merge buckets — the one
    * contract [[prepVectors]]'s scaladoc carries).
    *
    * Results are bit-identical with and without preparation: the same
    * expressions over the same values, merely evaluated once.
    */
  val NormCol = "__graft_norm"
  val SigCol = "__graft_sig"

  /** Attach [[NormCol]] (always) and [[SigCol]] (when `sigPlanes` > 0)
    * to `df`. Callers checkpoint the result once and feed it to any mix
    * of top-k methods; see the convention note at [[NormCol]].
    */
  def prepVectors(df: DataFrame, vecCol: String,
                  sigPlanes: Int = 0, dims: Int = 0): DataFrame = {
    val withNorm = df.withColumn(NormCol, norm(col(vecCol)))
    if (sigPlanes <= 0) withNorm
    else {
      // the prepared width AND dims ride as column METADATA: a consumer
      // asking for MORE planes than were prepared fails loudly in sigOf
      // instead of silently slicing a too-short prefix (merged buckets),
      // and a consumer evaluating under DIFFERENT dims — planeWeights
      // depend on dims, so the prepared bits would be the wrong
      // hyperplanes entirely — falls back to computing its own signature
      val meta = new org.apache.spark.sql.types.MetadataBuilder()
        .putLong("graft.sig.planes", sigPlanes.toLong)
        .putLong("graft.sig.dims", dims.toLong).build()
      withNorm.withColumn(SigCol,
        lshBucket(col(vecCol), sigPlanes, dims).as(SigCol, meta))
    }
  }

  /** The column names of one side of a pair: (id, vector, norm). Top-k
    * methods pair queries [[Q]] with candidates [[C]]; the near-dup pair
    * finders pair [[Pair1]] with [[Pair2]].
    */
  private final case class Role(id: String, v: String, n: String)
  private val Q = Role("query_id", "qv", "qn")
  private val C = Role("neighbor_id", "cv", "cn")
  private val Pair1 = Role("id1", "v1", "n1")
  private val Pair2 = Role("id2", "v2", "n2")

  /** One side's float projection (id, vec, norm), honoring a prepared
    * [[NormCol]]. `extra` columns are evaluated in the same select, so a
    * prepared [[SigCol]] is still resolvable for [[sigOf]].
    */
  private def side(df: DataFrame, idCol: String, vecCol: String, r: Role,
                   extra: Column*): DataFrame = {
    val n = if (df.columns.contains(NormCol)) col(NormCol) else norm(col(vecCol))
    df.select(Seq(col(idCol).as(r.id), col(vecCol).as(r.v), n.as(r.n)) ++ extra: _*)
  }

  /** One side's int8 projection: the [[quantizeInt8]] vector and its
    * integer norm. A prepared [[NormCol]] is the float norm, the wrong
    * denominator here, so it is not used.
    */
  private def int8Side(df: DataFrame, idCol: String, vecCol: String, r: Role,
                       extra: Column*): DataFrame =
    df.select(Seq(col(idCol).as(r.id), col(vecCol).as("__v"),
        vecMaxAbs(col(vecCol)).as("__mx")) ++ extra: _*)
      .withColumn(r.v, quantizeInt8With(col("__v"), col("__mx")))
      .drop("__v", "__mx")
      .withColumn(r.n, sqrt(intDot(col(r.v), col(r.v)).cast("double")))

  /** The candidate side as PQ reconstructions ([[pqReconFrame]]) and
    * their norms.
    */
  private def pqSide(candidates: DataFrame, idCol: String, vecCol: String,
                     m: Int, codebook: Seq[(Int, Int, Seq[Double])]): DataFrame =
    pqReconFrame(candidates, idCol, vecCol, m, codebook)
      .select(col(C.id), col("rv").as(C.v), norm(col("rv")).as(C.n))

  /** The `planes`-bit signature, honoring a prepared (wider-or-equal)
    * signature column via the prefix property documented at [[NormCol]].
    * Must be evaluated against the frame that still CARRIES [[SigCol]]
    * (i.e. inside the same select that projects it away).
    *
    * Reuse requires the `graft.sig` metadata to be PRESENT and its dims
    * to MATCH: stripped metadata (an intermediate transform can drop it)
    * means the prepared width is unverifiable, and a dims mismatch means
    * the prepared bits came from different hyperplanes — both cases
    * recompute the signature inline (correct, merely unshared) instead
    * of trusting a column whose provenance can't be checked (ADVICE
    * r10). Only a VERIFIED-prepared column that is too narrow fails
    * loudly: the caller explicitly prepared for reuse and under-asked.
    */
  private def sigOf(df: DataFrame, vecCol: String, planes: Int, dims: Int): Column = {
    val meta =
      if (df.columns.contains(SigCol)) Some(df.schema(SigCol).metadata) else None
    val verified = meta.exists(m =>
      m.contains("graft.sig.planes") && m.contains("graft.sig.dims") &&
        m.getLong("graft.sig.dims") == dims.toLong)
    if (verified) {
      val prepared = meta.get.getLong("graft.sig.planes")
      require(prepared >= planes,
        s"prepared signature has $prepared planes but $planes were " +
          "requested — a short prefix would silently merge buckets; " +
          s"prepVectors with sigPlanes >= $planes")
      substring(col(SigCol), 1, planes)
    } else lshBucket(col(vecCol), planes, dims)
  }

  /** The `planes`-bit signature ([[sigOf]]) cut into `nBands` contiguous
    * bands: one (id, band, bh) row per band. Two vectors are band
    * candidates when they share any (band, bh).
    */
  private def bandRows(df: DataFrame, idCol: String, vecCol: String, id: String,
                       planes: Int, nBands: Int, dims: Int): DataFrame = {
    require(planes % nBands == 0, "planes must divide into equal bands")
    val w = planes / nBands
    val bandCols = (0 until nBands).map { b =>
      struct(lit(b).as("band"), substring(col("__sig"), b * w + 1, w).as("bh"))
    }
    df.select(col(idCol).as(id), sigOf(df, vecCol, planes, dims).as("__sig"))
      .select(col(id), explode(array(bandCols: _*)).as("bb"))
      .select(col(id), col("bb.band").as("band"), col("bb.bh").as("bh"))
  }

  /** Exact brute-force cosine top-k: for each query vector, the k nearest
    * candidates by cosine (desc), ties broken by candidate id. The
    * candidate side is the big one — queries broadcast, and the heap
    * aggregate ([[topKPerQuery]]) cuts each partition to k rows per query
    * before the only exchange.
    *
    * Norms are computed ONCE per side before the join (N+Q sqrt-dots
    * instead of 3·N·Q per-pair) — bit-identical to the per-pair formula
    * since the fold order is unchanged.
    */
  def bruteForceTopK(queries: DataFrame, candidates: DataFrame,
                     idCol: String, vecCol: String, k: Int,
                     maxRows: Long = DefaultQuadraticMaxRows): DataFrame = {
    requireSmall(candidates, maxRows, "bruteForceTopK",
      "ivfTopK/probeIvfIndexBatch (IVF) or lshTopK (hyperplane LSH)")
    rankPairs(side(candidates, idCol, vecCol, C)
      .crossJoin(broadcast(side(queries, idCol, vecCol, Q))), k)
  }

  /** Deterministic ±1 hyperplane weights: dimension i of plane p follows the
    * high bit of hex digit (i mod 32)+1 of md5("plane<p>_<i/32>"). Computed
    * once at plan-build time; both the Spark plan and the generated oracle
    * SQL inline the same constants.
    */
  def planeWeights(plane: Int, dims: Int): Seq[Double] = {
    val hex = (0 to (dims - 1) / 32).map { blk =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"plane${plane}_$blk".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    }.mkString
    (0 until dims).map(i => if (Character.digit(hex.charAt(i), 16) >= 8) 1.0 else -1.0)
  }

  /** Random-hyperplane LSH bucket signature: one bit per plane, bit p = 1
    * iff dot(v, plane_p) >= 0. Narrow per-row transform.
    */
  def lshBucket(vec: Column, planes: Int, dims: Int): Column = {
    val bitCols = (0 until planes).map { p =>
      val w = array(planeWeights(p, dims).map(lit): _*)
      when(dot(vec, w) >= 0, lit("1")).otherwise(lit("0"))
    }
    concat(bitCols: _*)
  }

  /** LSH-bucketed approximate top-k: candidates restricted to the query's
    * bucket. Recall < 1 by construction; the join is on bucket equality, so
    * cost scales with bucket occupancy (corpus/2^planes on balanced data)
    * instead of the full corpus.
    */
  def lshTopK(queries: DataFrame, candidates: DataFrame, idCol: String,
              vecCol: String, k: Int, planes: Int, dims: Int): DataFrame = {
    def bucketed(df: DataFrame, r: Role) =
      side(df, idCol, vecCol, r, sigOf(df, vecCol, planes, dims).as("bucket"))
    rankPairs(bucketed(candidates, C).join(broadcast(bucketed(queries, Q)), Seq("bucket")), k)
  }

  /** MULTI-PROBE LSH top-k (Lv et al., VLDB'07's idea at hamming radius
    * 1): each query probes its own hyperplane bucket AND every bucket one
    * bit-flip away — the near neighbors single-bucket LSH loses are
    * overwhelmingly in signatures differing by exactly the one plane the
    * neighbor sat closest to, so radius-1 probing multiplies recall for a
    * (planes+1)× candidate cost instead of the 2^planes× of fewer planes.
    * A candidate owns exactly ONE bucket while a query's probe set holds
    * planes+1 DISTINCT buckets, so each (query, candidate) pair joins at
    * most once — no dedup stage. The probe side (queries × (planes+1))
    * stays broadcast; corpus cost is unchanged bucket-join cost.
    */
  def lshTopKMultiProbe(queries: DataFrame, candidates: DataFrame,
                        idCol: String, vecCol: String, k: Int,
                        planes: Int, dims: Int): DataFrame = {
    def flipAt(b: Column, i: Int): Column = concat(
      substring(b, 1, i - 1),
      when(substring(b, i, 1) === "1", lit("0")).otherwise(lit("1")),
      substring(b, i + 1, planes - i))
    val probes = side(queries, idCol, vecCol, Q,
        sigOf(queries, vecCol, planes, dims).as("__b"))
      .select(col(Q.id), col(Q.v), col(Q.n), explode(array(col("__b") +:
        (1 to planes).map(i => flipAt(col("__b"), i)): _*)).as("bucket"))
    val c = side(candidates, idCol, vecCol, C,
      sigOf(candidates, vecCol, planes, dims).as("bucket"))
    rankPairs(c.join(broadcast(probes), Seq("bucket")), k)
  }

  /** BANDED (OR-amplified) hyperplane-LSH top-k — the production recall
    * setting single-bucket [[lshTopK]] and radius-1 [[lshTopKMultiProbe]]
    * motivate: the `planes`-bit signature splits into `nBands` contiguous
    * bands of r = planes/nBands bits, and a candidate joins a query when
    * they agree on ANY full band (AND within a band, OR across bands —
    * the classic s-curve construction, same shape as
    * [[lshNearDupPairs]]/[[graft.ops.Dedup.lshBands]]).
    *
    * Tuning math (p = P(one plane agrees) = 1 − θ/π): recall per true
    * neighbor = 1 − (1 − p^r)^b, and on uniformly-bucketed data the
    * candidate fraction ≈ 1 − (1 − 2^-r)^b. More bands buys recall at
    * linear probe cost; wider bands cuts cost exponentially but demands
    * high p. Real near-dup corpora (cos ≥ 0.8 → p ≥ 0.85) run wide-band
    * configs like r=8, b=16 (recall ≈ 0.97 at ~6% of the corpus probed);
    * weakly-similar targets force narrow bands — see the honest cost
    * statement at [[graft.queries.ExtendedQueries]]'s AnnRecallFloors.
    *
    * Scale shape: the pair search is a band-bucket equi-join producing
    * NARROW (query_id, neighbor_id) rows (a pair agreeing in several
    * bands collapses in the distinct BEFORE any vector rides a shuffle);
    * exact cosines attach by one id-keyed join against the candidate
    * side and a broadcast of the query side. At corpus scale the banded
    * signature table is the thing you persist (the Dedup LSM band index
    * stores exactly this layout) so the signature pass is paid once.
    */
  def lshTopKBanded(queries: DataFrame, candidates: DataFrame,
                    idCol: String, vecCol: String, k: Int,
                    planes: Int, nBands: Int, dims: Int): DataFrame = {
    def bands(df: DataFrame, r: Role) =
      bandRows(df, idCol, vecCol, r.id, planes, nBands, dims)
    val cands = bands(candidates, C).join(broadcast(bands(queries, Q)), Seq("band", "bh"))
      .select(Q.id, C.id).distinct()
    rankPairs(cands.join(side(candidates, idCol, vecCol, C), Seq(C.id))
      .join(broadcast(side(queries, idCol, vecCol, Q)), Seq(Q.id)), k)
  }

  /** The one ranking step every top-k method ends in. `pairs` carries
    * both sides' columns ([[Q]] and [[C]], built by [[side]],
    * [[int8Side]] or [[pqSide]]); self-pairs are dropped, each pair is
    * scored by `scorer` from the two vectors and the two side norms, and
    * the k best per query are kept. Output: (query_id, neighbor_id,
    * rank, `scoreCol`), scoreCol defaulting to the scorer's own name.
    */
  private def rankPairs(pairs: DataFrame, k: Int, scorer: VecScore = CosineScore,
                        scoreCol: Option[String] = None): DataFrame = {
    val sc = scoreCol.getOrElse(scorer.scoreCol)
    topKPerQuery(pairs.filter(col(Q.id) =!= col(C.id))
      .withColumn(sc, scorer.withNorms(col(Q.v), col(C.v), col(Q.n), col(C.n))), sc, k)
  }

  /** Top-k per query via the heap aggregate ([[graft.functions.TopKByScore]])
    * instead of a rank window — the shared tail of every ranking method
    * (guide §4: the codegen-unfriendly per-partition SORT leaves the hot
    * path). The window formulation exchanges ALL scored candidates on
    * query_id and sorts each partition; the aggregate reduces every map
    * partition to ≤ k rows per query BEFORE the exchange and never sorts.
    * Ordering contract is identical — (score desc, id asc) under Spark's
    * double ordering, so a NaN score (a zero-norm vector's cosine) ranks
    * first as it does in a `DESC` sort, ids unique per query in every
    * caller — so rows, ranks, and scores hash-match the window form bit
    * for bit (pinned per method by the ann_* oracles).
    */
  private def topKPerQuery(scored: DataFrame, scoreCol: String, k: Int): DataFrame = {
    import graft.functions.GraftFunctions.graft_topk
    scored.groupBy(Q.id)
      .agg(graft_topk(col(scoreCol), col(C.id), k).as("__top"))
      .select(col(Q.id), posexplode(col("__top")).as(Seq("__pos", "__t")))
      .select(col(Q.id), col("__t.id").as(C.id),
        (col("__pos") + 1).cast("int").as("rank"),
        col("__t.score").as(scoreCol))
  }

  /** IVF-style approximate top-k: a deterministic coarse quantizer (the
    * first `nCentroids` vectors by id — a real system trains k-means; the
    * index structure, not the centroid quality, is what scales) assigns
    * every vector to its nearest centroid, and each query probes ONLY its
    * own centroid's inverted list. Cost per query drops from N to
    * N/nCentroids on balanced lists — the classic IVF trade of recall for
    * a bucket-join instead of a cross product.
    */
  def ivfTopK(queries: DataFrame, candidates: DataFrame, idCol: String,
              vecCol: String, k: Int, nCentroids: Int,
              scorer: VecScore = CosineScore): DataFrame =
    ivfTopKWith(queries, candidates, idCol, vecCol, k,
      candidates.filter(col(idCol) < nCentroids)
        .select(col(idCol).as("cent_id"), col(vecCol).as("cent_v")), scorer)

  /** Lloyd's k-means for IVF centroid training — the drop-in replacement
    * for [[ivfTopK]]'s deterministic sampler when centroid quality
    * matters. Pure Spark dataflow per round: broadcast centroids →
    * nearest-centroid assignment by cosine (the same shape as ivfTopK's
    * probe) → per-dimension mean via posexplode + (cluster, dim) hash-agg
    * (D× row blowup, collapsed map-side before the shuffle).
    *
    * Centroids are collected to the driver between rounds — k·D doubles,
    * index metadata, bounded by construction (this is NOT a driver-side
    * data loop); it also keeps each round's lineage flat. Deterministic:
    * init = `seed` when given (a (cent_id, cent_v array<double>) frame —
    * [[buildIvfIndexAuto]] passes its hash-ordered sample so Lloyd
    * rounds start from a spread seed, not an id-prefix one), else the
    * first k vectors by id; assignment ties break on centroid id,
    * clusters that lose all members keep their previous centroid.
    * Output: (cent_id, cent_v) with cent_v array<double>.
    */
  def kmeansCentroids(df: DataFrame, idCol: String, vecCol: String,
                      k: Int, iters: Int = 5,
                      seed: Option[DataFrame] = None,
                      scorer: VecScore = CosineScore): DataFrame = {
    val spark = df.sparkSession
    val dvec = transform(col(vecCol), x => x.cast("double"))
    var cents: Seq[(Int, Seq[Double])] = seed match {
      case Some(sdf) => sdf.select(col("cent_id"), col("cent_v")).collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1)).toIndexedSeq
      case None => df.orderBy(col(idCol)).limit(k)
        .select(dvec.as("v")).collect()
        .zipWithIndex.map { case (r, i) => i -> r.getSeq[Double](0) }.toIndexedSeq
    }
    for (_ <- 0 until iters) {
      val scored = df.select(col(idCol).as("__rid"), dvec.as("v"))
        .crossJoin(broadcast(centroidFrame(spark, cents)))
        .withColumn("__cs", scorer.raw(col("v"), col("cent_v")))
      val assigned = assignNearest(scored, "__rid", Seq("v"))
        .select(col("cent_id"), col("v"))
      val means = assigned
        .select(col("cent_id"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy("cent_id", "dim").agg(avg("x").as("m"))
        .groupBy("cent_id")
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("m")))),
          s => s.getField("m")).as("cent_v"))
        .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
      cents = cents.map { case (i, old) => i -> means.getOrElse(i, old) }
    }
    centroidFrame(spark, cents)
  }

  private def centroidFrame(spark: org.apache.spark.sql.SparkSession,
                            cents: Seq[(Int, Seq[Double])]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      cents.map { case (i, v) => org.apache.spark.sql.Row(i, v) }.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("cent_id",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("cent_v",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType), nullable = false))))
  }

  /** Nearest-centroid pick as ONE hash aggregation: per id keep the
    * centroid maximizing (cosine, then lowest cent_id) via `max_by` over
    * an orderable struct. Map-side partial aggregation collapses the N·k
    * scored rows to one row per id BEFORE any exchange — the row_number
    * window this replaces shuffled and sorted all N·k rows. `carry`
    * columns (constant per id) ride through with first(). Tie-break is
    * identical to the window form: the struct's second field is the
    * NEGATED centroid id, so equal cosines resolve to the lowest id.
    */
  private def assignNearest(scored: DataFrame, id: String,
                            carry: Seq[String]): DataFrame = {
    val aggs = max_by(col("cent_id"),
        struct(col("__cs"), (-col("cent_id")).as("__nid"))).as("cent_id") +:
      carry.map(c => first(col(c)).as(c))
    scored.groupBy(col(id)).agg(aggs.head, aggs.tail: _*)
  }

  /** [[ivfTopK]] with externally-supplied centroids (e.g. trained by
    * [[kmeansCentroids]]): identical probe structure — broadcast-assign
    * both sides, equi-join on the centroid id — only the quantizer
    * changes.
    */
  def ivfTopKWith(queries: DataFrame, candidates: DataFrame, idCol: String,
                  vecCol: String, k: Int, centroids: DataFrame,
                  scorer: VecScore = CosineScore): DataFrame = {
    val cents = centroids.select(col("cent_id"), col("cent_v"))
    def assigned(df: DataFrame, r: Role): DataFrame =
      assignNearest(side(df, idCol, vecCol, r).crossJoin(broadcast(cents))
        .withColumn("__cs", scorer(col(r.v), col("cent_v"))), r.id, Seq(r.v, r.n))
    rankPairs(assigned(candidates, C)
      .join(broadcast(assigned(queries, Q)), Seq("cent_id")), k, scorer)
  }

  /** The composed scale path: LSH bucketing (on the float vectors) to cut
    * candidates, int8 quantization to score them — "quantize the bucketed
    * candidates, not the other way around" (bucketing on quantized vectors
    * would move bucket boundaries; quantizing bucketed candidates only
    * perturbs ranks within a bucket).
    *
    * The bucket goes through [[sigOf]], so a prepared [[SigCol]] is
    * reused; a prepared [[NormCol]] is not, since scores use the integer
    * norms of [[int8Side]].
    */
  def lshQuantizedTopK(queries: DataFrame, candidates: DataFrame,
                       idCol: String, vecCol: String, k: Int,
                       planes: Int, dims: Int): DataFrame = {
    def bucketed(df: DataFrame, r: Role) =
      int8Side(df, idCol, vecCol, r, sigOf(df, vecCol, planes, dims).as("bucket"))
    rankPairs(bucketed(candidates, C).join(broadcast(bucketed(queries, Q)), Seq("bucket")), k)
  }

  /** Build a persisted IVF index: assign every candidate to its nearest
    * centroid and write parquet PARTITIONED BY the list id. Probing then
    * touches only the probed lists' directories (partition pruning at the
    * scan — see [[probeIvfIndex]]), which is what separates "ANN over a
    * table" from "ANN over an index" at 100 TB: the build cost is paid
    * once, and each query reads corpus/nCentroids bytes, not the corpus.
    */
  def buildIvfIndex(candidates: DataFrame, idCol: String, vecCol: String,
                    centroids: DataFrame, path: String,
                    scorer: VecScore = CosineScore): Unit =
    writeIvfIndex(candidates, idCol, vecCol, centroids, path, "overwrite",
      scorer)

  /** Deployment sizing rule for the IVF list count: √N. Per-query probe
    * work is N/lists rows per probed list while quantizer work (assigning
    * a query) is `lists` comparisons — √N balances the two, the standard
    * IVF operating point. At FIXED lists the probe curve is linear in the
    * corpus (the measured 0.66 exponent at nCentroids = 64 in
    * docs/scale_curves.json is that by design); growing lists with √N is
    * what restores the √N per-query cost a deployment actually runs.
    */
  def suggestedIvfLists(n: Long): Int =
    math.max(1, math.round(math.sqrt(n.toDouble)).toInt)

  /** [[buildIvfIndex]] with [[suggestedIvfLists]] applied automatically:
    * counts the corpus, seeds √N deterministic centroids, optionally
    * refines them with Lloyd rounds, builds the partitioned index, and
    * RETURNS the centroid frame (checkpointed — the quantizer is part of
    * the index contract; callers release it when done probing).
    *
    * The seed is a HASH-ORDERED sample — the √N vectors minimizing
    * `md5(id)` — NOT "first √N by id" (VERDICT r10 #4): on
    * id-correlated corpora (time-ordered embeddings, sorted ingest) an
    * id-prefix seed concentrates every centroid in one region of the
    * space, which skews list sizes and recreates exactly the hot-list
    * skew the √N sizing exists to kill. The hash order is deterministic
    * across runs and partitionings, and `orderBy(...).limit(lists)`
    * plans as TakeOrdered — one O(N) scan keeping √N rows per
    * partition, no full sort. List-size balance under a sorted-id
    * fixture is pinned by ExtendedOpsSpec. md5 over the id's decimal
    * string — the repo's ENGINE-PORTABLE hash convention
    * ([[Sampling.sampleByHash]]) — rather than xxhash64, so an oracle
    * can replay the seed selection bit-identically and the
    * `ann_ivf_auto_recall` row can gate the WHOLE auto path (sizing,
    * seeding, assignment, calibrated probe) end to end.
    *
    * `kmeansIters > 0` is the centroid-QUALITY option: Lloyd rounds
    * ([[kmeansCentroids]], seeded with the hash sample) over a bounded
    * hash-sample of the corpus (≤ `kmeansSampleRows`) — pay ~iters
    * assignment passes over the sample at build time to tighten the
    * lists a real deployment probes forever after.
    */
  def buildIvfIndexAuto(candidates: DataFrame, idCol: String, vecCol: String,
                        path: String, kmeansIters: Int = 0,
                        kmeansSampleRows: Long = 50000L,
                        scorer: VecScore = CosineScore): DataFrame = {
    val n = candidates.count()
    val lists = suggestedIvfLists(n)
    // lists rows total: the single-partition window is bounded metadata
    val hashOrd = Seq(md5(col(idCol).cast("string")), col(idCol))
    val w = Window.orderBy(hashOrd: _*)
    val seed = candidates.orderBy(hashOrd: _*).limit(lists)
      .select((row_number().over(w) - 1).as("cent_id"),
        transform(col(vecCol), x => x.cast("double")).as("cent_v"))
    val cents = (
      if (kmeansIters <= 0) seed
      else {
        val frac = math.min(1.0, kmeansSampleRows.toDouble / math.max(n, 1L))
        val sample = if (frac >= 1.0) candidates
          else graft.ops.Sampling.sampleByHash(candidates, idCol, frac)
        kmeansCentroids(sample, idCol, vecCol, lists, kmeansIters,
          seed = Some(seed), scorer = scorer)
      }).localCheckpoint()
    buildIvfIndex(candidates, idCol, vecCol, cents, path, scorer)
    cents
  }

  /** Calibrate the smallest `nProbe` meeting `recallTarget` against a
    * persisted IVF index — the RECALL-TARGETED auto-rule for the probe
    * width (VERDICT r11 #4). The √N auto-sizing balances probe work
    * against quantizer work, but on a corpus with little cluster
    * structure a fine √N partitioning caps SINGLE-probe recall near
    * nProbe/lists (measured 0.08–0.15 at √N lists on the synthetic
    * bench corpus, NOTES round-12 staging) — so shipping `nProbe = 1`
    * by default silently ships low recall at scale. This measures the
    * real curve instead of guessing:
    *
    *  1. ground truth: exact top-k of each `sampleQueries` row over the
    *     INDEX contents (one bounded Q×N scored pass);
    *  2. for every true neighbor, the RANK of its inverted list in the
    *     query's centroid preference order;
    *  3. recall(nProbe) = the cumulative fraction of true neighbors
    *     whose list rank ≤ nProbe — a ≤ lists-row table, collected;
    *  4. return the smallest rank reaching `recallTarget` (the full
    *     list count when the target is unreachable — brute-force
    *     equivalent, loud by size).
    *
    * Cost: one scored pass of sample queries × corpus at BUILD time —
    * paid once per index, like the Lloyd refinement option. On clustered
    * corpora the curve saturates early and the calibrated nProbe is
    * small; on unstructured corpora it honestly reports that high recall
    * costs a wide probe (recall ≈ probed fraction — no IVF layout can
    * beat that without structure). Deterministic: same rounding and
    * tie-breaks as the probe itself, so an oracle can replay the
    * calibration closed-form (`ann_ivf_auto_recall`).
    */
  def calibrateNProbe(spark: org.apache.spark.sql.SparkSession, path: String,
                      sampleQueries: DataFrame, idCol: String, vecCol: String,
                      centroids: DataFrame, k: Int,
                      recallTarget: Double,
                      scorer: VecScore = CosineScore): Int = {
    require(recallTarget > 0 && recallTarget <= 1.0,
      s"recallTarget must be in (0, 1]: $recallTarget")
    // calibrating under a metric the index wasn't built with measures a
    // meaningless recall curve — enforce like the probes do (no-op when
    // no scorer is recorded, e.g. mid-build before the sidecar lands)
    requireScorerMatches(spark, path, scorer)
    val nLists = centroids.count().toInt // bounded: the quantizer size
    val q = side(sampleQueries, idCol, vecCol, Q)
    // each sample query's lists in the probe's own preference order, so
    // rank r here IS "the r-th list the probe would read"
    val qrank = listOrder(q, centroids, scorer).select(Q.id, "cent_id", "lrank")
    val indexed = spark.read.parquet(path)
    // exact ground truth through the shared ranking step rather than
    // bruteForceTopK: that operator's requireSmall guards its CANDIDATES
    // (all-pairs hazard), but calibration is Q×N — linear in the corpus
    // for a bounded sample — so the guard belongs on the broadcast query
    // sample instead.
    val nQ = q.count()
    require(nQ <= 10000L,
      s"calibration sample too large to broadcast: $nQ queries (cap " +
        "10000) — calibrate on a hash-sample of the intended query load")
    // pinned: consumed twice (total + the rank join) — without the pin
    // the Q×N scoring pass would execute twice
    val truth = rankPairs(side(indexed, "vec_id", "v", C).crossJoin(broadcast(q)),
        k, scorer)
      .select(Q.id, C.id)
      .localCheckpoint()
    val total = truth.count().toDouble
    // list rank of every true neighbor's home list → hit counts per rank
    // (≤ lists rows: bounded driver-side metadata)
    val hits =
      if (total == 0) Array.empty[org.apache.spark.sql.Row]
      else truth
        .join(indexed.select(col("vec_id").as(C.id), col("cent_id")), Seq(C.id))
        .join(qrank, Seq(Q.id, "cent_id"))
        .groupBy("lrank").agg(count(lit(1)).as("n"))
        .orderBy("lrank").collect()
    CacheControl.release(truth)
    if (total == 0) return 1
    var cum = 0L
    for (r <- hits) {
      cum += r.getAs[Long]("n")
      if (cum / total >= recallTarget) return r.getAs[Int]("lrank")
    }
    nLists
  }

  /** [[calibrateNProbe]] + persist the result as the index's operating
    * point: a `_ivf_meta.json` sidecar next to the lists (underscore —
    * invisible to parquet listings) recording the calibrated width, the
    * target it hit, and k. Completes the index contract: like the
    * quantizer, the probe width is a BUILD-time output a deployment
    * loads with the index ([[recordedNProbe]]) instead of a per-caller
    * guess — the nProbe=1 default ships ~1/lists recall on unstructured
    * corpora (the `ann_ivf_auto_recall` lesson).
    */
  def calibrateAndRecord(spark: org.apache.spark.sql.SparkSession, path: String,
                         sampleQueries: DataFrame, idCol: String, vecCol: String,
                         centroids: DataFrame, k: Int,
                         recallTarget: Double,
                         scorer: VecScore = CosineScore): Int = {
    val np = calibrateNProbe(spark, path, sampleQueries, idCol, vecCol,
      centroids, k, recallTarget, scorer)
    recordIvfMeta(spark, path,
      s"""{"n_probe":$np,"recall_target":$recallTarget,"k":$k,""" +
        s""""scorer":"${scorer.name}"}""")
    np
  }

  /** Publish the `_ivf_meta.json` sidecar ATOMICALLY ([[AtomicPointer]]
    * — write-tmp + rename-overwrite, the same pointer-commit discipline
    * the graph/LSM indexes use): the previous in-place
    * `fs.create(p, true)` let a reader loading the operating point
    * mid-recalibration see a torn or absent sidecar (VERDICT r12 nit).
    * Factored out of [[calibrateAndRecord]] so the concurrency spec can
    * race publishes against [[recordedNProbe]] reads without paying a
    * calibration per iteration.
    */
  private[ops] def recordIvfMeta(spark: org.apache.spark.sql.SparkSession,
                                 path: String, json: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path, "_ivf_meta.json")
    AtomicPointer.publish(spark, path, p, json)
  }

  /** The recorded probe width from a [[calibrateAndRecord]] sidecar —
    * None for an uncalibrated index (callers then choose explicitly).
    * Read through [[AtomicPointer.read]]: existence is re-checked per
    * attempt and the replace-window's transient shapes (stale checksum,
    * EOF, a missing-field torn read surfaced as NumberFormatException)
    * retry bounded instead of surfacing to the caller.
    */
  def recordedNProbe(spark: org.apache.spark.sql.SparkSession,
                     path: String): Option[Int] = {
    val p = new org.apache.hadoop.fs.Path(path, "_ivf_meta.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    AtomicPointer.read(fs, p, s =>
      """"n_probe":(\d+)""".r.findFirstMatchIn(s).map(_.group(1).toInt)
        .getOrElse(throw new NumberFormatException(
          s"torn or foreign _ivf_meta.json (no n_probe): $s")))
  }

  /** The score function an index was BUILT under — the other half of
    * the index contract next to the quantizer: assignment of vectors to
    * lists depends on the metric, so probing an L2-built index with
    * cosine reads the wrong lists. [[rebuildIvfIndexAuto]] persists it
    * as `_ivf_scorer.json` inside each generation; absent (indexes
    * built before the scorer existed, or via the raw [[buildIvfIndex]]
    * path) defaults to cosine — the only metric those builds used.
    */
  def recordedScorer(spark: org.apache.spark.sql.SparkSession,
                     path: String): VecScore = {
    val p = new org.apache.hadoop.fs.Path(path, "_ivf_scorer.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    AtomicPointer.read(fs, p, s =>
      """"scorer":"(\w+)"""".r.findFirstMatchIn(s).map(m => VecScore.byName(m.group(1)))
        .getOrElse(throw new NumberFormatException(
          s"torn or foreign _ivf_scorer.json (no scorer): $s")))
      .getOrElse(CosineScore)
  }

  /** ENFORCE the scorer contract at probe time: a probe whose metric
    * disagrees with the one the index was built under reads the wrong
    * lists and silently ships wrong neighbors — the exact
    * by-construction guarantee the [[VecScore]] family exists for, made
    * loud at the last boundary a caller can cross it. Indexes without a
    * recorded scorer (raw [[buildIvfIndex]] builds, pre-scorer
    * artifacts) accept any metric — there is nothing recorded to
    * contradict. One tiny sidecar read per probe CALL (not per row).
    */
  private def requireScorerMatches(spark: org.apache.spark.sql.SparkSession,
                                   path: String, scorer: VecScore): Unit = {
    val p = new org.apache.hadoop.fs.Path(path, "_ivf_scorer.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) {
      val rec = recordedScorer(spark, path)
      require(rec == scorer,
        s"IVF index at $path was built under '${rec.name}' but the probe " +
          s"asked for '${scorer.name}' — probe with recordedScorer(path), " +
          "or rebuild the index under the intended metric")
    }
  }

  /** Index maintenance: assign a NEW vector batch to the existing
    * centroids and append into the index's list partitions — no rebuild,
    * no touch of existing files; probes immediately see old and new
    * vectors through the same pruned scan. The quantizer (centroids) must
    * be the build's: re-training centroids requires a rebuild, appending
    * with drifted centroids silently degrades recall — that rebuild is
    * [[rebuildIvfIndexAuto]], the generation-committed path.
    */
  def appendIvfIndex(batch: DataFrame, idCol: String, vecCol: String,
                     centroids: DataFrame, path: String,
                     scorer: VecScore = CosineScore): Unit = {
    // same contract enforcement as the probes — but MORE important here:
    // a mismatched probe ships one wrong answer, a mismatched append
    // assigns the batch to the wrong lists and durably corrupts the
    // standing index for every future probe
    requireScorerMatches(batch.sparkSession, path, scorer)
    writeIvfIndex(batch, idCol, vecCol, centroids, path, "append", scorer)
  }

  /** Re-seed/re-train REBUILD of a standing IVF index UNDER LIVE
    * READERS — lifecycle parity with the graph and LSM band indexes
    * (VERDICT r12 #2): build a fresh auto-sized index (hash-ordered
    * re-seed, optional Lloyd rounds, optional recall recalibration)
    * into an immutable generation directory (`root/gen-<n+1>`), persist
    * the QUANTIZER inside the generation (`_centroids` parquet — the
    * index contract travels with the generation, like the `_ivf_meta`
    * operating point), atomically repoint `root/index.current`
    * ([[AtomicPointer]]), and defer GC by one cycle: the previous
    * generation survives until the NEXT rebuild so a reader that
    * resolved the old pointer keeps scanning intact files. Returns the
    * published generation number. Single WRITER at a time (the
    * scheduled-job cadence, [[graft.jobs.IvfIndexMaintenanceJob]]);
    * readers are always safe. In-place [[appendIvfIndex]] remains the
    * cheap same-quantizer growth path WITHIN a generation.
    */
  def rebuildIvfIndexAuto(candidates: DataFrame, idCol: String, vecCol: String,
                          root: String, kmeansIters: Int = 0,
                          sampleQueries: Option[DataFrame] = None,
                          k: Int = 5, recallTarget: Double = 0.9,
                          scorer: VecScore = CosineScore): Long = {
    val spark = candidates.sparkSession
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ptr = new org.apache.hadoop.fs.Path(root, "index.current")
    val cur = AtomicPointer.read(fs, ptr, _.trim.toLong).getOrElse(0L)
    val next = cur + 1L
    val genPath = s"$root/gen-$next"
    val cents = buildIvfIndexAuto(candidates, idCol, vecCol, genPath,
      kmeansIters, scorer = scorer)
    // underscore prefix: invisible to the partitioned parquet listing,
    // like _ivf_meta.json
    cents.write.mode("overwrite").parquet(s"$genPath/_centroids")
    // the metric is part of the generation's contract like the quantizer
    // — a probe must score the way the lists were assigned
    AtomicPointer.publish(spark, genPath,
      new org.apache.hadoop.fs.Path(genPath, "_ivf_scorer.json"),
      s"""{"scorer":"${scorer.name}"}""")
    sampleQueries.foreach { sq =>
      calibrateAndRecord(spark, genPath, sq, idCol, vecCol, cents,
        k, recallTarget, scorer): Unit
    }
    CacheControl.release(cents)
    AtomicPointer.publish(spark, root, ptr, next.toString)
    // one-cycle deferred GC: gen-(next-1) stays for in-flight readers
    if (fs.exists(new org.apache.hadoop.fs.Path(root)))
      fs.listStatus(new org.apache.hadoop.fs.Path(root))
        .filter(_.isDirectory)
        .map(_.getPath)
        .filter { p =>
          p.getName.startsWith("gen-") &&
            p.getName.stripPrefix("gen-").toLongOption.exists(_ < next - 1)
        }
        .foreach(p => fs.delete(p, true): Unit)
    next
  }

  /** Resolve `root/index.current` and return the published generation's
    * (index path, persisted centroid frame) — the reader half of
    * [[rebuildIvfIndexAuto]]'s pointer commit. Probe with
    * [[probeIvfIndexBatch]] over the returned path/centroids;
    * [[recordedNProbe]] on the path yields the generation's calibrated
    * operating point when one was recorded.
    */
  def loadIvfIndexCurrent(spark: org.apache.spark.sql.SparkSession,
                          root: String): (String, DataFrame) = {
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val g = AtomicPointer
      .read(fs, new org.apache.hadoop.fs.Path(root, "index.current"),
        _.trim.toLong)
      .getOrElse(throw new IllegalStateException(
        s"no IVF index published at $root — run rebuildIvfIndexAuto first"))
    val genPath = s"$root/gen-$g"
    (genPath, spark.read.parquet(s"$genPath/_centroids"))
  }

  private def writeIvfIndex(candidates: DataFrame, idCol: String, vecCol: String,
                            centroids: DataFrame, path: String, mode: String,
                            scorer: VecScore = CosineScore): Unit = {
    val cents = centroids.select(col("cent_id"), col("cent_v"))
    val scored = candidates
      .select(col(idCol).as("vec_id"), col(vecCol).as("v"))
      .crossJoin(broadcast(cents))
      .withColumn("__cs", scorer(col("v"), col("cent_v")))
    assignNearest(scored, "vec_id", Seq("v"))
      .select(col("vec_id"), col("v"), col("cent_id"))
      // organize-on-write: co-locate each inverted list before the
      // partitioned write (one file per list per writer that owns it,
      // not per task) — a probe opens O(1) files per probed list
      .repartition(col("cent_id"))
      .write.mode(mode).partitionBy("cent_id").parquet(path)
  }

  /** Probe a persisted IVF index for one query vector's top-k: the
    * one-row case of [[probeIvfIndexBatch]] at `nProbe = 1`, so the scan
    * reads only the query's nearest list (a `cent_id` partition filter in
    * the plan). Output: (query_id, neighbor_id, score column) in rank
    * order.
    */
  def probeIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                    queryId: Long, queryVec: Seq[Float],
                    centroids: DataFrame, k: Int,
                    scorer: VecScore = CosineScore): DataFrame = {
    import spark.implicits._
    probeIvfIndexBatch(spark, path, Seq((queryId, queryVec)).toDF(Q.id, Q.v),
        Q.id, Q.v, centroids, k, scorer = scorer)
      .orderBy("rank").select(Q.id, C.id, scorer.scoreCol)
  }

  /** Probe a persisted IVF index for a whole BATCH of query vectors in one
    * pass: assign every query to its `nProbe` nearest lists, read those
    * lists through one `cent_id IN (…)` partition-pruned scan, and rank
    * each query's candidates on the shared heap tail — one scan + one join
    * instead of Q per-query scans and driver round-trips.
    *
    * A call's fixed cost follows the lists it probes, not the index:
    *  - one bounded collect of the assignment decides the broadcast gate,
    *    gives the probed list ids and becomes the broadcast side (a local
    *    relation), so the caller's query plan executes once per call;
    *  - the scan lists only the probed lists' `cent_id=` directories, read
    *    under `basePath` so `cent_id` stays a partition column. A probed
    *    list with no directory holds no vectors and is skipped. Listing is
    *    per call, so appends are visible to the next probe.
    */
  def probeIvfIndexBatch(spark: org.apache.spark.sql.SparkSession, path: String,
                         queries: DataFrame, idCol: String, vecCol: String,
                         centroids: DataFrame, k: Int, nProbe: Int = 1,
                         maxBroadcastRows: Long = 100000L,
                         scorer: VecScore = CosineScore): DataFrame = {
    require(nProbe >= 1, s"nProbe must be >= 1: $nProbe")
    requireScorerMatches(spark, path, scorer)
    // nProbe > 1 is the IVF recall knob: candidates near a Voronoi
    // boundary live in a neighboring list, so recall rises with probed
    // lists at a cost of nProbe/nCentroids of the index per batch.
    val assigned = listOrder(side(queries, idCol, vecCol, Q), centroids, scorer)
      .filter(col("lrank") <= nProbe).drop("lrank")
    // `assigned` is CALLER-sized (batch × nProbe, raw vectors riding
    // along), and an UNGUARDED broadcast of caller data is the classic
    // 100 TB OOM (VERDICT r11 #3): the gate admits maxBroadcastRows/nProbe
    // query rows. A query has at most nProbe rows, so a collect capped at
    // (that cap + 1) · nProbe rows either is complete and counts the
    // batch, or proves it above the gate: never a silent truncation.
    val rowCap = math.max(1L, maxBroadcastRows / nProbe)
    val limit = math.min((rowCap + 1) * nProbe, Int.MaxValue.toLong).toInt
    val rows = assigned.limit(limit).collect()
    val queryRows =
      if (rows.length < limit) rows.map(_.getAs[Any](Q.id)).distinct.length.toLong
      else rowCap + 1
    val small = probeBroadcastEligible(queryRows * nProbe, maxBroadcastRows)
    // Above the gate: a plain equi-join on cent_id, same rows (spec-
    // pinned), and the assignment runs twice (list ids + join) — at that
    // batch size the pruned index scan dominates either way.
    val listIds =
      if (small) rows.map(_.getAs[Any]("cent_id")).distinct
      else assigned.select("cent_id").distinct().collect().map(_.get(0))
    // The list set is bounded by the CENTROID count. A literal In prunes
    // directories at plan time, but a thousands-literal set (≥1e5-list
    // indexes × wide batches) bloats every serialized plan copy: above
    // ivfInPruneMaxLists the lists reach the scan as a broadcast LEFT SEMI
    // join over the planned assignment, pruned by Spark's dynamic-
    // partition-pruning subquery on cent_id (same rows, spec-pinned).
    val lists =
      if (listIds.length <= ivfInPruneMaxLists) {
        // Spark lists every directory it reads (as a job above 32), so
        // read only the probed lists'; with none present, the root read
        // keeps the schema and the IN filter yields no rows
        val root = new org.apache.hadoop.fs.Path(path)
        val present = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .listStatus(root).map(_.getPath.getName).toSet
        val dirs = listIds.map(id => s"cent_id=$id").filter(present)
          .map(d => new org.apache.hadoop.fs.Path(root, d).toString)
        (if (dirs.isEmpty) spark.read.parquet(path)
         else spark.read.option("basePath", path).parquet(dirs.toIndexedSeq: _*))
          .filter(col("cent_id").isin(listIds.toIndexedSeq: _*))
      } else
        spark.read.parquet(path).join(broadcast(assigned.select("cent_id").distinct()),
          Seq("cent_id"), "left_semi")
    val index = side(lists, "vec_id", "v", C, col("cent_id"))
    val joined =
      if (small) index.join(broadcast(spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), assigned.schema)), Seq("cent_id"))
      else index.join(assigned, Seq("cent_id"))
    rankPairs(joined, k, scorer)
  }

  /** Every query's lists in probe preference order: `q`'s columns plus
    * (cent_id, lrank), lrank 1 being the nearest centroid under `scorer`
    * (ties → lower cent_id). [[probeIvfIndexBatch]] reads the lists with
    * lrank ≤ nProbe, and [[calibrateNProbe]] counts each true neighbor at
    * the lrank of its home list, so a calibrated width is exactly the
    * probe's.
    */
  private def listOrder(q: DataFrame, centroids: DataFrame,
                        scorer: VecScore): DataFrame = {
    val w = Window.partitionBy(Q.id).orderBy(desc("__cs"), col("cent_id"))
    q.crossJoin(broadcast(centroids.select(col("cent_id"), col("cent_v"))))
      .withColumn("__cs", scorer(col(Q.v), col("cent_v")))
      .withColumn("lrank", row_number().over(w))
      .drop("cent_v", "__cs")
  }

  /** [[probeIvfIndexBatch]]'s literal-In pruning cap: probed-list sets
    * up to this size prune as a plan-time In/InSet literal; larger sets
    * switch to the broadcast-semi + dynamic-partition-pruning branch.
    * `var` only so the plan-shape spec can force the semi branch on a
    * small test index — production never reassigns it.
    */
  private[ops] var ivfInPruneMaxLists: Int = 1000

  /** The [[probeIvfIndexBatch]] broadcast gate, factored pure so the
    * threshold decision is unit-testable: broadcast the assigned query
    * batch only while `queryRows × nProbe` stays within
    * `maxBroadcastRows`.
    */
  private[ops] def probeBroadcastEligible(assignedRows: Long,
                                          maxBroadcastRows: Long): Boolean =
    assignedRows <= maxBroadcastRows

  /** Scale path for embedding near-dup pairs: hyperplane-LSH banded
    * candidate generation + exact-cosine verification — the embedding
    * analog of [[graft.ops.Dedup.simhashPairs]]. The `planes`-bit
    * signature splits into `nBands` contiguous bands; a pair is a
    * candidate iff it agrees on at least one full band (identical
    * vectors share every band, so recall on true duplicates is 1).
    *
    * Cost model at 100 TB: band self-join on (band, band-bits) — bucket
    * occupancy, never all-pairs; candidates are narrow (id1, id2) rows,
    * and the fat vector columns re-attach through two equi-joins only
    * for the surviving candidates. Verification is exact, so precision
    * is 1; only recall is approximate (pairs differing in every band are
    * missed — more planes per band = fewer random candidates, more
    * bands = higher recall).
    *
    * Signatures and norms go through the same helpers as the top-k
    * methods, so a [[prepVectors]]-prepared `df` reuses its [[SigCol]]
    * and [[NormCol]].
    */
  def lshNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                      threshold: Double, planes: Int, nBands: Int,
                      dims: Int): DataFrame = {
    val bands = bandRows(df, idCol, vecCol, "id", planes, nBands, dims)
    val cands = bands.select(col("band"), col("bh"), col("id").as("id1"))
      .join(bands.select(col("band"), col("bh"), col("id").as("id2")), Seq("band", "bh"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
    cosinePairsAbove(cands.join(side(df, idCol, vecCol, Pair1), Seq("id1"))
      .join(side(df, idCol, vecCol, Pair2), Seq("id2")), threshold)
      .select("id1", "id2", "cos")
  }

  /** The near-dup verification step: exact cosine of each (id1, id2)
    * pair from the [[Pair1]]/[[Pair2]] side columns, kept when at least
    * `threshold`.
    */
  private def cosinePairsAbove(pairs: DataFrame, threshold: Double): DataFrame =
    pairs.withColumn("cos",
        CosineScore.withNorms(col(Pair1.v), col(Pair2.v), col(Pair1.n), col(Pair2.n)))
      .filter(col("cos") >= threshold)

  /** Symmetric per-vector int8 quantization: q_i = floor(x_i/maxAbs·127
    * + 0.5) ∈ [-127, 127]. A float32 corpus shrinks 4× (the difference
    * between an in-memory ANN index and a spilling one at 100 TB) and the
    * scoring hot path becomes integer multiply-adds. `floor(x + 0.5)`
    * instead of `round` so both engines use identical rounding (Spark
    * rounds half-up via BigDecimal, DuckDB half-even).
    */
  def quantizeInt8(vec: Column): Column =
    quantizeInt8With(vec, vecMaxAbs(vec))

  /** Max |element| of a vector — the int8 scale denominator. */
  def vecMaxAbs(vec: Column): Column =
    array_max(transform(vec, y => abs(y.cast("double"))))

  /** [[quantizeInt8]] against a PRE-PROJECTED max-magnitude column. The
    * one-arg form inlines the array_max expression into the per-element
    * lambda, which re-evaluates it per element — O(dims²) per row (NOTES
    * perf lesson). Hot paths project [[vecMaxAbs]] as its own column
    * first (referenced twice in the lambda, so CollapseProject keeps the
    * alias) and quantize in O(dims).
    */
  def quantizeInt8With(vec: Column, mx: Column): Column =
    transform(vec, x =>
      when(mx === 0.0, lit(0))
        .otherwise(floor(x.cast("double") / mx * 127.0 + 0.5))
        .cast("int"))

  /** Integer dot product of two quantized vectors, EXACT only while every
    * element product and partial sum stays below 2^53 (the double-exact
    * integer range — always true for int8-scaled inputs, NOT for
    * arbitrary array<int>: large-magnitude inputs silently round, and
    * the non-ANSI double→long cast can wrap; use [[intDotHof]]'s integer
    * fold where full 64-bit exactness is required). Order-independent
    * within that range (integer addition is associative), so no
    * fold-order parity concerns.
    *
    * Routed through the codegen'd [[dot]] (which widens integer elements
    * to double) and cast back: for int8-scaled inputs every product
    * (≤ 127² = 16129) and every partial sum stays inside double's exact
    * integer range up to absurd dimensionality (16129·dims < 2^53 →
    * dims < 5·10⁸), so the result is bit-identical to the integer fold —
    * [[intDotHof]] keeps that reference semantics, equivalence
    * spec-pinned. This was measured as the int8 family's dominant cost:
    * the interpreted zip_with+aggregate ran per SCORED PAIR while every
    * float path already used the codegen loop (ann_recall sf1 probe,
    * round-13 NOTES: int8 leg 2.37 s vs the brute-force float truth's
    * 0.77 s).
    */
  def intDot(a: Column, b: Column): Column = dot(a, b).cast("long")

  /** The built-ins-only integer-fold formulation — the reference
    * semantics [[intDot]]'s double-widened codegen path must match
    * bit-for-bit on int8-scaled inputs. */
  private[graft] def intDotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("long") * y.cast("long")),
      lit(0L), (acc, v) => acc + v)

  /** Brute-force top-k over int8-quantized vectors: integer dot products,
    * cosine from integer norms. Ranking approximates the float ranking to
    * quantization error; both engines compute the identical quantized
    * ranking.
    */
  def quantizedTopK(queries: DataFrame, candidates: DataFrame,
                    idCol: String, vecCol: String, k: Int): DataFrame =
    rankPairs(int8Side(candidates, idCol, vecCol, C)
      .crossJoin(broadcast(int8Side(queries, idCol, vecCol, Q))), k)

  /** Embedding-cosine near-duplicate pairs (id1 < id2, cosine ≥ threshold).
    * Exact and quadratic — the small-N verifier; [[lshNearDupPairs]] is
    * the scale path.
    */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                         threshold: Double,
                         maxRows: Long = DefaultQuadraticMaxRows): DataFrame = {
    requireSmall(df, maxRows, "cosineNearDupPairs",
      "lshNearDupPairs (banded hyperplane LSH)")
    cosinePairsAbove(side(df, idCol, vecCol, Pair1)
        .crossJoin(side(df, idCol, vecCol, Pair2)).filter(col("id1") < col("id2")),
      threshold)
      .select("id1", "id2", "cos")
  }

  /** SemDeDup-style semantic dedup: broadcast-assign every vector to its
    * nearest centroid, find near-dup pairs (cosine ≥ threshold) WITHIN each
    * cluster only — the pair join is an equi-join on cent_id, so the
    * quadratic term is bounded by the largest cluster instead of the
    * corpus — then connected components over the pair graph pick one
    * representative (min id) per duplicate group. Returns
    * (id, cluster_id, kept): `kept=false` rows are the semantic duplicates
    * to drop.
    *
    * At 100 TB: assignment is a scan with a k-row broadcast; the
    * within-cluster self-join shuffles on cent_id (salt or split oversized
    * clusters by re-clustering them — centroid count is the knob);
    * component labeling is the same checkpointed label propagation the
    * text dedup path uses.
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    centroids: DataFrame, threshold: Double): DataFrame = {
    val cents = centroids.select(col("cent_id"), col("cent_v"),
      norm(col("cent_v")).as("cent_n"))
    val scored = side(df, idCol, vecCol, Role("id", "v", "n"))
      .crossJoin(broadcast(cents))
      .withColumn("__cs",
        CosineScore.withNorms(col("v"), col("cent_v"), col("n"), col("cent_n")))
    // cached: both sides of the within-cluster pair join read the
    // assignment, and the broadcast-score + argmax behind it is the
    // corpus-wide pass
    val assigned = assignNearest(scored, "id", Seq("v", "n"))
      .select(col("cent_id"), col("id"), col("v"), col("n"))
      .cache()
    def half(r: Role) = assigned.select(col("cent_id"), col("id").as(r.id),
      col("v").as(r.v), col("n").as(r.n))
    val pairs = cosinePairsAbove(half(Pair1).join(half(Pair2), Seq("cent_id"))
        .filter(col("id1") < col("id2")), threshold)
      .select("id1", "id2")
    // clusterAssign materializes eagerly (cache policy), so the
    // assignment cache is dead once it returns
    val out = Dedup.clusterAssign(df.select(col(idCol).as("id")), "id", pairs)
    assigned.unpersist()
    out
  }

  // ───────────────────────── product quantization ─────────────────────────

  /** PQ codebook from an md5 HASH-ORDERED corpus sample: subspace s's
    * code c is the s-th slice of the c-th vector under the total order
    * (md5(id), id) — the same engine-portable hash-order the IVF seed
    * uses ([[buildIvfIndexAuto]]), NOT "first nCodes by id" (VERDICT
    * r12): on id-correlated corpora (time-ordered embeddings, sorted
    * ingest) an id-prefix codebook covers one region of the space and
    * PQ recall silently collapses — the exact skew hazard the IVF seed
    * already fixed. The hash order is a uniform sample, deterministic
    * across runs and partitionings, and closed-form replayable by an
    * oracle; `orderBy(md5, id).limit(nCodes)` plans as TakeOrdered —
    * one O(N) scan keeping nCodes rows per partition, no full sort.
    * The collect is bounded index metadata: m·nCodes·(dims/m) doubles,
    * NOT data. Swap in a per-subspace k-means when codebook quality
    * matters; the probe below is agnostic to where the codes came from.
    */
  def pqCodebookHashOrdered(candidates: DataFrame, idCol: String, vecCol: String,
                            m: Int, nCodes: Int): Seq[(Int, Int, Seq[Double])] = {
    val h = md5(col(idCol).cast("string"))
    val rows = candidates
      .orderBy(h, col(idCol))
      .limit(nCodes)
      .select(h.as("h"), col(idCol).cast("long").as("id"),
        transform(col(vecCol), x => x.cast("double")).as("v"))
      .collect()
    // TakeOrdered returns rows in order, but don't lean on an execution
    // detail: re-sort driver-side under the same (hash, id) key
    val ordered = rows.toSeq.sortBy(r => (r.getString(0), r.getLong(1)))
    val dims = ordered.head.getSeq[Double](2).length
    val sub = dims / m
    for { (r, c) <- ordered.zipWithIndex; s <- 0 until m }
      yield (s, c, r.getSeq[Double](2).slice(s * sub, (s + 1) * sub))
  }

  /** Product-quantization top-k: candidates are encoded to m code ids
    * (argmin squared-L2 per subspace, rounded to 6, ties → lowest code),
    * then scored by asymmetric distance — and because the inner product is
    * linear, summing per-subspace ⟨query-slice, code-vector⟩ IS
    * ⟨query, reconstruction⟩, so the score is one 64-element dot against
    * the concatenated code vectors.
    *
    * The codebook is inlined into the plan as a nested array literal
    * (bounded index metadata), so encode + reconstruct are ONE narrow
    * codegen'd projection on the candidate side — no explode, no join, no
    * shuffle; the classic ADC table lookup becomes an element_at into the
    * literal. At 100 TB the encode runs once per corpus write (store
    * `rv`/codes alongside the vectors), and the probe never moves anything
    * wider than the final per-query rank.
    */
  /** `cosineScore = true` ranks by cosine(query, reconstruction) instead
    * of the raw inner product: the reconstruction's norm varies with
    * which codes were picked, so inner-product ranking conflates
    * similarity with reconstruction magnitude — normalizing it away is
    * what lets PQ approximate the COSINE ground truth the recall gate
    * measures against (`ann_recall`'s pq row). Same encode path, same
    * codebook; per-side norms are one extra O(dims) column each.
    */
  def pqTopK(queries: DataFrame, candidates: DataFrame, idCol: String,
             vecCol: String, k: Int, m: Int,
             codebook: Seq[(Int, Int, Seq[Double])],
             cosineScore: Boolean = false): DataFrame = {
    // the inner-product score never reads the side norms, so the
    // optimizer prunes them
    rankPairs(pqSide(candidates, idCol, vecCol, m, codebook)
        .crossJoin(broadcast(side(queries, idCol, vecCol, Q))),
      k, if (cosineScore) CosineScore else DotScore, Some("score"))
  }

  /** The PQ encode → reconstruct projection as its own frame:
    * (neighbor_id, rv) with rv the concatenated nearest-code vectors.
    * The codebook is inlined into the plan as a nested array literal
    * (bounded index metadata), so the whole thing is ONE narrow
    * codegen'd projection on the candidate side — no explode, no join,
    * no shuffle. Shared by [[pqTopK]] (score the reconstruction) and
    * [[pqTopKRerank]] (shortlist on it, re-rank exact).
    */
  private[ops] def pqReconFrame(candidates: DataFrame, idCol: String, vecCol: String,
                                m: Int,
                                codebook: Seq[(Int, Int, Seq[Double])]): DataFrame = {
    val nCodes = codebook.map(_._2).max + 1
    val subDim = codebook.head._3.length
    val byKey = codebook.map(t => (t._1, t._2) -> t._3).toMap
    val flat = (for {
      s <- 0 until m; c <- 0 until nCodes; x <- byKey(s -> c)
    } yield x).toIndexedSeq
    candidates.select(col(idCol).as("neighbor_id"),
      graft.functions.GraftFunctions
        .graft_pq_encode(col(vecCol), flat, m, nCodes, subDim).as("rv"))
  }

  /** The built-ins-only HOF formulation of [[pqReconFrame]], kept as
    * the reference semantics [[graft.functions.PqEncode]] must match
    * bit-for-bit (PqEncodeEquivalenceSpec) — the same dotHof/[[dot]] pairing. At
    * the production setting (m=32, 64 codes) the interpreted
    * per-element lambdas + a 64-struct `array_sort` per subspace made
    * THIS the whole `ann_recall` row's cost (~84 s of the 85.7 s
    * contended sighting, round-13 log); the native expression encodes
    * in one primitive loop per row.
    */
  private[ops] def pqReconFrameHof(candidates: DataFrame, idCol: String,
                                   vecCol: String, m: Int,
                                   codebook: Seq[(Int, Int, Seq[Double])]): DataFrame = {
    val nCodes = codebook.map(_._2).max + 1
    val subDim = codebook.head._3.length
    val byKey = codebook.map(t => (t._1, t._2) -> t._3).toMap
    val bookLit = array((0 until m).map { s =>
      array((0 until nCodes).map { c =>
        array(byKey(s -> c).map(lit): _*)
      }: _*)
    }: _*)
    def l2(a: Column, b: Column): Column =
      aggregate(zip_with(a, b,
        (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
        lit(0.0), (acc, v) => acc + v)
    // subs materialized as its own projection so the per-code lambda walks
    // an attribute, not a re-inlined slice (NOTES: HOF inputs re-evaluate
    // per outer element)
    def reconFromSubs(subs: Column): Column =
      flatten(transform(sequence(lit(0), lit(m - 1)), s => {
        val bookS = element_at(bookLit, s + 1)
        val subv  = element_at(subs, s + 1)
        val scored = transform(sequence(lit(0), lit(nCodes - 1)),
          j => struct(round(l2(subv, element_at(bookS, j + 1)), 6).as("d"),
            j.as("c")))
        element_at(bookS, element_at(array_sort(scored), 1).getField("c") + 1)
      }))
    candidates
      .select(col(idCol).as("neighbor_id"),
        transform(sequence(lit(0), lit(m - 1)),
          s => slice(col(vecCol), s * subDim + 1, lit(subDim))).as("subs"))
      .select(col("neighbor_id"), reconFromSubs(col("subs")).as("rv"))
  }

  /** PQ shortlist + EXACT re-rank — the production ADC architecture
    * (Jégou et al., "Product Quantization for Nearest Neighbor Search",
    * TPAMI'11 §V: the quantized scores pick a candidate shortlist, the
    * true vectors re-rank it): every candidate is scored by
    * cosine-against-reconstruction, each query keeps its `rerank` best,
    * and ONLY those pairs fetch the raw vectors for an exact cosine
    * top-k. Final recall@k equals PQ's recall@rerank, which converges
    * to 1 far faster than PQ's recall@k — reconstruction distortion
    * only has to keep a true neighbor inside the top `rerank`, not
    * rank it exactly.
    *
    * Scale shape: the corpus-wide pass touches only the narrow
    * (id, codes→reconstruction) projection (at 100 TB the codes are
    * what you store — 4× to 32× smaller than the vectors); the exact
    * pass is an id-keyed join fetching `rerank` vectors per query.
    * Output schema/tie-breaks match [[bruteForceTopK]] restricted to
    * the shortlist.
    */
  def pqTopKRerank(queries: DataFrame, candidates: DataFrame, idCol: String,
                   vecCol: String, k: Int, m: Int,
                   codebook: Seq[(Int, Int, Seq[Double])],
                   rerank: Int): DataFrame = {
    require(rerank >= k, s"rerank window $rerank must be >= k ($k)")
    val q = side(queries, idCol, vecCol, Q)
    val shortlist = rankPairs(pqSide(candidates, idCol, vecCol, m, codebook)
        .crossJoin(broadcast(q)), rerank, scoreCol = Some("pq_score"))
      .select(Q.id, C.id)
    rankPairs(shortlist.join(side(candidates, idCol, vecCol, C), Seq(C.id))
      .join(broadcast(q), Seq(Q.id)), k)
  }
}

package graft

/** Pure measurement-hygiene rules for [[Bench]], factored out so the
  * contention sentinel and lane-stability logic are unit-testable
  * without a SparkSession ([[BenchCoreSpec]]).
  *
  * Round-9 lesson motivating the bidirectional sentinel: the driver's
  * artifact recorded `mm_phash_pairs` at 68.598 s while the post-sweep
  * recheck re-timed the identical plan at 1.673 s — maximal evidence
  * that the RECORDED sweep was the contended one — yet the
  * one-directional `recheck/recorded > 3` test saw ratio 0.024 and
  * published `"contended": false`, presenting a 3.7× machine-noise
  * artifact as a plan regression. Contention is symmetric: two timings
  * of one plan disagreeing 3× means the machine was noisy during one of
  * them, and it does not matter which.
  */
object BenchCore {

  /** Seconds as the artifact prints them: three decimals, `.` separator
    * whatever the JVM's default locale.
    */
  def sec(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)

  /** A free string made safe to sit inside a JSON string literal. */
  def jsonSafe(s: String): String =
    s.replaceAll("[\"\\\\\\n\\r\\t]", " ").take(200)

  /** What one query cost Spark, summed over the tasks of the jobs it
    * started: the layer-by-layer counters beside its seconds.
    */
  final case class Counters(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
                            cpuNs: Long = 0, shuffleReadBytes: Long = 0,
                            shuffleWriteBytes: Long = 0, spillBytes: Long = 0,
                            inputBytes: Long = 0)

  /** The artifact's `counters` object: one entry per query, by name. */
  def countersJson(byQuery: Seq[(String, Counters)]): String =
    byQuery.map { case (n, c) =>
      "\"" + jsonSafe(n) + "\":{\"jobs\":" + c.jobs + ",\"stages\":" + c.stages +
        ",\"tasks\":" + c.tasks + ",\"cpu_s\":" + sec(c.cpuNs / 1e9) +
        ",\"shuffle_read_bytes\":" + c.shuffleReadBytes +
        ",\"shuffle_write_bytes\":" + c.shuffleWriteBytes +
        ",\"spill_bytes\":" + c.spillBytes + ",\"input_bytes\":" + c.inputBytes + "}"
    }.mkString("{", ",", "}")

  /** How far apart two timings of the same plan are, direction-blind:
    * `max(recheck/recorded, recorded/recheck)`. 1.0 = identical.
    */
  def sentinelRatio(recorded: Double, recheck: Double): Double = {
    val r = recheck / math.max(recorded, 1e-9)
    math.max(r, 1.0 / math.max(r, 1e-9))
  }

  /** (contended, worst ratio) over `(name, recorded, recheck)` checks:
    * contended iff ANY check's bidirectional ratio exceeds `threshold`.
    */
  def contentionVerdict(checks: Seq[(String, Double, Double)],
                        threshold: Double = 3.0): (Boolean, Double) = {
    val maxR = checks.map { case (_, rec, re) => sentinelRatio(rec, re) }
      .foldLeft(1.0)(math.max)
    (maxR > threshold, maxR)
  }

  /** Stability spread of a query's timed passes: the ratio of the two
    * BEST samples (second-min / min). With ≥3 samples, two agreeing lows
    * prove the plan cost is reproducible and a single spiked pass is
    * noise, not instability — the cohort must not fail its stability
    * gate because one micro-batch run caught a contention window. With
    * exactly 2 samples this degenerates to max/min (no spike to forgive).
    */
  def stableSpread(passes: Seq[Double]): Double = {
    val s = passes.sorted
    if (s.size < 2) 1.0 else s(1) / math.max(s.head, 1e-9)
  }

  /** Lane verdict over FULL per-sentinel sample lists — the ≥2-sample
    * generalization of [[contentionVerdict]]: a sentinel's effective
    * ratio is the spread of its two BEST samples ([[stableSpread]]; with
    * exactly two samples this IS the bidirectional sentinel ratio), so a
    * sentinel whose recorded sweep was poisoned recovers the moment two
    * independent rechecks agree — the spiked sample stays in the
    * artifact's provenance but no longer drives the machine-health
    * verdict, the same spike-forgiving rule the streaming cohort's
    * stability gate uses.
    */
  def laneVerdict(samples: Seq[Seq[Double]],
                  threshold: Double = 3.0): (Boolean, Double) = {
    val maxR = samples.filter(_.size >= 2).map(stableSpread)
      .foldLeft(1.0)(math.max)
    (maxR > threshold, maxR)
  }

  /** Adaptive sentinel escalation (VERDICT r11 #2): while the lane
    * verdict is contended, re-time each still-unstable sentinel once per
    * round (≤ `maxRounds` extra rounds), folding every sample in. A lane
    * whose recorded sweeps sat inside a contention window recovers a
    * clean, defensible number (two agreeing lows) instead of publishing
    * itself contended and unusable for round-over-round comparison —
    * the r11 driver artifact's sf1 lane failure mode (ratio 4.37,
    * number discarded). `time` returns None when a re-time crashes;
    * escalation stops early if no unstable sentinel could be re-timed.
    * Pure given a scripted `time`, so [[BenchCoreSpec]] drives a forced
    * contention→recovery end to end without a SparkSession.
    */
  def escalateSentinels(samples0: Map[String, Seq[Double]],
                        time: String => Option[Double],
                        maxRounds: Int = 2, threshold: Double = 3.0)
      : (Map[String, Seq[Double]], Boolean, Double, Int) = {
    var cur = samples0
    var rounds = 0
    var stuck = false
    while (rounds < maxRounds && !stuck &&
        laneVerdict(cur.values.toSeq, threshold)._1) {
      val unstable = cur.toSeq
        .filter { case (_, ts) => ts.size >= 2 && stableSpread(ts) > threshold }
        .map(_._1).sorted
      val added = unstable.flatMap(n => time(n).map(n -> _))
      if (added.isEmpty) stuck = true
      else {
        added.foreach { case (n, t) => cur = cur.updated(n, cur(n) :+ t) }
        rounds += 1
      }
    }
    val (c, r) = laneVerdict(cur.values.toSeq, threshold)
    (cur, c, r, rounds)
  }

  /** Extract the sf1 lane's (contended, per-query seconds) from a PRIOR
    * bench artifact's JSON text — our own canonical single-line format,
    * parsed with scoped regexes rather than a JSON library (none on the
    * classpath by design). Returns None when the artifact has no sf1
    * lane or the text doesn't carry both fields.
    *
    * Why this exists: the within-lane two-best-agree sentinel certifies
    * INTERNAL consistency — a contention window longer than the whole
    * lane inflates sweeps and rechecks together and reads as clean
    * (observed: a uniformly +21% lane, ratio 1.20, on untouched code).
    * The only defense is cross-invocation comparison, so the bench
    * publishes its ratio to the last clean artifact as provenance.
    */
  def parsePrevSf1(json: String): Option[(Boolean, Map[String, Double])] = {
    val contended = """"sf1_contended":(true|false)""".r
      .findFirstMatchIn(json).map(_.group(1) == "true")
    val qblock = """"sf1_queries":\{([^}]*)\}""".r
      .findFirstMatchIn(json).map(_.group(1))
    for (c <- contended; b <- qblock) yield {
      val qs = """"([A-Za-z0-9_]+)":([0-9.]+)""".r.findAllMatchIn(b)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
      (c, qs)
    }
  }

  /** Extract the MAIN batch lane's (contended, per-query seconds) from a
    * prior artifact — the batch-lane sibling of [[parsePrevSf1]]
    * (VERDICT r12 #5: round-over-round regression calls on the batch
    * lane were judged from top-20 lists; this makes them mechanical).
    * The leading-quote anchors keep `"sf1_queries"`/`"sf1_contended"`
    * from matching; the `"queries"` block is the artifact's flat last
    * field and `"contended"` appears before the sf1 section.
    */
  def parsePrevMain(json: String): Option[(Boolean, Map[String, Double])] = {
    val contended = """"contended":(true|false)""".r
      .findFirstMatchIn(json).map(_.group(1) == "true")
    val qblock = """"queries":\{([^}]*)\}""".r
      .findFirstMatchIn(json).map(_.group(1))
    for (c <- contended; b <- qblock) yield {
      val qs = """"([A-Za-z0-9_]+)":([0-9.]+)""".r.findAllMatchIn(b)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
      (c, qs)
    }
  }

  /** Total-over-common-queries ratio of the current lane to a prior
    * clean lane — None when the prior was contended or the overlap is
    * too thin to mean anything (< `minCommon` queries). Informational
    * provenance, not a verdict: a clean-sentinel lane running 1.2× its
    * last clean run is how a lane-length window becomes visible. Lane-
    * agnostic: the sf1 lane feeds it whole, the main lane feeds its
    * batch cohort (streaming drifts ±10–40% on unchanged code and must
    * not pollute the cross-invocation signal).
    */
  def vsPrevClean(cur: Seq[(String, Double)], prev: (Boolean, Map[String, Double]),
                  minCommon: Int = 10): Option[Double] = {
    val (prevContended, prevQ) = prev
    if (prevContended) return None
    val common = cur.filter { case (n, _) => prevQ.contains(n) }
    if (common.size < minCommon) None
    else {
      val prevSum = common.map { case (n, _) => prevQ(n) }.sum
      if (prevSum <= 0) None
      else Some(common.map(_._2).sum / prevSum)
    }
  }

  /** The sentinel set to re-time after the sweeps: the `topN` most
    * expensive queries (their cost dominates the graded total, so their
    * recorded numbers must defend themselves) plus, when more eligible
    * queries exist, the cheapest and the median eligible query —
    * contention inflates the cheap end of the spectrum by the LARGEST
    * ratios, so spectrum coverage makes the sentinel more sensitive, not
    * less. Input: (name, recorded) with recorded already ≥ the noise
    * floor; output preserves input order stability for determinism.
    */
  def sentinelSet(eligible: Seq[(String, Double)], topN: Int = 10)
      : Seq[(String, Double)] = {
    val byCostDesc = eligible.sortBy { case (n, c) => (-c, n) }
    val top = byCostDesc.take(topN)
    val rest = byCostDesc.drop(topN)
    if (rest.isEmpty) top
    else {
      val asc = rest.sortBy { case (n, c) => (c, n) }
      top ++ Seq(asc.head, asc(asc.size / 2)).distinct
    }
  }
}

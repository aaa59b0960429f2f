package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the measurement-hygiene rules behind [[Bench]] — most importantly
  * the bidirectional contention sentinel, against the exact artifact that
  * motivated it: BENCH_r09.json recorded `mm_phash_pairs` at 68.598 s
  * while the post-sweep recheck measured 1.673 s, and the one-directional
  * `recheck/recorded > 3` rule computed ratio 0.024 and published
  * `"contended": false` — a 3.7× machine-noise total graded as a plan
  * regression. These specs make both contention directions trip.
  */
class BenchCoreSpec extends AnyFunSuite {

  test("sentinel trips when the RECORDED pass was the contended one (r9 case)") {
    // the literal r9 numbers: recorded 68.598 s, recheck 1.673 s
    val (contended, maxRatio) =
      BenchCore.contentionVerdict(Seq(("mm_phash_pairs", 68.598, 1.673)))
    assert(contended, "a 41x-inflated recorded pass must flag contention")
    assert(maxRatio > 40.0 && maxRatio < 42.0)
  }

  test("sentinel trips when the RECHECK was the contended one") {
    val (contended, _) = BenchCore.contentionVerdict(Seq(("q", 1.0, 3.5)))
    assert(contended)
  }

  test("sentinel stays quiet on agreeing timings, either side slightly off") {
    assert(!BenchCore.contentionVerdict(Seq(("a", 1.0, 1.2), ("b", 2.0, 0.9)))._1)
    assert(BenchCore.contentionVerdict(Nil) == (false, 1.0))
  }

  test("sentinelRatio is symmetric and >= 1") {
    assert(BenchCore.sentinelRatio(2.0, 8.0) == BenchCore.sentinelRatio(8.0, 2.0))
    assert(BenchCore.sentinelRatio(5.0, 5.0) == 1.0)
    assert(BenchCore.sentinelRatio(0.0, 1.0) > 3.0) // zero guard, no NaN/Inf blowup on the verdict side
  }

  test("stableSpread forgives one spiked pass out of three") {
    // two agreeing lows + one 5x spike: the plan cost is reproducible
    assert(math.abs(BenchCore.stableSpread(Seq(1.0, 1.1, 5.0)) - 1.1) < 1e-9)
    // two samples: degenerates to max/min (no spike to forgive)
    assert(math.abs(BenchCore.stableSpread(Seq(1.0, 3.0)) - 3.0) < 1e-9)
    assert(BenchCore.stableSpread(Seq(1.0)) == 1.0)
  }

  test("sentinelSet = top-N by cost plus cheap + median spectrum probes") {
    val eligible = (1 to 15).map(i => (s"q$i", i.toDouble))
    val set = BenchCore.sentinelSet(eligible, topN = 10)
    val names = set.map(_._1)
    // top 10 by cost: q15..q6
    assert((6 to 15).forall(i => names.contains(s"q$i")))
    // spectrum probes from the remainder q1..q5: cheapest (q1) + median (q3)
    assert(names.contains("q1") && names.contains("q3"))
    assert(set.size == 12)
    // fewer eligible than topN: everything is a sentinel, no dupes
    val small = BenchCore.sentinelSet(Seq(("a", 1.0), ("b", 2.0)), topN = 10)
    assert(small.map(_._1).sorted == Seq("a", "b"))
  }

  test("parsePrevMain: batch-lane provenance parses past the sf1 blocks") {
    // field order mirrors a real artifact: main verdict first, then the
    // sf1 section (whose sf1_contended/sf1_queries must NOT shadow the
    // main fields), runs_top20 noise, and "queries" last
    val art = """{"metric":"total","value":10.0,"contended":false,""" +
      """"contention_max_ratio":1.100,"sf1_contended":true,""" +
      """"sf1_queries":{"q_a":9.000},"sf":"x",""" +
      """"runs_top20":{"q_a":{"passes":[1.0,2.0],"spread":2.000}},""" +
      """"errors":{},"queries":{"q_a":1.000,"q_b":2.000,"ev_x_stream":3.000}}"""
    val Some((contended, qs)) = BenchCore.parsePrevMain(art)
    assert(!contended, "sf1_contended:true must not shadow the main verdict")
    assert(qs == Map("q_a" -> 1.0, "q_b" -> 2.0, "ev_x_stream" -> 3.0),
      s"sf1_queries must not shadow the queries block: $qs")
    // batch-cohort comparison: the caller filters streaming out of CUR,
    // which confines the common set to batch queries
    val cur = Seq("q_a" -> 1.2, "q_b" -> 2.4)
    val r = BenchCore.vsPrevClean(cur, (contended, qs), minCommon = 2).get
    assert(math.abs(r - 1.2) < 1e-9)
    assert(BenchCore.parsePrevMain("""{"metric":"total"}""").isEmpty)
  }

  test("parsePrevSf1 + vsPrevClean: cross-invocation lane provenance") {
    val art = """{"metric":"total","value":124.598,"sf1_total":188.803,""" +
      """"sf1_contended":false,"sf1_contention_max_ratio":1.118,""" +
      """"sf1_queries":{"q_a":10.000,"q_b":5.500,"q_c":2.000},"sf":"x"}"""
    val Some((contended, qs)) = BenchCore.parsePrevSf1(art)
    assert(!contended && qs == Map("q_a" -> 10.0, "q_b" -> 5.5, "q_c" -> 2.0))
    // a lane-length window: every query uniformly 1.2x, sentinel clean —
    // the cross-invocation ratio is what exposes it
    val cur = Seq("q_a" -> 12.0, "q_b" -> 6.6, "q_c" -> 2.4)
    val r = BenchCore.vsPrevClean(cur, (contended, qs), minCommon = 3).get
    assert(math.abs(r - 1.2) < 1e-9)
    // a contended prior is not a reference point
    assert(BenchCore.vsPrevClean(cur, (true, qs), minCommon = 3).isEmpty)
    // too-thin overlap (query set churn) refuses to compare
    assert(BenchCore.vsPrevClean(Seq("q_a" -> 12.0), (false, qs),
      minCommon = 3).isEmpty)
    // artifacts without an sf1 lane parse to None
    assert(BenchCore.parsePrevSf1("""{"metric":"total","value":1.0}""").isEmpty)
    // a FAILED lane ("sf1_total":null, no sf1_queries block) also None
    assert(BenchCore.parsePrevSf1(
      """{"metric":"total","sf1_total":null,"sf":"x"}""").isEmpty)
  }

  test("laneVerdict: two-best-agree generalization of the bidirectional sentinel") {
    // 2 samples: identical to the bidirectional ratio
    assert(BenchCore.laneVerdict(Seq(Seq(10.0, 2.0)))._1)
    assert(!BenchCore.laneVerdict(Seq(Seq(2.0, 4.0)))._1)
    // ≥3 samples: one spiked pass is forgiven when two lows agree
    val (c, r) = BenchCore.laneVerdict(Seq(Seq(10.0, 2.0, 2.1)))
    assert(!c && r <= 1.1)
    // ...but two HIGHS and one low still trips: the two best disagree
    assert(BenchCore.laneVerdict(Seq(Seq(10.0, 9.8, 2.0)))._1)
    // verdict is the max across sentinels
    assert(BenchCore.laneVerdict(Seq(Seq(2.0, 2.1), Seq(5.0, 1.0)))._1)
  }

  test("escalateSentinels: a spiked lane recovers a clean number; a truly noisy one stays flagged") {
    // forced-contention shape (the r11 sf1 artifact): recorded sweeps
    // poisoned 4× high, rechecks return the honest cost — the first
    // escalation round must produce two agreeing lows and a CLEAN lane
    val spiked = Map("q_big" -> Seq(8.0, 2.0), "q_mid" -> Seq(1.0, 1.05))
    var timerCalls = 0
    val (samples, contended, ratio, rounds) = BenchCore.escalateSentinels(
      spiked, { n => timerCalls += 1; if (n == "q_big") Some(2.05) else Some(1.0) })
    assert(!contended && rounds == 1 && ratio <= 1.1)
    assert(timerCalls == 1) // only the UNSTABLE sentinel re-timed
    assert(samples("q_big").min == 2.0) // every sample folds; min publishes
    // genuinely unstable machine: every re-time disagrees — the lane
    // stays contended after maxRounds and says so
    val noisy = Map("q" -> Seq(8.0, 2.0))
    var call = 0
    val (_, c2, _, r2) = BenchCore.escalateSentinels(
      noisy, { _ => call += 1; Some(if (call % 2 == 0) 20.0 else 0.4) },
      maxRounds = 2)
    assert(c2 && r2 == 2)
    // a crashing re-timer stops escalation instead of spinning
    val (_, c3, _, r3) = BenchCore.escalateSentinels(noisy, _ => None)
    assert(c3 && r3 == 0)
    // an already-clean lane never calls the timer
    var idle = 0
    val (_, c4, _, _) = BenchCore.escalateSentinels(
      Map("q" -> Seq(2.0, 2.1)), { _ => idle += 1; Some(1.0) })
    assert(!c4 && idle == 0)
  }

  test("countersJson: one object per query, JSON-safe names, locale-independent seconds") {
    val prev = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.GERMANY) // "," decimal separator
    try assert(BenchCore.countersJson(Seq(
        "q\"1\n" -> BenchCore.Counters(11, 15, 38, 1234567890L, 10, 20, 0, 4096))) ==
      """{"q 1 ":{"jobs":11,"stages":15,"tasks":38,"cpu_s":1.235,"shuffle_read_bytes":10,""" +
      """"shuffle_write_bytes":20,"spill_bytes":0,"input_bytes":4096}}""")
    finally java.util.Locale.setDefault(prev)
  }
}

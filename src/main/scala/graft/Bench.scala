package graft
import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.{GraftShim, SparkSession}
import BenchCore.{Counters, jsonSafe, sec}

object Bench {
  /** Streaming queries pay a fixed micro-batch startup cost (readStream →
    * AvailableNow → sink) that is invariant in data size; reporting them
    * inside one opaque total would hide batch-plan regressions behind
    * ~20 s of constant overhead. The bench reports both splits.
    */
  private def isStreaming(name: String): Boolean = name.contains("stream")

  /** Spark local property that names the query whose jobs
    * [[QueryCounters]] charges.
    */
  private val QueryKey = "graft.bench.query"

  /** Charges every job, stage and task to the query named by [[QueryKey]]
    * on the thread that started the job (threads a query starts inherit
    * it); jobs started outside a named query are not counted. Events
    * arrive on the listener bus asynchronously: read [[of]] only
    * after the bus has drained.
    */
  private final class QueryCounters extends SparkListener {
    private val stageQuery = mutable.HashMap.empty[Int, String]
    private val counts = mutable.HashMap.empty[String, Counters]

    private def charge(q: String)(f: Counters => Counters): Unit =
      counts(q) = f(counts.getOrElse(q, Counters()))

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty(QueryKey))).foreach { q =>
        e.stageIds.foreach(stageQuery(_) = q)
        charge(q)(c => c.copy(jobs = c.jobs + 1))
      }
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      stageQuery.get(e.stageInfo.stageId).foreach(charge(_)(c => c.copy(stages = c.stages + 1)))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (q <- stageQuery.get(e.stageId); m <- Option(e.taskMetrics)) charge(q)(c => c.copy(
        tasks = c.tasks + 1,
        cpuNs = c.cpuNs + m.executorCpuTime,
        shuffleReadBytes = c.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
        shuffleWriteBytes = c.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
        spillBytes = c.spillBytes + m.diskBytesSpilled,
        inputBytes = c.inputBytes + m.inputMetrics.bytesRead))
    }

    def of(queries: Seq[String]): Seq[(String, Counters)] =
      synchronized(queries.map(q => q -> counts.getOrElse(q, Counters())))
  }

  def main(args: Array[String]): Unit = {
    val rc = run(k => sys.env.get(k))
    if (rc != 0) sys.exit(rc)
  }

  /** The whole benchmark as a callable (env-injected) function so the
    * contention self-test can run in-process ([[graft.BenchSelftestSpec]])
    * and assert on the REAL artifact + exit intent instead of grepping
    * sbt log text (the round-10 script's brittleness). Returns the exit
    * code `main` would use: 0 ok, 1 any query crashed, 3 contended under
    * SPARK_GRAFT_BENCH_STRICT. If a SparkSession already exists (test
    * JVM), it is borrowed and NOT stopped; the sf1 lane — which must
    * restart the session at a wider master — only runs on an owned one.
    */
  def run(envGet: String => Option[String]): Int = {
    def env(k: String, d: String) = envGet(k).getOrElse(d)
    val sfDir = env("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val borrowed = SparkSession.getDefaultSession.filter(
      s => !s.sparkContext.isStopped)
    val spark = borrowed.getOrElse(
      SparkConfigs.local(env("SPARK_GRAFT_CPUS", "4").toInt))
    // owned sessions only: a borrowed (test-JVM) session keeps whatever
    // log level its suite chose — mutating it here silently overrode
    // BenchSelftestSpec's ERROR setting (self-review catch)
    if (borrowed.isEmpty) spark.sparkContext.setLogLevel("WARN")
    // iteration aid: SPARK_GRAFT_BENCH_ONLY=q1,q2 times just those queries
    // (the driver never sets it, so recorded rounds always run the full set)
    val only = envGet("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(kv => only.forall(_.contains(kv._1)))
    // Warm-up: run EVERY query once untimed first — JIT, codegen caches,
    // parquet footers, broadcast threads, streaming micro-batch machinery.
    // Without this the first pass measures JVM warm-up (73→112 s swings on
    // identical code between rounds 1 and 2), not the plans.
    spark.range(1000000).selectExpr("sum(id)").collect()
    ordered.foreach { case (_, fn) =>
      try { fn(spark, sfDir).count() } catch { case _: Throwable => }
    }
    // Contention SELF-TEST hook (never set by the driver): a positive
    // delay is slept inside each SWEEP pass's timed window — rechecks run
    // without it — so a short run must publish contended=true or the
    // sentinel is broken. This is how the bidirectional sentinel's
    // end-to-end wiring is exercised without depending on a real noisy
    // neighbor showing up on cue (BenchSelftestSpec,
    // tools/contention_selftest.sh).
    val selftestMs =
      envGet("SPARK_GRAFT_BENCH_SELFTEST_SWEEP_DELAY_MS")
        .map(_.toLong).getOrElse(0L)
    def timed(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
              dir: String, injectMs: Long): Either[String, Double] = {
      val t0 = System.nanoTime()
      try {
        if (injectMs > 0) Thread.sleep(injectMs)
        fn(spark, dir).count()
        Right((System.nanoTime() - t0) / 1e9)
      } catch {
        // a crashed query must fail LOUDLY (err field + nonzero exit),
        // never silently shrink the total the driver grades
        case e: Throwable => Left(jsonSafe(s"${e.getClass.getName}: ${e.getMessage}"))
      }
    }
    // Two INTERLEAVED full sweeps (min per query), not min-of-2
    // back-to-back passes: host contention arrives in multi-minute
    // windows, and two consecutive passes of one query sit inside the
    // same window — both inflate together and the min defends nothing
    // (round 9: every spiky query's two back-to-back samples swung 2–4×
    // in lockstep). Interleaving puts a full sweep-length between a
    // query's two samples, so a window has to span the whole run to
    // poison both — the exact lesson ScaleBench's 12-interleaved-sweep
    // protocol already encodes (NOTES.md).
    // The first sweep also records each query's Spark counters: the
    // query's name rides on a local property set and cleared outside
    // `timed`'s window, and the bus is drained once after the sweep. The
    // listener is removed before anything else runs, so a borrowed
    // session keeps none.
    val sc = spark.sparkContext
    val listener = new QueryCounters
    sc.addSparkListener(listener)
    val passA = try ordered.map { case (n, fn) =>
      sc.setLocalProperty(QueryKey, n)
      val t = timed(fn, sfDir, selftestMs)
      sc.setLocalProperty(QueryKey, null)
      n -> t
    } finally {
      try GraftShim.drainListenerBus(sc)
      catch { case _: java.util.concurrent.TimeoutException =>
        System.err.println("[bench] listener bus did not drain: counters may be short") }
      sc.removeSparkListener(listener)
    }
    val counters = listener.of(ordered.map(_._1))
    val failedA = passA.collect { case (n, Left(_)) => n }.toSet
    val live = ordered.filterNot(kv => failedA(kv._1))
    val passB = live.map { case (n, fn) => n -> timed(fn, sfDir, selftestMs) }
    // Third sweep for the STREAMING cohort only: micro-batch runs drift
    // ±10–40% on unchanged code, they are fixed-cost (cheap to repeat),
    // and their stability verdict uses the two best of three samples
    // (BenchCore.stableSpread) so one spiked run cannot fail the lane.
    val passC = live.filter(kv => isStreaming(kv._1))
      .map { case (n, fn) => n -> timed(fn, sfDir, selftestMs) }
    // ADAPTIVE extra samples (up to 2) for any stream query whose
    // best-2-of-3 spread still exceeds the 1.5 stability bar: the round-10
    // artifact's failing stream queries each showed SINGLE spiked samples
    // (2.36/7.62/1.30 shapes), not bimodality — one or two more ~2 s
    // fixed-cost micro-batch runs recover two agreeing lows without
    // discarding anything (every sample stays in the artifact's
    // provenance; the spread rule itself is unchanged).
    val fnLive = live.toMap
    def extraStream(cur: Seq[(String, Either[String, Double])])
        : Seq[(String, Either[String, Double])] = {
      val byQ = cur.collect { case (n, Right(t)) if isStreaming(n) => n -> t }
        .groupBy(_._1).map { case (n, ts) => n -> ts.map(_._2) }
      byQ.collect {
        case (n, ts) if BenchCore.stableSpread(ts) > 1.5 && fnLive.contains(n) =>
          n -> timed(fnLive(n), sfDir, selftestMs)
      }.toSeq
    }
    val passD = extraStream(passA ++ passB ++ passC)
    val passE = extraStream(passA ++ passB ++ passC ++ passD)
    val allPasses = passA ++ passB ++ passC ++ passD ++ passE
    // any pass crashing marks the query failed — a nondeterministic
    // failure is a bug to surface, not a sample to drop
    val errs0 = allPasses.collect { case (n, Left(e)) => n -> e }
      .groupBy(_._1).map { case (n, es) => n -> es.head._2 }.toSeq.sortBy(_._1)
    val failed = errs0.map(_._1).toSet
    val samples0: Map[String, Seq[Double]] = allPasses
      .collect { case (n, Right(t)) if !failed(n) => n -> t }
      .groupBy(_._1).map { case (n, ts) => n -> ts.map(_._2) }
    val recorded0 = samples0.map { case (n, ts) => n -> ts.min }
    // Outlier re-time + bidirectional contention sentinel: after the
    // sweeps, re-time the 10 most expensive queries plus a cheap and a
    // median spectrum probe, once each. The recheck is a genuine sample
    // of plan cost, so its min FOLDS into the recorded number (a
    // recorded pass inflated 41× must not survive as the published
    // figure when the recheck refutes it); the verdict trips on
    // max(ratio, 1/ratio) > 3 — whichever side was contended, the
    // artifact labels itself instead of presenting machine noise as a
    // plan change (BenchCore.scala has the round-9 post-mortem).
    // STREAMING queries are excluded from sentinel duty: they are the
    // documented noise-dominated cohort (single samples spike 2–4× on a
    // quiet machine — exactly why they get 3+ samples and a
    // spike-forgiving stability gate above), so a spiked stream recheck
    // must never drive the MACHINE-health verdict; their lane health is
    // streaming_stable below.
    val fnByName = ordered.toMap
    val eligible = recorded0.toSeq
      .filter { case (n, c) => c >= 0.2 && !isStreaming(n) }
    val sentinels = BenchCore.sentinelSet(eligible, topN = 10)
    val sentinelChecks = sentinels.flatMap { case (name, recorded) =>
      timed(fnByName(name), sfDir, 0L).toOption.map { re =>
        (name, recorded, re, BenchCore.sentinelRatio(recorded, re))
      }
    }
    val (contended, maxRatio) =
      BenchCore.contentionVerdict(sentinelChecks.map(c => (c._1, c._2, c._3)))
    val samples = samples0 ++ sentinelChecks.map { case (n, _, re, _) =>
      n -> (samples0(n) :+ re)
    }
    val ok = samples.map { case (n, ts) => n -> ts.min }.toSeq.sortBy(_._1)
    // Stream-lane health: streaming entries are ~20% of the total and the
    // noise-dominated cohort — a regression call on the BATCH lane must
    // never be confounded by them. streaming_stable uses the two best of
    // each stream query's ≥3 samples: when false, treat the streaming
    // subtotal of THIS artifact as noisy and compare batch_total only.
    val streamSpread = samples.collect {
      case (n, ts) if isStreaming(n) => BenchCore.stableSpread(ts)
    }
    val streamMaxSpread = if (streamSpread.isEmpty) 1.0 else streamSpread.max
    val streamingStable = streamMaxSpread <= 1.5
    val total = ok.map(_._2).sum
    val streamingTotal = ok.collect { case (n, s) if isStreaming(n) => s }.sum
    val batchTotal = total - streamingTotal

    // ---- sf1 lane (VERDICT r10 #3) -------------------------------------
    // The data-heavy cohort re-timed at 10× rows (~6M lineitem), where a
    // plan regression clears the fixed-overhead noise floor that drowns it
    // at sf0.1. Runs only on the canonical sf0.1 bench over an OWNED
    // session (it restarts the session at a wider master — local[32] —
    // because the lane's point is data volume, and 6M-row shuffles on 4
    // threads would measure queueing, not plans). Protocol: one untimed
    // warm sweep (new session: parquet footers, broadcast threads), then
    // the same two-interleaved-sweeps-min rule as the main lane, plus
    // the lane's OWN post-sweep sentinel (the main lane's verdict is
    // sealed before this lane starts and cannot vouch for it).
    // SPARK_GRAFT_BENCH_SF1=0 disables.
    // SPARK_GRAFT_SF1_SELFTEST (never set by the driver): lets the
    // contention self-test run the sf1 lane under SPARK_GRAFT_BENCH_ONLY
    // — the lane cohort then honors the same restriction, so a 3-query
    // forced-contention → escalation → recovery pass costs ~1 min
    // instead of a full lane (tools/contention_selftest.sh phase 2).
    val sf1Selftest = envGet("SPARK_GRAFT_SF1_SELFTEST").isDefined
    val sf1On = env("SPARK_GRAFT_BENCH_SF1", "1") != "0" &&
      sfDir.replaceAll("/+$", "").endsWith("sf0.1") &&
      borrowed.isEmpty && (only.isEmpty || sf1Selftest)
    // ok1, errs1, lane-sentinel verdict (contended, max ratio),
    // recovery rounds used, per-sentinel sample provenance
    type Sf1Result = (Seq[(String, Double)], Seq[(String, String)],
      Boolean, Double, Int, Map[String, Seq[Double]])
    val sf1: Option[Sf1Result] =
      if (!sf1On) None
      else try {
        val sf1Cpus = env("SPARK_GRAFT_SF1_CPUS", "32")
        val sf1Dir = env("SPARK_GRAFT_SF1_DIR", "/tmp/graft_sf1")
        spark.stop()
        val s1 = SparkConfigs.local(sf1Cpus.toInt)
        s1.sparkContext.setLogLevel("WARN")
        try {
          Sf1Corpus.ensure(s1, sfDir, sf1Dir)
          val cohort = SparkEntry.queries.toSeq.sortBy(_._1)
            .filter(kv => Sf1Corpus.Cohort.contains(kv._1))
            .filter(kv => !sf1Selftest || only.forall(_.contains(kv._1)))
          // injectMs: the contention self-test delay rides the SWEEP
          // passes only (like the main lane) so the selftest can force a
          // contended sf1 lane and assert the escalation recovers it
          def timed1(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
                     injectMs: Long): Either[String, Double] = {
            val t0 = System.nanoTime()
            try {
              if (injectMs > 0) Thread.sleep(injectMs)
              fn(s1, sf1Dir).count(); Right((System.nanoTime() - t0) / 1e9)
            }
            catch { case e: Throwable =>
              Left(jsonSafe(s"${e.getClass.getName}: ${e.getMessage}")) }
          }
          cohort.foreach { case (_, fn) =>
            try { fn(s1, sf1Dir).count() } catch { case _: Throwable => } }
          val p1 = cohort.map { case (n, fn) => n -> timed1(fn, selftestMs) }
          val dead = p1.collect { case (n, Left(_)) => n }.toSet
          val p2 = cohort.filterNot(kv => dead(kv._1))
            .map { case (n, fn) => n -> timed1(fn, selftestMs) }
          val all1 = p1 ++ p2
          val errs1 = all1.collect { case (n, Left(e)) => n -> e }
            .groupBy(_._1).map { case (n, es) => n -> es.head._2 }.toSeq.sortBy(_._1)
          val dead2 = errs1.map(_._1).toSet
          val ok1min = all1.collect { case (n, Right(t)) if !dead2(n) => n -> t }
            .groupBy(_._1).map { case (n, ts) => n -> ts.map(_._2).min }
          // Lane sentinel: the MAIN lane's verdict is sealed before this
          // lane starts, so a contention window opening mid-lane would
          // otherwise publish poisoned sf1 numbers under contended=false
          // (the round-9 failure mode, reintroduced for a new lane —
          // self-review catch). Sentinels = the most expensive finished
          // queries plus cheap/median spectrum probes (sentinelSet, same
          // rule as the main lane); every re-time is a genuine sample, so
          // mins fold into the published numbers. A tripped verdict then
          // ESCALATES (VERDICT r11 #2): up to 2 more recheck rounds of
          // the unstable sentinels — two agreeing lows recover a clean
          // lane instead of publishing an unusable sf1_contended number
          // (the r11 artifact shipped ratio 4.37 with no recovery path).
          val cohortFn = cohort.toMap
          val sf1Sentinels = BenchCore.sentinelSet(
            ok1min.toSeq.filter(_._2 >= 0.2), topN = 3)
          val samples0 = sf1Sentinels.map { case (n, rec) =>
            n -> (Seq(rec) ++ timed1(cohortFn(n), 0L).toOption)
          }.toMap
          val (sf1Samples, c1, r1, rounds) = BenchCore.escalateSentinels(
            samples0, n => timed1(cohortFn(n), 0L).toOption)
          val ok1 = (ok1min ++ sf1Samples.map { case (n, ts) => n -> ts.min })
            .toSeq.sortBy(_._1)
          Some((ok1, errs1, c1, r1, rounds, sf1Samples))
        } finally s1.stop()
      } catch {
        // an sf1 INFRASTRUCTURE failure (fixture build, session setup)
        // must not discard the completed main-lane results: record it as
        // a lane error (nonzero exit below) and still emit the artifact
        case e: Throwable =>
          Some((Nil, Seq("__lane" -> jsonSafe(
            s"${e.getClass.getName}: ${e.getMessage}")), false, 1.0, 0,
            Map.empty[String, Seq[Double]]))
      }
    val errs = errs0 ++ sf1.toSeq.flatMap(_._2)
      .map { case (n, e) => s"sf1:$n" -> e }

    // The driver records only the last 2000 chars of the log (measured:
    // every BENCH_r*.json so far has tail_len 2000 and parsed:null — a
    // 100+-query dict is ~3 kB and can never fit). So: write the FULL
    // per-query JSON to a file in the repo for the judge, and make the
    // LAST printed line a compact JSON (totals + slowest queries, capped
    // to a 1800-char budget) that survives the clip and parses.
    val qs = ok.map { case (k, v) => "\"" + k + "\":" + sec(v) }.mkString("{", ",", "}")
    val es = errs.map { case (k, e) => "\"" + k + "\":\"" + e + "\"" }.mkString("{", ",", "}")
    val cc = sentinelChecks.map { case (n, rec, re, ratio) =>
      "\"" + n + "\":{\"recorded\":" + sec(rec) + ",\"recheck\":" + sec(re) +
        ",\"ratio\":" + sec(ratio) + "}"
    }.mkString("{", ",", "}")
    // A FAILED lane publishes sf1_total:null and NO other numeric sf1
    // fields: the old fallback's "sf1_total":0.000 read as an infinitely
    // fast run to automation keying on the JSON instead of the exit code
    // and comparing against BASELINE.md's peg (ADVICE r11). "Failed"
    // means NO query produced a number while something errored — the
    // infrastructure shape (__lane) AND the every-query-crashed shape
    // both qualify (ADVICE r12); a lane that ran zero queries cleanly
    // (empty cohort) is not an error and keeps its honest 0-query total.
    def sf1Failed(r: (Seq[(String, Double)], Seq[(String, String)],
        Boolean, Double, Int, Map[String, Seq[Double]])): Boolean =
      r._1.isEmpty && r._2.nonEmpty
    val sf1TotalStr = sf1.map { r =>
      if (sf1Failed(r)) "null" else sec(r._1.map(_._2).sum)
    }
    // Cross-invocation provenance: the within-lane sentinel is blind to
    // a contention window LONGER than the lane (sweeps and rechecks
    // inflate together and agree — observed as a uniformly +21% lane
    // under a clean ratio). Publish the ratio to the PRIOR artifact's
    // clean sf1 lane (same out path — the committed artifact or the
    // previous round's), over common queries, so lane-length windows
    // become visible across runs even when each run self-labels clean.
    // A filtered (BENCH_ONLY) run must NEVER clobber the round artifact:
    // a 14-query iteration artifact once replaced the full prior one and
    // the next full run's vs_prev_clean silently vanished (overlap <
    // minCommon). Unless the caller names an output explicitly, filtered
    // runs land in a temp file; only unfiltered runs own bench_full.json.
    val outPath = envGet("SPARK_GRAFT_BENCH_OUT").getOrElse {
      if (only.isDefined) {
        val p = java.nio.file.Files.createTempFile("bench_only_", ".json")
        System.err.println(s"[bench] filtered run: artifact -> $p")
        p.toString
      } else "bench_full.json"
    }
    val prevText: Option[String] = try {
      val p = java.nio.file.Paths.get(outPath)
      if (java.nio.file.Files.exists(p))
        Some(new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
      else None
    } catch { case _: Throwable => None }
    val prevSf1 = prevText.flatMap(BenchCore.parsePrevSf1)
    // Batch-lane cross-invocation provenance (VERDICT r12 #5): the same
    // total-over-common-queries ratio the sf1 lane carries, computed on
    // the BATCH cohort only (streaming drifts ±10–40% on unchanged code
    // and has its own stability gate) — so a round's regression call on
    // a query family is mechanical against the last clean artifact
    // instead of judged from top-20 lists.
    val vsPrevMain = prevText.flatMap(BenchCore.parsePrevMain)
      .flatMap(BenchCore.vsPrevClean(ok.filterNot(kv => isStreaming(kv._1)), _))
    val sf1Fields = sf1 match {
      case None => ""
      case Some(r) if sf1Failed(r) => """"sf1_total":null,"""
      case Some((ok1, _, c1, r1, rounds, sampleMap)) =>
        val q1 = ok1.map { case (k, v) => "\"" + k + "\":" + sec(v) }
          .mkString("{", ",", "}")
        // per-sentinel sample provenance, like runs_top20: a recovered
        // lane's spiked sample stays diagnosable from the artifact
        val sc = sampleMap.toSeq.sortBy(_._1).map { case (n, ts) =>
          "\"" + n + "\":{\"passes\":[" + ts.map(sec).mkString(",") +
            "],\"spread\":" + sec(BenchCore.stableSpread(ts)) + "}"
        }.mkString("{", ",", "}")
        val vsPrev = prevSf1.flatMap(BenchCore.vsPrevClean(ok1, _))
          .map(v => s""""sf1_vs_prev_clean":${sec(v)},""").getOrElse("")
        s""""sf1_total":${sf1TotalStr.get},"sf1_n_queries":${ok1.size},"sf1_contended":$c1,"sf1_contention_max_ratio":${sec(r1)},"sf1_recovery_rounds":$rounds,$vsPrev"sf1_contention_check":$sc,"sf1_queries":$q1,"""
    }
    val vsPrevField =
      vsPrevMain.map(v => s""""vs_prev_clean":${sec(v)},""").getOrElse("")
    val ccFields =
      s""""timing":"interleaved_sweeps_min","contended":$contended,"contention_max_ratio":${sec(maxRatio)},"streaming_stable":$streamingStable,"streaming_max_spread":${sec(streamMaxSpread)},$vsPrevField"contention_check":$cc"""
    // per-pass provenance for the 20 most expensive queries PLUS every
    // streaming query: every timed sample (sweeps + adaptive stream
    // samples + recheck where taken), so a recorded number dominated by
    // one odd pass is diagnosable from the artifact itself instead of
    // reading as plan cost.
    val provNames = (ok.sortBy(-_._2).take(20).map(_._1) ++
      ok.map(_._1).filter(isStreaming)).distinct
    val runs2 = provNames.map { n =>
      val ts = samples(n)
      "\"" + n + "\":{\"passes\":[" + ts.map(sec).mkString(",") +
        "],\"spread\":" + sec(BenchCore.stableSpread(ts)) + "}"
    }.mkString("{", ",", "}")
    val full =
      s"""{"metric":"total","value":${sec(total)},"unit":"sec","batch_total":${sec(batchTotal)},"streaming_total":${sec(streamingTotal)},"n_queries":${ok.size},"n_err":${errs.size},$ccFields,$sf1Fields"sf":"$sfDir","runs_top20":$runs2,"errors":$es,"counters":${BenchCore.countersJson(counters)},"queries":$qs}"""
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(outPath), (full + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () }
    println(full) // may be clipped; the file above is the durable copy
    // Compact last line: totals always; then slowest queries while they fit.
    val budget = 1800
    val entries = ok.sortBy(-_._2).map { case (k, v) => "\"" + k + "\":" + sec(v) }
    val kept = scala.collection.mutable.ArrayBuffer.empty[String]
    val sf1Compact = sf1TotalStr.map(t => s""""sf1_total":$t,""").getOrElse("")
    def head(omitted: Int) =
      s"""{"metric":"total","value":${sec(total)},"unit":"sec","batch_total":${sec(batchTotal)},"streaming_total":${sec(streamingTotal)},"n_queries":${ok.size},"n_err":${errs.size},$ccFields,$sf1Compact"queries_omitted":$omitted,"sf":"$sfDir","full_in":"bench_full.json","errors":$es,"queries":{"""
    var len = head(entries.size).length + 2 // worst-case header length
    for (e <- entries if len + e.length + 1 <= budget) { kept += e; len += e.length + 1 }
    // stop FIRST (owned sessions only) so no Spark shutdown logging
    // prints after the JSON; the sf1 lane's session is already stopped
    if (borrowed.isEmpty && !spark.sparkContext.isStopped) spark.stop()
    println(head(entries.size - kept.size) + kept.mkString(",") + "}}")
    if (errs.nonEmpty) 1
    // dedicated strict flag (driver never sets it): a contended artifact
    // exits nonzero so automation that opts in can refuse to grade it —
    // either lane's sentinel suffices (each lane has its own verdict)
    else if ((contended || sf1.exists(_._3)) &&
      envGet("SPARK_GRAFT_BENCH_STRICT").isDefined) 3
    else 0
  }
}

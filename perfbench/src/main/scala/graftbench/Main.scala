package graftbench

import java.nio.file.{Files, Paths}

/** Runs one workload and writes its result.
  *
  * {{{
  * Main --workload <cdc_load|corpus_prep|ann_serve> --seed <n> --seconds <s>
  *      --trace <0|1> --work <dir> --result <file>
  * }}}
  *
  * The session is the one the tests verify, `SparkConfigs.local` on every
  * core. Set-up is the session start, then inputs from the seed and their
  * initial load, [[SetupReps]] times from scratch, then a warm-up;
  * `setup_s` is the session start plus the median repetition plus the
  * warm-up. Then operations run one after another until `--seconds` have
  * passed. With `--trace 0` the
  * result holds the end-to-end metrics; with `--trace 1` the benchmark
  * records spans and registers a listener, and the result holds the
  * per-layer metrics. The result file is one JSON object; the spans of a
  * traced run go to `<work>/spans.jsonl`.
  */
object Main {
  val Workloads: Seq[String] = Seq("cdc_load", "corpus_prep", "ann_serve")
  val SetupReps = 3

  /** The end-to-end metrics, the same on every workload: set-up time, work
    * per second of operation time (extract rows, documents or queries) and
    * the median operation time (a day, a pipeline run or a probe batch).
    */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "items_per_s" -> "1/s", "op_p50_s" -> "s")

  /** Every per-layer metric with its unit; a workload reports 0 for the
    * layers it does not touch.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "jobs.runs" -> "count", "jobs.failed" -> "count", "jobs.self_s" -> "s",
    "loading.diff_s" -> "s", "loading.diff_cpu_s" -> "s", "loading.diff_shuffle_bytes" -> "B",
    "loading.extract_rows" -> "count", "loading.changed_frac" -> "ratio",
    "manifest.commits" -> "count", "manifest.commit_s" -> "s", "manifest.bytes_written" -> "B",
    "manifest.files_live" -> "count", "manifest.dv_rows" -> "count", "manifest.read_s" -> "s",
    "manifest.read_p50_s" -> "s", "manifest.read_input_bytes" -> "B",
    "manifest.count_jobs" -> "count", "manifest.maint_s" -> "s",
    "manifest.maint_bytes_rewritten" -> "B", "manifest.write_amp" -> "ratio") ++
    CorpusPrep.Phases.flatMap(p => Seq(s"prep.$p.s" -> "s", s"prep.$p.cpu_s" -> "s",
      s"prep.$p.shuffle_bytes" -> "B", s"prep.$p.spill_bytes" -> "B", s"prep.$p.jobs" -> "count")) ++
    Seq("similarity.build_s" -> "s", "similarity.lists" -> "count", "similarity.nprobe" -> "count",
      "similarity.probe_s" -> "s", "similarity.probe_cpu_s" -> "s",
      "similarity.probe_jobs_per_batch" -> "count", "similarity.probe_input_bytes_per_query" -> "B",
      "similarity.rows_scanned_per_result" -> "ratio", "similarity.probe_shuffle_bytes" -> "B",
      "similarity.recall_at_10" -> "ratio",
      "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
      "spark.executor_run_s" -> "s", "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s",
      "spark.shuffle_read_bytes" -> "B", "spark.shuffle_write_bytes" -> "B",
      "spark.spill_bytes" -> "B", "spark.input_bytes" -> "B", "spark.peak_storage_mb" -> "MB",
      "trace.op_p50_s" -> "s", "trace.items_per_s" -> "1/s")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = a("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = a("work")

    val t0 = System.nanoTime()
    val spark = graft.SparkConfigs.local(Runtime.getRuntime.availableProcessors())
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val sc = spark.sparkContext
    val tracer = new Tracer(trace, sc)
    val counters = new SparkCounters
    if (trace) sc.addSparkListener(counters)
    // sampling storage memory costs an RPC every 10 ms, so only traced
    // runs take it
    val storage = if (trace) Some(new StorageSampler(sc)) else None
    val outcomes = new Outcomes
    val dir = s"$work/data"
    val wl: Workload = workload match {
      case "cdc_load" => new CdcLoad(spark, seed, dir, tracer, outcomes)
      case "corpus_prep" => new CorpusPrep(spark, seed, dir, tracer, outcomes)
      case "ann_serve" => new AnnServe(spark, seed, dir, tracer, outcomes)
    }

    val reps = (1 to SetupReps).map { rep =>
      tracer.op = -rep
      val s = System.nanoTime()
      wl.setUp(rep)
      (System.nanoTime() - s) / 1e9
    }
    tracer.op = -(SetupReps + 1)
    val w0 = System.nanoTime()
    wl.warmUp()
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupS = sessionS + Stats.median(reps) + warmS
    if (outcomes.failed > 0) sys.error(s"set-up failed: ${outcomes.failures.mkString("; ")}")

    storage.foreach(_.reset())
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    var op = 0
    while (op == 0 || elapsed < seconds) {
      op += 1
      tracer.op = op
      wl.step(op)
    }
    val measuredS = elapsed
    tracer.op = 0
    val peakMb = storage.map(_.peakBytes / (1024.0 * 1024.0)).getOrElse(0.0)
    storage.foreach(_.close())

    val metrics: Seq[Metric] =
      if (!trace) {
        val v = Map("setup_s" -> setupS, "items_per_s" -> wl.itemsPerS, "op_p50_s" -> wl.opP50S)
        EndToEnd.map { case (n, u) => Metric(n, v(n), u) }
      }
      else {
        counters.quiesce()
        val view = new TraceView(tracer.spans, counters, op)
        val all = view.counters("op")
        val layer = (wl.layers(view) ++ Seq(
          "spark.jobs" -> view.perOp(all.jobs.toDouble),
          "spark.stages" -> view.perOp(all.stages.toDouble),
          "spark.tasks" -> view.perOp(all.tasks.toDouble),
          "spark.executor_run_s" -> view.perOp(all.runMs / 1e3),
          "spark.executor_cpu_s" -> view.perOp(all.cpuNs / 1e9),
          "spark.gc_s" -> view.perOp(all.gcMs / 1e3),
          "spark.shuffle_read_bytes" -> view.perOp(all.shuffleRead.toDouble),
          "spark.shuffle_write_bytes" -> view.perOp(all.shuffleWrite.toDouble),
          "spark.spill_bytes" -> view.perOp(all.spill.toDouble),
          "spark.input_bytes" -> view.perOp(all.inputBytes.toDouble),
          "spark.peak_storage_mb" -> peakMb,
          "trace.op_p50_s" -> wl.opP50S,
          "trace.items_per_s" -> wl.itemsPerS)).toMap
        val unknown = layer.keySet -- PerLayer.map(_._1)
        require(unknown.isEmpty, s"undeclared per-layer metrics: $unknown")
        PerLayer.map { case (n, u) => Metric(n, layer.getOrElse(n, 0.0), u) }
      }

    println(f"[perfbench] $workload seed=$seed trace=${if (trace) 1 else 0} ops=$op " +
      f"measured=$measuredS%.1fs session=$sessionS%.2fs " +
      f"set-up reps=${reps.map(r => f"$r%.2f").mkString(",")}s warm-up=$warmS%.2fs " +
      f"ops=${wl.opSeconds.map(r => f"$r%.2f").mkString(",")}s")
    (wl.report ++ Seq(Metric("setup_s", setupS, "s")) ++
      storage.map(_ => Metric("peak_cache_mb", peakMb, "MB")))
      .foreach(m => println(s"[perfbench] ${m.name} = ${m.value} ${m.unit}"))
    println(s"[perfbench] checks: ${outcomes.attempted} operations, ${outcomes.failed} failed")
    outcomes.failures.foreach(f => println(s"[perfbench]   $f"))

    val json = metrics.map { m =>
      require(!m.value.isNaN && !m.value.isInfinite, s"${m.name} is ${m.value}")
      s""""${m.name}": {"value": ${m.value}, "unit": "${m.unit}"}"""
    }.mkString(s"""{"correct": ${outcomes.failed == 0}, "attempted": ${outcomes.attempted}, """ +
      s""""failed": ${outcomes.failed}, "metrics": {""", ", ", "}}")
    if (trace) tracer.write(Paths.get(work, "spans.jsonl"), s"$workload-$seed")
    Files.write(Paths.get(a("result")), json.getBytes("UTF-8"))
    spark.stop()
  }
}

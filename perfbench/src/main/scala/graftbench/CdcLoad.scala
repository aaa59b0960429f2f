package graftbench

import java.time.LocalDate
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, count, lit, sum}
import graft.jobs._
import graft.meta.{DefaultsStore, StatusTracker}
import graft.meta.Status.Schedule
import graft.ops.{CacheControl, Diff, Loading, Manifest}

/** `cdc_load`: the reference system's own job. Each simulated day the
  * source lands a full extract and the scheduler runs the day's loading
  * job, which maps the extract, diffs it against the table by MD5
  * fingerprint and applies upserts and deletes as merge-on-read commits.
  * Key-range reads, an aggregate read and a manifest-only row count
  * follow, over the day's deletion vectors. At night the scheduler runs
  * the maintenance job: compact the small-file tail, purge the deletion
  * vectors, vacuum old versions. It is the only workload that puts writes
  * beside reads on the storage layer, with background work in the loop;
  * it bypasses the text and vector layers.
  *
  * One operation is one day: both scheduler passes (the cycle) and the
  * reads between them. Every day does the same kinds of work, so the
  * number of days a run fits does not change what its median means; the
  * share of rows changed is drawn per day from the seed.
  */
final class CdcLoad(spark: SparkSession, seed: Long, dir: String, tracer: Tracer,
                    outcomes: Outcomes) extends Workload {
  import CdcLoad._

  private val table = s"$dir/orders"
  private val staging = s"$dir/staging"
  private var gen: CdcGen = _
  private var tracker: StatusTracker = _
  private var scheduler: Scheduler = _
  private var daySchedules: Seq[Schedule] = Nil
  private var nightSchedules: Seq[Schedule] = Nil

  private val cycleS = mutable.ArrayBuffer.empty[Double]
  private val readS = mutable.ArrayBuffer.empty[Double]
  private var extractRows = 0L
  private var jobRuns = 0L
  private var jobsFailed = 0L
  private var changedRows = 0L
  private var lastChanged = 0L
  private val filesLive = mutable.ArrayBuffer.empty[Double]
  private val dvRows = mutable.ArrayBuffer.empty[Double]
  private var firstVersion = 0L
  private var lastVersion = 0L
  private var liveBytesPerRow = 0.0

  private final class LoadOrders extends EtlJob {
    val name = "load_orders"
    override val jobType = "loading"

    def run(ctx: JobContext): Unit = {
      ctx.setPhase("diff")
      val (changes, nChanged, gone) = tracer.span("loading.diff") {
        val extract = spark.read.parquet(staging)
        val mapped = Loading.appendProjection(extract, Loading.identityMapping(extract))
        val current = Manifest.read(spark, table)
        val ch = Diff.tableDiffRows(mapped, current, Seq("rid"), CdcGen.Fields)
          .drop("diff").localCheckpoint()
        val gone = current.select("rid").join(mapped.select("rid"), Seq("rid"), "left_anti")
          .collect().map(_.getLong(0))
        (ch, ch.count(), gone)
      }
      ctx.setPhase("apply")
      tracer.span("manifest.commit") {
        if (nChanged > 0) Manifest.upsertMergeOnRead(changes, table, Seq("rid"), "ver")
        if (gone.nonEmpty)
          Manifest.deleteMergeOnRead(spark, table, col("rid").isin(gone.toIndexedSeq: _*))
      }
      CacheControl.release(changes)
      lastChanged = nChanged + gone.length
    }
  }

  /** Runs a job inside a span named for the layer it exercises. */
  private final class Traced(job: EtlJob, span: String) extends EtlJob {
    val name: String = job.name
    override def jobType: String = job.jobType
    override def prepare(ctx: JobContext): Unit = job.prepare(ctx)
    def run(ctx: JobContext): Unit = tracer.span(span)(job.run(ctx))
    override def finalizeJob(ctx: JobContext): Unit = job.finalizeJob(ctx)
  }

  private def land(): Unit =
    spark.createDataFrame(gen.extract.asJava, CdcGen.Schema)
      .write.mode("overwrite").parquet(staging)

  def setUp(rep: Int): Unit = {
    Workload.deleteTree(spark, table)
    gen = new CdcGen(seed, InitialRows)
    gen.day = -1 // the initial load is the eve of day 0
    tracker = new StatusTracker
    val registry = new JobRegistry
    registry.register(new LoadOrders)
    val maintenance = new MaintenanceJob(table, minFileBytes = MinFileBytes,
      targetFileBytes = TargetFileBytes, maxDvRows = 0L, keepVersions = 10)
    registry.register(new Traced(maintenance, "manifest.maint"))
    scheduler = new Scheduler(registry, new JobRunner(spark, new DefaultsStore, tracker))
    daySchedules = Seq(
      Schedule(1, "load_orders", None, isEnabled = true, "daily", forceRun = false, runOrder = 1))
    nightSchedules = Seq(
      Schedule(2, maintenance.name, None, isEnabled = true, "daily", forceRun = false, runOrder = 1))
    land()
    val initial = spark.read.parquet(staging)
    Manifest.overwriteWithStats(
      Loading.appendProjection(initial, Loading.identityMapping(initial))
        .repartitionByRange(InitialFiles, col("rid")),
      table, Seq("rid"))
  }

  def warmUp(): Unit = (1 to WarmUpDays).foreach(_ => day(0))

  /** One day: land the extract, run the day's schedules, read, run the
    * night's schedules.
    */
  private def day(op: Int): Unit = outcomes.attempt(s"day ${gen.day + 1}") {
    gen.advance()
    land()
    val date = Day0.plusDays(gen.day.toLong)
    val before = tracker.all.size
    def pass(schedules: Seq[Schedule]) = {
      val t0 = System.nanoTime()
      val ran = tracer.span("jobs.scheduler")(scheduler.runScheduledJobs(schedules, date))
      (ran, (System.nanoTime() - t0) / 1e9)
    }
    val (ran, cycle, reads) = tracer.span("op") {
      val (ranDay, dayS) = pass(daySchedules)
      val reads = this.reads(op)
      val (ranNight, nightS) = pass(nightSchedules)
      (ranDay ++ ranNight, dayS + nightS, reads)
    }
    val failedJobs = tracker.all.drop(before).filter(_.status != "ok")
    if (op >= 1) {
      cycleS += cycle
      readS ++= reads._1
      extractRows += gen.liveRows
      changedRows += lastChanged
      jobRuns += tracker.all.size - before
      jobsFailed += failedJobs.size
    }
    if (ran.exists(_._2.isEmpty)) "a scheduled job was not registered"
    else if (failedJobs.nonEmpty)
      s"job ${failedJobs.head.jobName} failed: ${failedJobs.head.message.getOrElse("")}"
    else if (reads._2 != null) reads._2
    else tracer.span("check")(check(op))
  }

  /** Range and aggregate reads, timed, each checked; then the
    * manifest-only count. Returns the read times and the first problem.
    */
  private def reads(op: Int): (Seq[Double], String) = {
    if (op >= 1) {
      filesLive += Manifest.tableInfo(spark, table).entries.size
      dvRows += Manifest.dvRowCount(spark, table)
    }
    val width = math.max(1L, gen.liveRows / 100L)
    val lo = Mix.below((gen.maxRid - width).toInt.max(1), seed, 3L, gen.day.toLong).toLong
    val hi = lo + width
    val times = mutable.ArrayBuffer.empty[Double]
    var problem: String = null
    def timed[T](body: => T): T = {
      val t0 = System.nanoTime()
      val r = tracer.span("manifest.read")(body)
      times += (System.nanoTime() - t0) / 1e9
      r
    }
    val range = timed(Manifest.readRange(spark, table, "rid", lo.toDouble, hi.toDouble).collect())
    Option(gen.mismatch(range.toSeq, lo, hi)).foreach(p => problem = s"range read [$lo, $hi]: $p")
    val agg = timed(Manifest.table(spark, table).groupBy("status")
      .agg(count(lit(1)), sum("qty")).collect())
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val expected = gen.aggregate
    if (problem == null && agg != expected) problem = s"aggregate read: $agg, expected $expected"
    val n = tracer.span("manifest.count")(Manifest.countRows(spark, table))
    if (problem == null && n != gen.liveRows) problem = s"countRows $n, expected ${gen.liveRows}"
    (times.toSeq, problem)
  }

  /** The whole table equals the generator's expected state. */
  private def check(op: Int): String = {
    val rows = Manifest.read(spark, table).collect().toSeq
    if (op >= 1) {
      lastVersion = Manifest.latestVersion(spark, table)
      liveBytesPerRow = Manifest.tableInfo(spark, table).entries.map(_._2.getLen).sum.toDouble /
        math.max(1, rows.size)
    }
    Option(gen.mismatch(rows)).map(p => s"table after day ${gen.day}: $p").orNull
  }

  def step(op: Int): Unit = {
    if (op == 1) firstVersion = Manifest.latestVersion(spark, table)
    day(op)
  }

  def opSeconds: Seq[Double] = cycleS.toSeq
  def items: Double = extractRows.toDouble

  def report: Seq[Metric] = Seq(
    Metric("load_rows_per_s", itemsPerS, "1/s"),
    Metric("cycle_p50_s", opP50S, "s"),
    Metric("read_p50_s", Stats.median(readS.toSeq), "s"),
    Metric("cycles", cycleS.size, "count"),
    Metric("reads", readS.size, "count"))

  def layers(t: TraceView): Seq[(String, Double)] = {
    import TraceView.ratio
    val cycles = cycleS.size.toDouble
    val diff = t.counters("loading.diff")
    val commit = t.counters("manifest.commit")
    val maint = t.counters("manifest.maint")
    val maintRuns = t.named("manifest.maint").size.toDouble
    val read = t.counters("manifest.read")
    Seq(
      "jobs.runs" -> ratio(jobRuns.toDouble, cycles),
      "jobs.failed" -> jobsFailed.toDouble,
      "jobs.self_s" -> ratio(t.selfSeconds("jobs.scheduler"), cycles),
      "loading.diff_s" -> ratio(t.seconds("loading.diff"), cycles),
      "loading.diff_cpu_s" -> ratio(diff.cpuNs / 1e9, cycles),
      "loading.diff_shuffle_bytes" -> ratio(diff.shuffleWrite.toDouble, cycles),
      "loading.extract_rows" -> ratio(extractRows.toDouble, cycles),
      "loading.changed_frac" -> ratio(changedRows.toDouble, extractRows.toDouble),
      "manifest.commits" -> ratio((lastVersion - firstVersion).toDouble, cycles),
      "manifest.commit_s" -> ratio(t.seconds("manifest.commit"), cycles),
      "manifest.bytes_written" -> ratio((commit.outputBytes + maint.outputBytes).toDouble, cycles),
      "manifest.files_live" -> ratio(filesLive.sum, filesLive.size),
      "manifest.dv_rows" -> ratio(dvRows.sum, dvRows.size),
      "manifest.read_s" -> ratio(t.seconds("manifest.read"), readS.size),
      "manifest.read_p50_s" -> Stats.median(readS.toSeq),
      "manifest.read_input_bytes" -> ratio(read.inputBytes.toDouble, readS.size),
      "manifest.count_jobs" -> t.counters("manifest.count").jobs.toDouble,
      "manifest.maint_s" -> ratio(t.seconds("manifest.maint"), maintRuns),
      "manifest.maint_bytes_rewritten" -> ratio(maint.outputBytes.toDouble, maintRuns),
      "manifest.write_amp" -> ratio((commit.outputBytes + maint.outputBytes).toDouble,
        changedRows * liveBytesPerRow))
  }
}

object CdcLoad {
  val InitialRows = 10000
  val InitialFiles = 4
  val MinFileBytes: Long = 128L * 1024
  val TargetFileBytes: Long = 1024L * 1024
  /** Days run before measuring; see the README for how far from steady
    * the measured day still is.
    */
  val WarmUpDays = 1
  /** Day 0 of the simulated calendar. */
  val Day0: LocalDate = LocalDate.of(2024, 1, 7)
}

package graftbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.jobs.{EtlJob, JobContext, JobRunner}
import graft.meta.{DefaultsStore, StatusTracker}
import graft.ops.{CacheControl, Prep}

/** `corpus_prep`: the corpus-curation pipeline (`Prep.corpusPipeline`)
  * run as a loading job under `JobRunner`, over a fresh seeded shard each
  * operation. Shards carry planted exact and near duplicates, boilerplate
  * lines, contaminated and too-short documents. It is the repository's
  * largest cost by time, shuffle-, CPU- and checkpoint-memory-heavy, and
  * exercises the removal-key hashing of line dedup, span removal and
  * decontamination; it bypasses the manifest and similarity layers.
  *
  * The traced run takes its phases from the pipeline's own `phase`
  * callback, so work Spark runs lazily lands in the phase that forces it
  * (a stage's plan may be built in one phase and executed in a later
  * one's checkpoint).
  */
final class CorpusPrep(spark: SparkSession, seed: Long, dir: String, tracer: Tracer,
                       outcomes: Outcomes) extends Workload {
  import CorpusPrep._

  private val gen = new CorpusGen(seed, DocsPerShard)
  private val benchPath = s"$dir/bench"
  private val shardPath = s"$dir/shard"
  private val outPath = s"$dir/disposition"
  private val tracker = new StatusTracker
  private val runner = new JobRunner(spark, new DefaultsStore, tracker)
  private val pipelineS = mutable.ArrayBuffer.empty[Double]
  private var docs = 0L
  private var jobRuns = 0L
  private var jobsFailed = 0L

  private object PrepShard extends EtlJob {
    val name = "prep_corpus_shard"
    override val jobType = "loading"

    def run(ctx: JobContext): Unit = {
      val corpus = spark.read.parquet(ctx.argument.get)
      val bench = spark.read.parquet(benchPath)
      val disposition = Prep.corpusPipeline(corpus, bench, "doc_id", "text",
        phase = p => { ctx.setPhase(p); tracer.phase(s"prep.$p") })
      ctx.setPhase("publish")
      tracer.phase("prep.publish")
      disposition.write.mode("overwrite").parquet(outPath)
      CacheControl.release(disposition)
      tracer.endPhase()
    }
  }

  private def land(path: String, rows: Seq[(Long, String)]): Unit = {
    import spark.implicits._
    rows.toDF("doc_id", "text").write.mode("overwrite").parquet(path)
  }

  def setUp(rep: Int): Unit = land(benchPath, gen.bench)

  def warmUp(): Unit = (0 until WarmUpRuns).foreach(shard(_, 0))

  def step(op: Int): Unit = shard(WarmUpRuns + op - 1, op)

  /** Land shard `s`, run the job over it, check the dispositions. */
  private def shard(s: Int, op: Int): Unit = outcomes.attempt(s"shard $s") {
    val sh = gen.shard(s)
    tracer.span("land")(land(shardPath, sh.docs))
    val before = tracker.all.size
    val seconds = tracer.span("op") {
      val t0 = System.nanoTime()
      tracer.span("jobs.run")(runner.run(PrepShard, Some(shardPath)))
      (System.nanoTime() - t0) / 1e9
    }
    val failed = tracker.all.drop(before).filter(_.status != "ok")
    if (op >= 1) {
      pipelineS += seconds
      docs += sh.docs.size
      jobRuns += tracker.all.size - before
      jobsFailed += failed.size
    }
    if (failed.nonEmpty) s"job failed: ${failed.head.message.getOrElse("")}"
    else tracer.span("check") {
      val out = spark.read.parquet(outPath).select("doc_id", "status").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toSeq
      CorpusPrep.mismatch(sh, out)
    }
  }

  def opSeconds: Seq[Double] = pipelineS.toSeq
  def items: Double = docs.toDouble

  def report: Seq[Metric] = Seq(
    Metric("docs_per_s", itemsPerS, "1/s"),
    Metric("pipeline_p50_s", opP50S, "s"),
    Metric("pipelines", pipelineS.size, "count"))

  def layers(t: TraceView): Seq[(String, Double)] = {
    val n = pipelineS.size.toDouble
    import TraceView.ratio
    Seq("jobs.runs" -> ratio(jobRuns.toDouble, n),
      "jobs.failed" -> jobsFailed.toDouble,
      "jobs.self_s" -> ratio(t.selfSeconds("jobs.run"), n)) ++
      Phases.flatMap { p =>
        val c = t.counters(s"prep.$p")
        Seq(s"prep.$p.s" -> ratio(t.seconds(s"prep.$p"), n),
          s"prep.$p.cpu_s" -> ratio(c.cpuNs / 1e9, n),
          s"prep.$p.shuffle_bytes" -> ratio(c.shuffleWrite.toDouble, n),
          s"prep.$p.spill_bytes" -> ratio(c.spill.toDouble, n),
          s"prep.$p.jobs" -> ratio(c.jobs.toDouble, n))
      }
  }
}

object CorpusPrep {
  val DocsPerShard = 600
  /** Pipeline runs before measuring, each over a shard of its own; see the
    * README for how far from steady the measured run still is.
    */
  val WarmUpRuns = 1

  /** The pipeline's phases as its `phase` callback names them, then the
    * job's own publish.
    */
  val Phases: Seq[String] = Seq("quality_gate", "line_dedup", "span_removal",
    "near_dup_cluster", "decontaminate", "split_pack", "publish")

  /** Null when `out` holds exactly one disposition per document of `sh`
    * and no planted copy or defect is kept; otherwise what differs.
    */
  def mismatch(sh: Shard, out: Seq[(Long, String)]): String = {
    val ids = sh.docs.map(_._1).toSet
    val byId = out.groupBy(_._1)
    byId.collectFirst { case (id, rows) if rows.size > 1 => s"doc $id has ${rows.size} dispositions" }
      .orElse(ids.find(!byId.contains(_)).map(id => s"doc $id has no disposition"))
      .orElse(byId.keys.find(!ids.contains(_)).map(id => s"unknown doc $id"))
      .orElse(sh.planted.collectFirst {
        case (id, kind) if byId.get(id).exists(_.head._2 == "kept") => s"planted $kind doc $id is kept"
      })
      .orNull
  }
}

package graftbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. `op` is the workload operation the span
  * belongs to, the identifier every span of that operation shares:
  * negative for set-up repetitions, 0 for output checks, 1, 2, … for the
  * measured operations. Times are `System.nanoTime`.
  */
final case class Span(id: Int, parent: Int, name: String, op: Int,
                      start: Long, end: Long) {
  def seconds: Double = (end - start) / 1e9
}

/** Records a span around each of the benchmark's calls into a graft layer.
  * Disabled, every method runs its body and records nothing. Spans stay in
  * memory and are written out once, when the run ends. The open span's id
  * rides on the calling thread as a Spark local property, so the Spark jobs
  * a call starts can be attributed to it by [[SparkCounters]]. One thread
  * only.
  */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[(Int, String, Long)]
  private var nextId = 1
  private var phaseId = 0
  var op: Int = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = begin(name)
      try body finally end(id)
    }

  def begin(name: String): Int = {
    val id = nextId
    nextId += 1
    open = (id, name, System.nanoTime()) :: open
    sc.setLocalProperty(Tracer.SpanKey, id.toString)
    id
  }

  /** Close span `id` and any span still open inside it (a call that threw
    * past its phases closes them with it).
    */
  def end(id: Int): Unit = {
    require(open.exists(_._1 == id), s"span $id is not open")
    val now = System.nanoTime()
    while (open.head._1 != id) closeTop(now)
    closeTop(now)
    if (phaseId != 0 && !open.exists(_._1 == phaseId)) phaseId = 0
  }

  private def closeTop(now: Long): Unit = {
    val (id, name, start) = open.head
    open = open.tail
    done += Span(id, open.headOption.map(_._1).getOrElse(0), name, op, start, now)
    sc.setLocalProperty(Tracer.SpanKey, open.headOption.map(_._1.toString).orNull)
  }

  /** One phase of a call that reports its phases by name, as
    * `Prep.corpusPipeline`'s `phase` callback does: closes the previous
    * phase's span and opens this one.
    */
  def phase(name: String): Unit = if (enabled) {
    endPhase()
    phaseId = begin(name)
  }

  def endPhase(): Unit = if (enabled && phaseId != 0) {
    val id = phaseId
    phaseId = 0
    end(id)
  }

  def spans: Seq[Span] = done.toSeq

  def write(path: java.nio.file.Path, runId: String): Unit = {
    Option(path.getParent).foreach(java.nio.file.Files.createDirectories(_))
    val lines = done.map { s =>
      s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""op":${s.op},"start_ns":${s.start},"end_ns":${s.end}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val SpanKey = "graftbench.span"
}

/** Spark's work summed over tasks, attributed to one span. */
final class Counters {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs = 0L
  var shuffleRead, shuffleWrite, spill = 0L
  var inputBytes, inputRecords, outputBytes = 0L

  def add(o: Counters): Counters = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite; spill += o.spill
    inputBytes += o.inputBytes; inputRecords += o.inputRecords
    outputBytes += o.outputBytes
    this
  }
}

/** Listener that attributes every job, stage and task to the span that was
  * open on the thread that started the job. A span's counters are its own
  * (self) work: jobs started inside a child span count for the child.
  */
final class SparkCounters extends SparkListener {
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val bySpan = mutable.HashMap.empty[Int, Counters]
  private var started, ended = 0L

  private def of(span: Int): Counters = bySpan.getOrElseUpdate(span, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(0)
    e.stageIds.foreach(stageSpan(_) = span)
    of(span).jobs += 1
    started += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { ended += 1 }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    of(stageSpan.getOrElse(e.stageInfo.stageId, 0)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val c = of(stageSpan.getOrElse(e.stageId, 0))
      c.tasks += 1
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
      c.inputRecords += m.inputMetrics.recordsRead
      c.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  /** Wait until the listener bus has delivered the end of every job it
    * announced, so the counters are complete.
    */
  def quiesce(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var last = -1L
    var settled = false
    while (!settled && System.currentTimeMillis() < deadline) {
      Thread.sleep(100)
      val (s, e) = synchronized((started, ended))
      settled = s == e && s == last
      last = s
    }
  }

  def forSpan(span: Int): Counters = synchronized(new Counters().add(of(span)))
}

/** Samples Spark's storage memory in use (cached and checkpointed blocks,
  * broadcast pieces) every `periodMs` on a thread of its own, keeping the
  * peak since the last [[reset]].
  */
final class StorageSampler(sc: SparkContext, periodMs: Long = 10L) extends AutoCloseable {
  @volatile private var peak = 0L
  @volatile private var running = true
  private val thread = new Thread(() => {
    while (running && !sc.isStopped) {
      val used = sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum
      if (used > peak) peak = used
      Thread.sleep(periodMs)
    }
  }, "graftbench-storage-sampler")
  thread.setDaemon(true)
  thread.start()

  def reset(): Unit = peak = 0L
  def peakBytes: Long = peak

  override def close(): Unit = {
    running = false
    thread.join()
  }
}

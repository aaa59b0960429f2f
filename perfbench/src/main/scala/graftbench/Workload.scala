package graftbench

import scala.collection.mutable

/** A metric as printed: name, value, unit. */
final case class Metric(name: String, value: Double, unit: String)

/** One workload: a closed loop with a single client. [[Main]] calls
  * [[setUp]] a few times, then [[warmUp]] once, then [[step]] until the
  * measuring time is over.
  */
trait Workload {
  /** Generate the inputs from the seed and load them, from scratch. */
  def setUp(rep: Int): Unit

  /** Operations run before measuring, so that the JIT compiler, Spark's
    * code generation and the caches are warm.
    */
  def warmUp(): Unit

  def step(op: Int): Unit

  /** The time of each measured operation. */
  def opSeconds: Seq[Double]

  /** Work completed by the measured operations (rows, documents, queries). */
  def items: Double

  def itemsPerS: Double = TraceView.ratio(items, opSeconds.sum)
  def opP50S: Double = Stats.median(opSeconds)

  /** The workload's own named end-to-end figures, for the report. */
  def report: Seq[Metric]

  /** Per-layer figures from a traced run. */
  def layers(t: TraceView): Seq[(String, Double)]
}

/** Operations attempted and failed. An operation fails when it throws or
  * when its output check finds a difference.
  */
final class Outcomes {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  /** Run `body`, which returns null when its check passes and a
    * description of the difference otherwise.
    */
  def attempt(what: String)(body: => String): Unit = {
    attempted += 1
    val problem =
      try body
      catch { case e: Exception => s"threw ${e.getClass.getSimpleName}: ${e.getMessage}" }
    if (problem != null) {
      failed += 1
      if (failures.size < 20) failures += s"$what: $problem"
      System.err.println(s"[perfbench] FAILED $what: $problem")
    }
  }
}

/** Read-only view of a traced run, limited to the measured operations
  * (op ≥ 1) unless a method says otherwise.
  */
final class TraceView(all: Seq[Span], counters: SparkCounters, val ops: Int) {
  private val children: Map[Int, Seq[Span]] = all.groupBy(_.parent)

  def named(name: String, measuredOnly: Boolean = true): Seq[Span] =
    all.filter(s => s.name == name && (!measuredOnly || s.op >= 1))

  def seconds(name: String): Double = named(name).map(_.seconds).sum

  def selfSeconds(name: String): Double = named(name).map { s =>
    Stats.selfTime(s.start, s.end, children.getOrElse(s.id, Nil).map(c => (c.start, c.end))) / 1e9
  }.sum

  /** Spark's work in `span` and every span opened inside it. */
  def inclusive(span: Span): Counters =
    children.getOrElse(span.id, Nil).foldLeft(counters.forSpan(span.id))((c, k) => c.add(inclusive(k)))

  def counters(name: String): Counters =
    named(name).foldLeft(new Counters)((c, s) => c.add(inclusive(s)))

  def perOp(x: Double): Double = TraceView.ratio(x, ops)
}

object TraceView {
  def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b
}

object Workload {
  def deleteTree(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true): Unit
  }
}

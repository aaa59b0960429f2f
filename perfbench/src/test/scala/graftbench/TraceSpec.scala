package graftbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite with BeforeAndAfterAll {

  test("percentiles interpolate between the closest ranks") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(math.abs(Stats.percentile((1 to 10).map(_.toDouble), 0.9) - 9.1) < 1e-12)
    assert(Stats.percentile(Seq(5.0), 0.9) == 5.0)
    assert(Stats.percentile(Seq(1.0, 2.0), 0.0) == 1.0)
    assert(Stats.percentile(Seq(1.0, 2.0), 1.0) == 2.0)
    assertThrows[IllegalArgumentException](Stats.median(Nil))
  }

  test("a p90 needs at least ten samples beyond it") {
    assert(!Stats.tailSupported(99, 0.9))
    assert(Stats.tailSupported(100, 0.9))
  }

  test("self time subtracts the union of the children, clipped to the span") {
    assert(Stats.selfTime(0, 100, Nil) == 100)
    assert(Stats.selfTime(0, 100, Seq((10L, 20L), (30L, 50L))) == 70)
    // overlapping children count once
    assert(Stats.selfTime(0, 100, Seq((10L, 40L), (30L, 50L), (45L, 60L))) == 50)
    // a child reaching past the span counts only inside it
    assert(Stats.selfTime(0, 100, Seq((90L, 130L), (-5L, 5L))) == 85)
    assert(Stats.covered(0, 100, Seq((20L, 10L))) == 0)
  }

  private lazy val spark = graft.SparkConfigs.local(2)

  override def afterAll(): Unit = spark.stop()

  test("spans nest, and Spark's work lands on the innermost open span") {
    val sc = spark.sparkContext
    val counters = new SparkCounters
    sc.addSparkListener(counters)
    val tracer = new Tracer(true, sc)
    tracer.op = 1
    tracer.span("outer") {
      spark.range(100).collect()
      tracer.span("inner") {
        spark.range(1000).repartition(3).count()
      }
      tracer.phase("p1")
      spark.range(10).count()
      tracer.phase("p2")
      tracer.endPhase()
    }
    counters.quiesce()
    sc.removeSparkListener(counters)
    val view = new TraceView(tracer.spans, counters, 1)
    val outer = view.named("outer").head
    val inner = view.named("inner").head
    assert(inner.parent == outer.id)
    assert(view.named("p1").head.parent == outer.id)
    assert(view.named("p2").size == 1)
    assert(counters.forSpan(inner.id).jobs >= 1)
    assert(counters.forSpan(inner.id).shuffleWrite > 0)
    assert(counters.forSpan(outer.id).shuffleWrite == 0)
    assert(view.counters("outer").jobs ==
      counters.forSpan(outer.id).jobs + counters.forSpan(inner.id).jobs +
        counters.forSpan(view.named("p1").head.id).jobs)
    assert(view.selfSeconds("outer") < outer.seconds - inner.seconds + 1e-9)
    assert(sc.getLocalProperty(Tracer.SpanKey) == null)
  }

  test("a disabled tracer runs the body and records nothing") {
    val tracer = new Tracer(false, spark.sparkContext)
    assert(tracer.span("x")(41 + 1) == 42)
    tracer.phase("p")
    tracer.endPhase()
    assert(tracer.spans.isEmpty)
  }

  test("BENCHMARK.json names exactly the metrics the benchmark prints") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(new java.io.File("../BENCHMARK.json"))
    def entries(key: String) = {
      val it = root.get(key).elements()
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).toSeq
    }
    def named(key: String) = entries(key).map(n => n.get("name").asText() -> n.get("unit").asText())
    assert(named("end_to_end").toMap == Main.EndToEnd.toMap)
    assert(named("per_layer") == Main.PerLayer)
    assert(entries("workloads").map(_.get("name").asText()) == Main.Workloads)
  }
}

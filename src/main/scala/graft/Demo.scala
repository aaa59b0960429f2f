package graft

import org.apache.spark.sql.functions._
import graft.io.Connections
import graft.jobs._
import graft.meta.{DefaultsStore, Status, StatusTracker}
import graft.ops.{Diff, Loading}
import graft.ops.ValueSpec._

/** End-to-end library usage example: the full reference workflow — named
  * connections, a Loading-style job with mapped projection + finalize,
  * scheduler selection, lifecycle tracking, the monitoring view, and a CDC
  * diff of the published dataset — driven exactly as a library user would.
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val spark = SparkConfigs.local(4)
    spark.sparkContext.setLogLevel("WARN")

    val warehouse = java.nio.file.Files.createTempDirectory("graft_demo").toString
    Connections.clear()
    Connections.add(Connections.ConnectionInfo("source", "parquet",
      basePath = Some("/root/testdata/sf0.001")))
    Connections.add(Connections.ConnectionInfo("dataset", "parquet",
      basePath = Some(warehouse)))

    // A Loading job: staging lineitem → mapped projection → finalize → publish.
    object OrdersLoad extends EtlJob {
      val name = "orders_load"
      override val jobType = "loading"
      def run(ctx: JobContext): Unit = {
        ctx.setPhase("mapping")
        val li = Connections.read(ctx.spark, "source", "lineitem")
        val mapped = Loading.appendProjection(
          li,
          Seq(
            "order_id" -> col_("l_orderkey"),
            "flag"     -> col_("l_returnflag"),
            "price"    -> Sql("round(l_extendedprice * (1.0 - l_discount), 4)")),
          condition = Some("l_quantity > 40.0"))
        ctx.setPhase("finalize")
        val published = Loading.finalizeDataset(
          mapped, batchId = 1L,
          now = lit(java.sql.Timestamp.from(ctx.now)))
        Connections.write(published, "dataset", "orders_published", mode = "overwrite")
      }
    }

    val tracker  = new StatusTracker
    val defaults = new DefaultsStore
    defaults.forDomain("orders_load").update("data_source_name", "tpch-lineitem")
    val registry = new JobRegistry
    registry.register(OrdersLoad)
    val scheduler = new Scheduler(registry, new JobRunner(spark, defaults, tracker))

    val schedules = Seq(
      Status.Schedule(1, "orders_load", None, isEnabled = true, "daily", forceRun = false, 1),
      Status.Schedule(2, "missing_job", None, isEnabled = true, "daily", forceRun = false, 2))
    val results = scheduler.runScheduledJobs(schedules, java.time.LocalDate.now())
    println(s"[demo] run results: $results")

    val published = Connections.read(spark, "dataset", "orders_published")
    println(s"[demo] published rows: ${published.count()}")
    published.show(3, truncate = false)

    // Monitoring view (O9) over the tracker's status rows.
    import spark.implicits._
    val statusDF = tracker.all.toDF()
      .withColumnRenamed("jobName", "jobName")
    Status.monitoringView(
      statusDF,
      Seq(Status.Schedule(1, "orders_load", None, isEnabled = true, "daily", forceRun = false, 1)).toDF(),
      new java.sql.Timestamp(System.currentTimeMillis())).show(truncate = false)

    // CDC diff (§2.7) of the published dataset vs a mutated copy.
    val mutated = published.filter(col("order_id") % 3 =!= 0)
    val diff = Diff.tableDiff(published.select("order_id", "flag", "price").distinct(),
      mutated.select("order_id", "flag", "price").distinct(),
      Seq("order_id"), Seq("flag"))
    println(s"[demo] cdc diff rows: ${diff.count()}")

    val ok = tracker.forJob("orders_load").head.status == "ok" && published.count() > 0
    println(s"[demo] ${if (ok) "PASS" else "FAIL"}")
    spark.stop()
    if (!ok) sys.exit(1)
  }
}

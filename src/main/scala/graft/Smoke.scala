package graft


/** Local replica of the driver's t1 smoke: SparkEntry.entry must return >0
  * rows on sf0.001. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = SparkConfigs.local(4)
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    df.show(20, truncate = false)
    val n = df.count()
    println(s"[smoke] entry rows = $n -> ${if (n > 0) "PASS" else "FAIL"}")
    spark.stop()
    if (n == 0) sys.exit(1)
  }
}

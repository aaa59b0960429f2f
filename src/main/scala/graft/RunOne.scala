package graft


/** Debug runner: execute ONE named SparkEntry query against an sf dir and
  * show its head — `runMain graft.RunOne <sfdir> <query> [n]`. Lets a
  * failing query reproduce in isolation without a full Verify sweep.
  */
object RunOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name  = args(1)
    val n     = if (args.length > 2) args(2).toInt else 20
    val spark = SparkConfigs.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.show(n, truncate = false)
    println(s"[runone] $name rows = ${df.count()}")
    spark.stop()
  }
}

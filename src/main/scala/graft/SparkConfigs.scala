package graft

import org.apache.spark.sql.SparkSession

/** Session presets: the local test shape and the 100 TB cluster shape.
  * Only public Spark configuration keys.
  */
object SparkConfigs {

  /** Local harness session (tests, the mains, the benchmarks):
    * cores-matched shuffle partitions, UTC, AQE on (default in Spark 4).
    */
  def local(cores: Int = 32): SparkSession = session(s"local[$cores]", cores)

  /** The one session builder: the [[local]] settings on any `master`
    * (a deployment's `SPARK_MASTER` through [[graft.Cli]]).
    */
  def session(master: String, shufflePartitions: Int): SparkSession =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  /** The settings that matter at 100 TB / ~1000 executors. Returns the
    * key→value map (appliable to any builder) rather than a session, since
    * cluster managers inject master/deploy settings.
    *
    *  - AQE owns runtime re-planning: coalescing small shuffle partitions,
    *    skew-join splitting, and broadcast demotion/promotion from runtime
    *    stats. Initial shuffle partitions are set HIGH (4× core count) and
    *    AQE coalesces down — undersized initial partitions spill, oversized
    *    ones only cost scheduler overhead.
    *  - 128 MB scan partitions keep a 100 TB input at ~800k tasks — large
    *    enough for vectorized parquet reads, small enough for retry
    *    granularity.
    *  - Broadcast threshold at 64 MB: dimension tables (region/nation/
    *    supplier-class) broadcast; fact-fact joins shuffle. AQE's runtime
    *    threshold catches filtered-down fact sides.
    *  - Kryo + compressed shuffle: wire volume dominates at this scale.
    */
  def clusterConf(executorCores: Int = 4, executors: Int = 1000): Map[String, String] = Map(
    "spark.sql.adaptive.enabled"                      -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled"   -> "true",
    "spark.sql.adaptive.skewJoin.enabled"             -> "true",
    "spark.sql.shuffle.partitions"                    -> (executorCores * executors * 4).toString,
    "spark.sql.files.maxPartitionBytes"               -> (128L * 1024 * 1024).toString,
    "spark.sql.autoBroadcastJoinThreshold"            -> (64L * 1024 * 1024).toString,
    "spark.sql.session.timeZone"                      -> "UTC",
    "spark.serializer"                                -> "org.apache.spark.serializer.KryoSerializer",
    "spark.shuffle.compress"                          -> "true",
    "spark.sql.parquet.filterPushdown"                -> "true",
    "spark.sql.parquet.aggregatePushdown"             -> "true",
    // graft's optimizer rule and SQL functions, cluster-wide:
    "spark.sql.extensions"                            -> "graft.plans.GraftSparkExtensions"
  )
}

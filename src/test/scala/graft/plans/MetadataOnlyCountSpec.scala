package graft.plans

import graft.SparkSpec
import graft.ops.Manifest
import org.apache.spark.sql.functions._

/** The metadata-only count(*) rule: the optimized plan must contain NO
  * file scan (the aggregate collapses to a LocalRelation carrying the
  * manifest's recorded row total), the value must match a real scan, and
  * anything the rule cannot prove — filters, grouping, count(col) —
  * must be left alone.
  */
class MetadataOnlyCountSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/ds"

  private def fixture(): String = {
    val dir = tmp("metacount")
    Manifest.append(spark.range(0, 700).toDF("id")
      .withColumn("v", col("id") % 5).repartition(3), dir)
    Manifest.append(spark.range(700, 1000).toDF("id")
      .withColumn("v", col("id") % 5).repartition(2), dir)
    dir
  }

  private def hasScan(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectLeaves().exists {
      case _: org.apache.spark.sql.execution.datasources.LogicalRelation => true
      case _ => false
    }

  test("count(*) over a manifest table collapses to the manifest's row facts") {
    MetadataOnlyCount.install(spark)
    val dir = fixture()
    val cnt = Manifest.table(spark, dir).agg(count(lit(1)).as("n"))
    assert(!hasScan(cnt), "count(*) should not plan a scan:\n" +
      cnt.queryExecution.optimizedPlan)
    assert(cnt.head.getLong(0) == 1000L)
    // SQL through the format too, including time travel
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW meta_cnt_v " +
      s"USING `graft-manifest` OPTIONS (path '$dir')")
    val sqlCnt = spark.sql("SELECT count(*) AS n FROM meta_cnt_v")
    assert(!hasScan(sqlCnt) && sqlCnt.head.getLong(0) == 1000L)
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW meta_cnt_v1 " +
      s"USING `graft-manifest` OPTIONS (path '$dir', version '1')")
    val v1Cnt = spark.sql("SELECT count(*) AS n FROM meta_cnt_v1")
    assert(!hasScan(v1Cnt) && v1Cnt.head.getLong(0) == 700L)
  }

  test("min/max over recorded bounds answer from metadata; gaps keep the scan") {
    MetadataOnlyCount.install(spark)
    val dir = tmp("metaminmax")
    Manifest.appendWithStats(spark.range(0, 400).toDF("id")
      .withColumn("v", col("id") % 5).repartition(3), dir, Seq("id"))
    Manifest.appendWithStats(spark.range(400, 900).toDF("id")
      .withColumn("v", col("id") % 5).repartition(2), dir, Seq("id"))
    val t = Manifest.table(spark, dir)
    val mm = t.agg(min(col("id")).as("lo"), max(col("id")).as("hi"),
      count(lit(1)).as("n"))
    assert(!hasScan(mm), "min/max/count should be metadata-only:\n" +
      mm.queryExecution.optimizedPlan)
    val r = mm.head
    assert(r.getLong(0) == 0L && r.getLong(1) == 899L && r.getLong(2) == 900L)
    // v has no recorded bounds → scan stays, values still right
    val noStats = t.agg(min(col("v")).as("lo"))
    assert(hasScan(noStats) && noStats.head.getLong(0) == 0L)
    // a computed alias REUSING a stats column's name must not read its
    // bounds: -id aliased as "id"
    val trap = t.select((-col("id")).as("id")).agg(min(col("id")).as("lo"))
    assert(hasScan(trap), "aliased expression must not hit column bounds")
    assert(trap.head.getLong(0) == -899L)
  }

  test("filters, grouping, and count(col) keep their scans") {
    MetadataOnlyCount.install(spark)
    val dir = fixture()
    val t = Manifest.table(spark, dir)
    val filtered = t.filter(col("id") < 10).agg(count(lit(1)).as("n"))
    assert(hasScan(filtered) && filtered.head.getLong(0) == 10L)
    val grouped = t.groupBy("v").agg(count(lit(1)).as("n"))
    assert(hasScan(grouped) && grouped.count() == 5)
    val countCol = t.agg(count(col("id")).as("n"))
    assert(hasScan(countCol) && countCol.head.getLong(0) == 1000L)
  }

  test("GROUP BY a partition column answers from per-partition row facts") {
    MetadataOnlyCount.install(spark)
    import spark.implicits._
    val dir = tmp("metagroup")
    val df = Seq.tabulate(90)(i =>
      (i.toLong, Seq("en", "fr", "de")(i % 3), if (i % 9 == 0) null else s"s$i"))
      .toDF("id", "lang", "tag")
    Manifest.upsert(df, dir, keys = Seq("id"), orderCol = "id",
      partitionCols = Seq("lang"))
    // partition-scoped append keeps the layout; facts stay per-file
    Manifest.upsert(Seq((100L, "en", "x")).toDF("id", "lang", "tag"), dir,
      keys = Seq("id"), orderCol = "id", partitionCols = Seq("lang"))
    val t = Manifest.table(spark, dir)
    val grouped = t.groupBy("lang").agg(count(lit(1)).as("n"))
    assert(!hasScan(grouped), "partition-grouped count should be metadata-only:\n"
      + grouped.queryExecution.optimizedPlan)
    val got = grouped.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("en" -> 31L, "fr" -> 30L, "de" -> 30L))
    // count(col) per partition needs the #nulls fact → absent here: scan
    val nullCounted = t.groupBy("lang").agg(count(col("tag")).as("n"))
    assert(hasScan(nullCounted))
    // grouping by a NON-partition column keeps its scan
    val nonPart = t.groupBy("tag").agg(count(lit(1)).as("n"))
    assert(hasScan(nonPart))
  }

  test("partition-grouped count(col)/min/max answer when facts are recorded") {
    MetadataOnlyCount.install(spark)
    import spark.implicits._
    val dir = tmp("metagroup2")
    val df = Seq.tabulate(60)(i =>
      (i.toLong, if (i % 2 == 0) "a" else "b", if (i % 10 == 0) null else s"v$i"))
      .toDF("id", "p", "s")
    // stage partitioned WITH stats: upsert writes the layout, then a
    // stats-recording compaction (partition layout preserved) attaches
    // bounds and null counts to every live file
    Manifest.upsert(df, dir, keys = Seq("id"), orderCol = "id",
      partitionCols = Seq("p"),
      extraProps = Map("stats.cols" -> "id,s"))
    Manifest.compact(spark, dir)
    val t = Manifest.table(spark, dir)
    val agg = t.groupBy("p").agg(count(lit(1)).as("n"), count(col("s")).as("n_s"),
      min(col("id")).as("lo"), max(col("id")).as("hi"))
    assert(!hasScan(agg), "grouped facts should be metadata-only:\n"
      + agg.queryExecution.optimizedPlan)
    val got = agg.collect().map(r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // evens are p=a (ids 0..58); i%10==0 nulls are all even
    assert(got("a") == ((30L, 24L, 0L, 58L)) && got("b") == ((30L, 30L, 1L, 59L)))
  }

  test("the SparkSessionExtensions entry point registers the rule") {
    // `spark.sql.extensions` is a STATIC conf — it applies only at the
    // first session creation in a JVM, so an end-to-end check would need
    // a fresh SparkContext. Verify the injection itself via the
    // same-package shim instead; rule behavior is covered above through
    // the install() path (the identical Rule object). The class checked
    // is the one the cluster preset names, and it must carry graft_dot too.
    val cls = graft.SparkConfigs.clusterConf()("spark.sql.extensions")
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    Class.forName(cls).getDeclaredConstructor().newInstance()
      .asInstanceOf[org.apache.spark.sql.SparkSessionExtensions => Unit](ext)
    val rules = org.apache.spark.sql.GraftShim.injectedOptimizerRules(ext, spark)
    assert(rules.exists(_ eq MetadataOnlyCount))
    assert(org.apache.spark.sql.GraftShim.injectedFunctionNames(ext) == Seq("graft_dot"))
  }
}

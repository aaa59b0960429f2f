package graft


/** Plan-inspection harness: prints the formatted physical plan per query
  * and flags scale smells — missing filter pushdown, full-column scans,
  * cartesian products, missing whole-stage codegen.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val only  = args.drop(1).toSet
    val spark = SparkConfigs.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    // Queries whose BroadcastNestedLoopJoin is the DESIGNED shape, not a
    // defect: brute-force ANN baselines broadcast the (tiny) query side —
    // their LSH/IVF siblings are the scale path; centroid assignment
    // broadcasts k rows; scalar subqueries broadcast one row.
    val intentionalBnlj = Set(
      "ann_cosine_topk", "ann_topk_agg", "ann_quantized_topk", // brute-force baselines
      "ann_pq_topk",                                           // 8-query broadcast probe side
      "ann_ivf_topk", "ann_ivf_batch_topk",                    // k-centroid broadcast assign
      "dedup_embedding",                                       // small-N verifier (lsh variant scales)
      "sq_scalar", "text_tfidf",                               // 1-row scalar broadcasts
      "q15_top_supplier", "q22_idle_customers",                // 1-row max/avg threshold broadcasts
      "q11_important_stock",                                   // 1-row total-value broadcast
      "ev_resample_gapfill",                                   // 1-row min/max grid-bounds broadcast
      "profile_drift_psi",                                     // 1-row cohort-totals broadcast
      "text_unigram_score",                                    // 1-row corpus-total broadcast
      "dedup_semantic",                                        // k-centroid broadcast assign
      // sketch-vs-exact tolerance verdicts: the estimate row (1 row) is
      // crossed with the exact-answer row (1 row) to form the verdict
      "agg_hll_mergeable", "agg_kll_mergeable", "agg_hll_intersection",
      // recall floors: brute-force ground truth (designed baseline) plus
      // 1-row per-method recall frames unioned
      "ann_recall",
      // exact profile: 1-row base aggregate crossed with 1-row
      // single-distinct aggregates (the no-Expand shape)
      "profile_columns")
    // Queries whose plan is METADATA-ONLY by design: the optimizer
    // collapses the scan+aggregate to a LocalRelation, so "no
    // WholeStageCodegen" means "no work", not "interpreted work".
    val intentionalNoCodegen = Set("manifest_meta_count_sql",
      "manifest_meta_agg_sql") // min/max/count answered from per-file facts
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (only.isEmpty || only.contains(name)) {
        // Non-AQE physical plan: codegen stages render as *(n) markers
        // (AdaptiveSparkPlan hides them until execution).
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        val df   = fn(spark, sfDir)
        val plan = df.queryExecution.executedPlan.toString
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        val smells = Seq(
          "CartesianProduct" -> plan.contains("CartesianProduct"),
          "BroadcastNestedLoopJoin" -> (plan.contains("BroadcastNestedLoopJoin") &&
            !intentionalBnlj.contains(name)),
          "BNLJ(intentional)" -> (plan.contains("BroadcastNestedLoopJoin") &&
            intentionalBnlj.contains(name)),
          "no-codegen" -> (!(plan.contains("WholeStageCodegen") || plan.contains("*(")) &&
            !intentionalNoCodegen.contains(name)),
          "metadata-only" -> intentionalNoCodegen.contains(name)
        ).collect { case (s, true) => s }
        println(s"\n===== $name ${if (smells.nonEmpty) "SMELLS: " + smells.mkString(",") else ""}")
        println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      }
    }
    spark.stop()
  }
}

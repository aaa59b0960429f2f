package graft

/** Regenerates README.md's query-inventory section from the live
  * [[SparkEntry.queries]] registry, so the documented surface can never
  * drift from what the driver actually verifies. Pure driver-side string
  * work — no SparkSession.
  *
  * Run: `sbt "runMain graft.DocGen"` (rewrites README.md in place between
  * the BEGIN/END markers).
  */
object DocGen {

  private val Begin = "<!-- BEGIN GENERATED QUERY INVENTORY (sbt \"runMain graft.DocGen\") -->"
  private val End = "<!-- END GENERATED QUERY INVENTORY -->"

  private def category(n: String): String =
    if (n.endsWith("_stream")) "Structured streaming (batch-oracle parity)"
    else if (n.matches("q\\d+_.*")) "TPC-H query shapes"
    else if (n.startsWith("dedup_")) "Deduplication"
    else if (n.startsWith("ann_")) "Similarity search / ANN"
    else if (n.startsWith("text_") || n.startsWith("quality_")) "Text analysis"
    else if (n.startsWith("sample_") || n.startsWith("split_")) "Sampling, splits & packing"
    else if (n.startsWith("contam_")) "Benchmark contamination"
    else if (n.startsWith("prep_")) "Corpus-prep composition"
    else if (n.startsWith("profile_") || n.startsWith("hist_") ||
      n.startsWith("check_") || n.startsWith("psi_")) "Profiling, drift & quality gates"
    else if (n.startsWith("ev_")) "Event analytics"
    else if (n.startsWith("mm_")) "Multimodal"
    else if (n.startsWith("agg_") || n.startsWith("fn_") || n.startsWith("set_") ||
      n.startsWith("gs_") || n.startsWith("pivot") || n.startsWith("sq_") ||
      n.matches("w\\d+_.*")) "SQL surface (aggregates, functions, windows, set ops)"
    else if (n.startsWith("manifest_")) "Transactional manifest layer"
    else if (n.startsWith("graph_")) "Graph analytics"
    else "Loading, CDC & orchestration (reference operator set)"

  def render(): String = {
    val names = SparkEntry.queries.keys.toSeq.sorted
    val oracled = SparkEntry.oracleSql.keySet
    val byCat = names.groupBy(category)
    val catOrder = Seq(
      "Loading, CDC & orchestration (reference operator set)",
      "TPC-H query shapes",
      "SQL surface (aggregates, functions, windows, set ops)",
      "Deduplication", "Similarity search / ANN", "Text analysis",
      "Sampling, splits & packing", "Benchmark contamination",
      "Corpus-prep composition", "Profiling, drift & quality gates",
      "Event analytics", "Multimodal",
      "Structured streaming (batch-oracle parity)"
    ).filter(byCat.contains) ++ byCat.keys.toSeq.sorted.filterNot(Seq(
      "Loading, CDC & orchestration (reference operator set)",
      "TPC-H query shapes",
      "SQL surface (aggregates, functions, windows, set ops)",
      "Deduplication", "Similarity search / ANN", "Text analysis",
      "Sampling, splits & packing", "Benchmark contamination",
      "Corpus-prep composition", "Profiling, drift & quality gates",
      "Event analytics", "Multimodal",
      "Structured streaming (batch-oracle parity)").contains)
    val sb = new StringBuilder
    sb ++= s"${names.size} registered queries, ${names.count(oracled)} DuckDB-oracled "
    sb ++= "(every query runs through `Verify` + `tools/check.py`; oracled ones "
    sb ++= "hash-match rows, schema, and values at sf0.01).\n"
    for (cat <- catOrder) {
      val qs = byCat(cat)
      sb ++= s"\n**$cat** (${qs.size}):\n"
      sb ++= qs.map { n =>
        if (oracled(n)) s"`$n`" else s"`$n`*"
      }.mkString("", ", ", "\n")
    }
    sb ++= "\n\\* = verified by tolerance/property tests instead of a SQL oracle.\n"
    sb.toString
  }

  /** `readme` with the text between the markers replaced by [[render]]. */
  def regenerate(readme: String): String = {
    val (b, e) = (readme.indexOf(Begin), readme.indexOf(End))
    require(b >= 0 && e > b, "README.md is missing the generated-inventory markers")
    readme.take(b + Begin.length) + "\n" + render() + readme.drop(e)
  }

  def main(args: Array[String]): Unit = {
    val readme = java.nio.file.Paths.get("README.md")
    val text = new String(java.nio.file.Files.readAllBytes(readme), "UTF-8")
    java.nio.file.Files.write(readme, regenerate(text).getBytes("UTF-8"))
    println(s"[docgen] README.md inventory regenerated: ${SparkEntry.queries.size} queries")
  }
}

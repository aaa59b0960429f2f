package graft

/** End-to-end wiring test for [[Bench]]'s bidirectional contention
  * sentinel (VERDICT r10 #7): the unit rules live in [[BenchCoreSpec]],
  * but nothing there proves the SWEEP → recheck → verdict → artifact →
  * exit-intent chain is actually connected. This spec injects a fixed
  * delay into every sweep pass's timed window (the self-test hook the
  * harness carries precisely for this) while the post-sweep rechecks run
  * clean — reproducing deterministically the round-9 failure shape
  * (recorded samples contended, recheck fast) — and asserts on the REAL
  * emitted artifact and the REAL return code, in-process. The shell
  * variant (tools/contention_selftest.sh) exercises the same path
  * through a forked JVM for the packaged-classpath case.
  */
class BenchSelftestSpec extends SparkSpec {

  /** Runs the bench in-process on the suite's session; (exit intent, artifact). */
  private def bench(env: (String, String)*): (Int, String) = {
    val out = java.nio.file.Files.createTempFile("graft_selftest_bench", ".json")
    // respected: Bench.run only sets WARN on sessions it OWNS
    spark.sparkContext.setLogLevel("ERROR")
    val rc = Bench.run((env.toMap + ("SPARK_GRAFT_BENCH_OUT" -> out.toString)).get)
    assert(!spark.sparkContext.isStopped, "Bench.run must not stop a borrowed session")
    (rc, new String(java.nio.file.Files.readAllBytes(out), "UTF-8"))
  }

  test("injected sweep delay trips the sentinel: contended=true artifact, exit intent 3") {
    val (rc, art) = bench(
      "SPARK_GRAFT_SF_DIR" -> "/root/testdata/sf0.001",
      // three cheap queries keep the spec ~20 s; the injected 2 s delay
      // dominates each sweep sample so recorded/recheck ratio > 3
      "SPARK_GRAFT_BENCH_ONLY" -> "q1_pricing_summary,q3_topk_revenue,f1_filter",
      "SPARK_GRAFT_BENCH_SELFTEST_SWEEP_DELAY_MS" -> "2000",
      "SPARK_GRAFT_BENCH_STRICT" -> "1")
    assert(rc == 3, s"strict mode must return exit intent 3 on a contended run, got $rc")
    assert(art.contains("\"contended\":true"),
      s"artifact must self-label contended=true: $art")
    assert(art.contains("\"timing\":\"interleaved_sweeps_min\""))
  }

  test("clean run returns 0 and leaves the borrowed session alive") {
    val queries = Seq("q1_pricing_summary", "q3_topk_revenue", "f1_filter")
    val (rc, art) = bench(
      "SPARK_GRAFT_SF_DIR" -> "/root/testdata/sf0.001",
      "SPARK_GRAFT_BENCH_ONLY" -> queries.mkString(","))
    assert(rc == 0 && art.contains("\"n_err\":0"))
    queries.foreach(q => assert(("\"counters\":\\{.*\"" + q +
      "\":\\{\"jobs\":[1-9]\\d*,\"stages\":\\d+,\"tasks\":[1-9]").r.findFirstIn(art).isDefined,
      s"counters with jobs >= 1 and tasks >= 1 for $q: $art"))
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

/** README's query inventory is generated from the live registry; this
  * fails when a query is added, renamed or loses its oracle without the
  * inventory being regenerated. No SparkSession: the registry is a map
  * of plan builders.
  */
class DocGenSpec extends AnyFunSuite {
  test("README's generated query inventory equals DocGen.render()") {
    val readme = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("README.md")), "UTF-8")
    assert(DocGen.regenerate(readme) == readme,
      "README's query inventory is stale: run sbt \"runMain graft.DocGen\"")
  }
}

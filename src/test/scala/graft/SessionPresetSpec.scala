package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Every main and suite takes its session from [[SparkConfigs]], so the benched session is the
  * verified one. Scans code as text, no session needed; comment lines (`*`, `/`) are skipped. */
class SessionPresetSpec extends AnyFunSuite {
  test("SparkConfigs is the only file that builds a SparkSession") {
    val builder = """^(?!\s*[*/]).*SparkSession\s*\.\s*builder\s*\(""".r
    val sites = Seq("src/main/scala", "src/test/scala")
      .flatMap(root => Files.walk(Paths.get(root)).iterator().asScala)
      .filter(p => p.toString.endsWith(".scala") && !p.endsWith("SparkConfigs.scala"))
      .flatMap(p => Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if builder.findFirstIn(line).isDefined => s"$p:${i + 1}"
      })
    assert(sites.isEmpty, sites.sorted.mkString("build sessions through SparkConfigs:\n", "\n", ""))
  }
}

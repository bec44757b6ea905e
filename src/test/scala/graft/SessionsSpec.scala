package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The entry-point rules: every session comes from [[Sessions]], and every
  * query-name filter is [[SparkEntry.select]]. */
class SessionsSpec extends AnyFunSuite {

  test("every SparkSession in src/main and src/test is built in graft/Sessions.scala") {
    val needle = "SparkSession" + ".builder" // split so this file does not match itself
    val home = Paths.get("src/main/scala/graft/Sessions.scala")
    assert(Files.exists(home), s"run from the repo root, got ${Paths.get("").toAbsolutePath}")
    val sources = Seq("src/main/scala", "src/test/scala").flatMap { root =>
      val walk = Files.walk(Paths.get(root))
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    def builds(p: Path) = new String(Files.readAllBytes(p), "UTF-8").contains(needle)
    assert(sources.size > 100 && builds(home), "the scan must see the whole tree")
    val strays = sources.filter(p => p.normalize != home.normalize && builds(p))
    assert(strays.isEmpty, s"build the session with graft.Sessions instead: ${strays.mkString(", ")}")
  }

  private def names(tokens: String*) = SparkEntry.select(tokens).map(_._1)

  test("select: a qNN prefix matches exactly, so q6 selects none of q60-q69") {
    assert(SparkEntry.queries.keys.exists(_.startsWith("q6")))
    val e = intercept[IllegalArgumentException](names("q6"))
    assert(e.getMessage.contains("q6"))
    assert(names("q06") == Seq("q06_daily_distinct"))
    assert(names("q60") == Seq("q60_tfidf_terms"))
  }

  test("select: a full name selects only itself; results are sorted and distinct") {
    assert(names("q10_union_stats") == Seq("q10_union_stats"))
    assert(names(" q10_union_stats ", "q01", "q01_pricing_summary") ==
      Seq("q01_pricing_summary", "q10_union_stats"))
  }

  test("select: an unknown token is an error, even next to valid ones") {
    val e = intercept[IllegalArgumentException](names("q01", "q9999", "nosuch"))
    assert(e.getMessage.contains("q9999, nosuch"))
    intercept[IllegalArgumentException](names("", " "))
  }
}

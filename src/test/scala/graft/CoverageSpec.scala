package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** COVERAGE.md ↔ registry consistency (r11 verdict item 5): the
  * hand-maintained operator inventory drifts as the query registry
  * grows, and a drifted inventory silently misleads the coverage audit.
  * No Spark. That every oracle has a query is RegistrySpec's first test. */
class CoverageSpec extends AnyFunSuite {
  private lazy val docTokens: Set[String] = "\\bq[0-9a-z_]*\\b".r
    .findAllIn(Files.readString(Paths.get("COVERAGE.md")))
    .filter(t => t == "q1_agg" || t.startsWith("q_")).toSet
  private val registry = SparkEntry.queries.keySet

  private def sorted(names: Set[String]): String = names.toSeq.sorted.mkString(", ")

  test("every registry query is documented in COVERAGE.md") {
    val undocumented = registry -- docTokens
    assert(undocumented.isEmpty, s"undocumented in COVERAGE.md: ${sorted(undocumented)}")
  }

  test("every query COVERAGE.md names is in the registry") {
    val dead = docTokens -- registry
    assert(dead.isEmpty, s"dead COVERAGE.md rows (typo or removed query): ${sorted(dead)}")
  }

  test("every nonScalePath name is a registry query") {
    // the exact-instrument probe exclusions are a REGISTRY annotation,
    // not prose (r13 verdict item 4)
    val dead = SparkEntry.nonScalePath -- registry
    assert(dead.isEmpty, s"nonScalePath names dead queries: ${sorted(dead)}")
  }
}

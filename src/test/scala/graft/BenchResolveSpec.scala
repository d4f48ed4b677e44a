package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[Bench.resolve]] is how Profile, StackSample and PlanDump turn a
  * command-line name into a declared query: exact name, then the unique
  * `qNN` short key, then a unique prefix; anything else fails loudly
  * instead of running some other query.
  */
class BenchResolveSpec extends AnyFunSuite {

  test("an exact name resolves to itself") {
    assert(Bench.resolve("q01_client_stats") == "q01_client_stats")
    assert(Bench.resolve("q146a_quality_classifier_trained_anchor") ==
      "q146a_quality_classifier_trained_anchor")
  }

  test("a short key resolves to its query even where it is also a wider prefix") {
    // 'q146' prefixes q146a_… too; the short key wins
    assert(Bench.resolve("q146") == "q146_quality_classifier_trained")
    assert(Bench.resolve("q146a") == "q146a_quality_classifier_trained_anchor")
  }

  test("a unique prefix resolves") {
    assert(Bench.resolve("q01_cl") == "q01_client_stats")
  }

  test("an ambiguous prefix fails and lists its matches") {
    val e = intercept[IllegalArgumentException](Bench.resolve("q1"))
    assert(e.getMessage.contains("ambiguous"), e.getMessage)
    for (m <- Seq("q100_", "q146_quality_classifier_trained",
        "q146a_quality_classifier_trained_anchor"))
      assert(e.getMessage.contains(m), s"$m missing: ${e.getMessage}")
  }

  test("an unknown name fails") {
    val e = intercept[IllegalArgumentException](Bench.resolve("no_such_query"))
    assert(e.getMessage.contains("no_such_query"), e.getMessage)
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

/** `SparkEntry.select`, the one query-subset matcher Bench, Verify and
  * PlanDump share. */
class SelectSpec extends AnyFunSuite {

  private def names(only: String*): Seq[String] =
    SparkEntry.select(Some(only.toSet)).map(_._1)

  test("a bare two-digit prefix selects its query, not the three-digit ones") {
    assert(SparkEntry.queries.keySet.exists(_.startsWith("q110_")))
    assert(names("q11") == Seq("q11_datajoin"))
  }

  test("a full name selects itself") {
    assert(names("q112_asof_forward") == Seq("q112_asof_forward"))
    assert(names("q01_wordcount", "q11") == Seq("q01_wordcount", "q11_datajoin"))
  }

  test("a trailing-underscore prefix selects only the names it prefixes") {
    assert(names("q11_") == Seq("q11_datajoin"))
  }

  test("None selects every entry, sorted by name") {
    assert(SparkEntry.select(None).map(_._1) == SparkEntry.queries.keys.toSeq.sorted)
  }
}

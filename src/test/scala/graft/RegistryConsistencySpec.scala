package graft

import java.nio.file.{Files, Paths}

/** The anti-drift gate: the three places the operator surface is declared
  * — the code registry (`Queries.registry`), the coverage contract
  * (SURVEY.md §2), and the README — must agree EXACTLY. Rounds 4-5 shipped
  * with three registry queries invisible to SURVEY §2 and a README count
  * two versions stale; this spec makes that class of drift a test failure.
  */
class RegistryConsistencySpec extends GraftSuite {

  private def read(name: String): String = {
    val p = Paths.get(name)
    assume(Files.exists(p), s"$name not present (not running from repo root)")
    new String(Files.readAllBytes(p), "UTF-8")
  }

  test("SURVEY §2 lists exactly the registry keys, each exactly once") {
    val survey = read("SURVEY.md")
    val section = survey.split("\n## ").find(_.startsWith("§2"))
      .getOrElse(fail("SURVEY.md has no §2 section"))
    val rowRe = """(?m)^\|\s*(\d+)\s*\|\s*`(q_\w+)`""".r
    val rows = rowRe.findAllMatchIn(section)
      .map(m => m.group(1).toInt -> m.group(2)).toSeq
    val surveyKeys = rows.map(_._2)
    assert(surveyKeys.distinct.size == surveyKeys.size,
      s"duplicate keys in SURVEY §2: ${surveyKeys.diff(surveyKeys.distinct)}")
    val registryKeys = Queries.registry.map(_.key)
    assert(registryKeys.distinct.size == registryKeys.size,
      "duplicate keys in Queries.registry")
    val missing = registryKeys.toSet -- surveyKeys.toSet
    val phantom = surveyKeys.toSet -- registryKeys.toSet
    assert(missing.isEmpty, s"registry queries missing from SURVEY §2: $missing")
    assert(phantom.isEmpty, s"SURVEY §2 rows with no registry query: $phantom")
    // op numbers are unique and dense 1..N — a gap means a renumbering
    // went wrong somewhere
    val nums = rows.map(_._1).sorted
    assert(nums == (1 to registryKeys.size).toList,
      s"SURVEY §2 op numbers are not 1..${registryKeys.size}: $nums")
  }

  test("README query count matches the registry") {
    val readme = read("README.md")
    val countRe = """(\d+) queries, ALL (\d+) with DuckDB oracle SQL""".r
    val m = countRe.findFirstMatchIn(readme)
      .getOrElse(fail("README.md lost its registry count line"))
    assert(m.group(1).toInt == Queries.registry.size,
      s"README says ${m.group(1)} queries, registry has ${Queries.registry.size}")
    assert(m.group(2).toInt == Queries.registry.count(_.oracle.trim.nonEmpty),
      s"README oracle count ${m.group(2)} vs ${Queries.registry.count(_.oracle.trim.nonEmpty)}")
  }

  test("every registry query has oracle SQL (no weaker rows-only checks)") {
    val withoutOracle = Queries.registry.filter(_.oracle.trim.isEmpty).map(_.key)
    assert(withoutOracle.isEmpty,
      s"queries without oracle SQL: $withoutOracle")
  }
}

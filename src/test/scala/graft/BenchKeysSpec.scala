package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's key selection (`SPARK_GRAFT_BENCH_ONLY`) and the family
  * membership it reads: the registry's families are the only list. */
class BenchKeysSpec extends AnyFunSuite {
  private val full = SparkEntry.benchQueries

  test("every registry key sits in exactly one family") {
    val names = Queries.families.map(_.name)
    assert(names.distinct == names)
    assert(names.toSet == Set("feeder", "lsh", "ann", "graph", "series", "text", "stats"))
    val keys = Queries.families.flatMap(_.rows.map(_.key))
    assert(keys.distinct == keys, s"keys in two families: ${keys.diff(keys.distinct)}")
    assert(keys == Queries.registry.map(_.key))
  }

  test("a family name expands to exactly that family's bench keys") {
    Queries.families.foreach { f =>
      assert(Bench.selectKeys(full, Some(f.name)) == f.rows.filter(_.bench).map(_.key),
        s"family ${f.name}")
    }
  }

  test("a mixed list of keys and family names selects their union") {
    val ann = Queries.families.find(_.name == "ann").get.rows.filter(_.bench).map(_.key)
    assert(!ann.contains("q_pagerank"))
    assert(Bench.selectKeys(full, Some("q_pagerank, ann")).toSet == ann.toSet + "q_pagerank")
  }

  test("no selection times the full set; unknown names select nothing") {
    assert(Bench.selectKeys(full, None) == full)
    assert(Bench.selectKeys(full, Some("other,q_no_such_query")).isEmpty)
    // a key outside the bench set stays out even when named
    assert(Bench.selectKeys(full, Some("q_zip_extract")).isEmpty)
  }
}

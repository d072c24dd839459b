package graft

import java.nio.file.Paths

import org.apache.spark.sql.SparkSession

/** The plan contract as a gate: invariants of the LIVE plans, asserted
  * so a plan regression fails the build, not a future review:
  *
  *   - no `CartesianProduct` in any registry query's physical plan;
  *   - `PushedFilters` reach the scan where the operator's whole point
  *     is pushdown (q_pushdown_filter, q_orc_roundtrip,
  *     q_paged_pushdown), `PartitionFilters` for q_partitioned_scan;
  *   - declared dim-side joins broadcast (q_feeder_load, q_skew_join,
  *     q_tfidf, q_range_join);
  *   - every query's row of `src/test/resources/plan_budgets.tsv`
  *     ([[PlanFacts]]): its exchanges, source scans, unpartitioned
  *     windows and WSCG spans equal the row, its build jobs stay within
  *     it, and a row with an unpartitioned window — a one-reducer sort
  *     over its whole input — states in `why` the bound that makes that
  *     input small (daily grids, top-k heads, …).
  *
  * Plans are built once over sf0.001, through the QueryRunner, on an
  * AQE-off sibling of the shared session (the Verify/Bench config
  * otherwise), then every test asserts off the shared snapshot. So
  * every fact is the static plan's: Bench and feederbench run with AQE
  * on, where `jobs_build` also counts AQE's stage jobs and the numbers
  * differ. Each run writes what it measured to `target/plan_facts.tsv`
  * in the table's format; the spec never updates the table itself. A
  * change that moves a plan copies the moved rows from there, and
  * `jobs_build` budgets come from `testOnly graft.PlanContractSpec` in a
  * fresh JVM (JVM-wide caches, such as `Ann.pqCodebooks`, and fixtures
  * an earlier suite built make later runs cheaper).
  */
class PlanContractSpec extends GraftSuite {

  private lazy val sibling: SparkSession = PlanFacts.staticSession(spark)

  private lazy val (tableHeader, table) =
    PlanFacts.read(Paths.get("src/test/resources/plan_budgets.tsv"))

  private lazy val measured: Map[String, Either[String, PlanFacts.Measured]] = {
    val m = PlanFacts.measure(sibling, "/root/testdata/sf0.001", SparkEntry.queries)
    PlanFacts.write(Paths.get("target/plan_facts.tsv"), tableHeader, m.collect {
      case (k, Right(f)) => k -> PlanFacts.Row(f.facts, table.get(k).fold("")(_.why))
    })
    m
  }

  private def formatted(k: String): String = measured(k).fold(_ => "", _.formatted)

  private lazy val facts: Map[String, PlanFacts] =
    measured.collect { case (k, Right(f)) => k -> f.facts }

  test("the AQE-off sibling carries every required config") {
    assert(sibling.conf.get("spark.sql.adaptive.enabled") == "false")
    GraftSession.requiredConfigs.foreach { case (k, v) =>
      assert(sibling.conf.get(k) == v, s"required config $k")
    }
    // the plans really are static, and the shared session keeps AQE on
    assert(!formatted("q_feeder_load").contains("AdaptiveSparkPlan"))
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
  }

  test("every registry query builds a plan at sf0.001") {
    val broken = measured.collect { case (k, Left(e)) => s"$k: $e" }
    assert(broken.isEmpty, s"plan build failures:\n${broken.mkString("\n")}")
  }

  test("no CartesianProduct anywhere in the registry") {
    val offenders = measured.keys.filter(formatted(_).contains("CartesianProduct"))
    assert(offenders.isEmpty, s"cartesian products in: ${offenders.mkString(", ")}")
  }

  test("pushdown operators really push: filters reach the scan") {
    // non-empty PushedFilters at a scan node — '[]' would mean the
    // predicate is evaluated post-scan and the operator's point is lost
    def pushed(k: String, key: String): Unit = {
      val fmt = formatted(k)
      val ok = s"$key: \\[[^\\]]".r.findFirstIn(fmt).nonEmpty
      assert(ok, s"$k: no non-empty '$key' in its scan:\n" +
        fmt.linesIterator.filter(_.contains(key)).mkString("\n"))
    }
    pushed("q_pushdown_filter", "PushedFilters")
    pushed("q_orc_roundtrip", "PushedFilters")
    pushed("q_paged_pushdown", "PushedFilters") // the DSv2 source's own pushdown
    pushed("q_partitioned_scan", "PartitionFilters")
  }

  test("declared dim sides broadcast, not shuffle") {
    val missing = Seq("q_feeder_load", "q_tfidf", "q_range_join")
      .filterNot(formatted(_).contains("BroadcastHashJoin"))
    assert(missing.isEmpty, s"no BroadcastHashJoin in: ${missing.mkString(", ")}")
    // q_skew_join's declared contract is the OPPOSITE: its dim side is
    // shuffle-hash-hinted so the salt exercises the shuffle path
    // instead of collapsing into a broadcast
    assert(formatted("q_skew_join").contains("ShuffledHashJoin"),
      "q_skew_join: salted join no longer takes the shuffle-hash path")
  }

  test("plan_budgets.tsv has one row per registry key") {
    val keys = SparkEntry.queries.keySet
    assert(table.keySet == keys,
      s"no row: ${(keys -- table.keySet).toSeq.sorted.mkString(", ")}; " +
        s"no such key: ${(table.keySet -- keys).toSeq.sorted.mkString(", ")}")
  }

  test("no unpartitioned data-sized Window outside the audited allowlist") {
    // the allowlist is the table's rows with a `why`; a NEW query with
    // an unpartitioned window must either partition or state its bound
    val unjustified = facts.collect {
      case (k, f) if f.unpartitionedWindows > 0 && table.get(k).forall(_.why.isEmpty) =>
        s"$k (${f.unpartitionedWindows})"
    }
    assert(unjustified.isEmpty,
      s"unpartitioned windows without a why: ${unjustified.toSeq.sorted.mkString(", ")}")
    val stale = table.collect {
      case (k, r) if r.why.nonEmpty && r.facts.unpartitionedWindows == 0 => k }
    assert(stale.isEmpty, s"a why on a row without windows: ${stale.toSeq.sorted.mkString(", ")}")
  }

  test("every static column equals its plan_budgets.tsv row") {
    val moved = PlanFacts.staticDiffs(facts, table)
    assert(moved.isEmpty, s"plans moved; copy the rows from target/plan_facts.tsv " +
      s"and explain them:\n${moved.mkString("\n")}")
  }

  test("every builder's jobs stay within its plan_budgets.tsv row") {
    val over = PlanFacts.overBudget(facts, table)
    assert(over.isEmpty, s"builders ran more jobs than budgeted:\n${over.mkString("\n")}")
  }
}

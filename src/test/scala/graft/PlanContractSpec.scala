package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** The plan contract as a GATE (r12 verdict task 5). EXPLAINS.md is a
  * dump a judge reads after the fact; this spec asserts the invariants
  * its prose claims on the LIVE plans, so a plan regression fails the
  * build, not a future review:
  *
  *   - no `CartesianProduct` in any registry query's physical plan;
  *   - `PushedFilters` reach the scan where the operator's whole point
  *     is pushdown (q_pushdown_filter, q_orc_roundtrip,
  *     q_paged_pushdown), `PartitionFilters` for q_partitioned_scan;
  *   - declared dim-side joins broadcast (q_feeder_load, q_skew_join,
  *     q_tfidf, q_range_join);
  *   - no UNPARTITIONED data-sized logical Window: a window with an
  *     empty partition spec is a one-reducer sort over its whole input,
  *     legal only when that input is provably bounded (daily grids,
  *     top-k heads, …) — every such query sits in the audited
  *     allowlist below with the bound that justifies it.
  *
  * Plans are built once over sf0.001, through the QueryRunner, on an
  * AQE-off sibling of the shared session (the Verify/Bench config
  * otherwise), then every test asserts off the shared snapshot.
  */
class PlanContractSpec extends GraftSuite {

  private case class PlanFacts(formatted: String,
                               unpartitionedWindows: Int,
                               err: Option[String])

  // static plans: the contract is about what the PLANNER commits to
  // from statistics — AQE can rescue a bad static plan at runtime
  // locally, but the static choice is what scales. A sibling of the
  // shared session keeps its context, extensions and configs; only AQE
  // differs.
  private lazy val sibling: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s
  }

  private lazy val facts: Map[String, PlanFacts] = {
    val runner = new QueryRunner("/root/testdata/sf0.001", () => sibling)
    SparkEntry.queries.keys.map { k =>
      val r = runner.run(k) { df =>
        val qe = df.queryExecution
        val uw = qe.optimizedPlan.collect {
          case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if w.partitionSpec.isEmpty => w
        }.size
        PlanFacts(qe.explainString(ExplainMode.fromString("formatted")), uw, None)
      }
      k -> r.result.fold(
        e => PlanFacts("", 0, Some(Option(e.getMessage).getOrElse(e.getClass.getName))),
        identity)
    }.toMap
  }

  test("the AQE-off sibling carries every required config") {
    assert(sibling.conf.get("spark.sql.adaptive.enabled") == "false")
    GraftSession.requiredConfigs.foreach { case (k, v) =>
      assert(sibling.conf.get(k) == v, s"required config $k")
    }
    // the plans really are static, and the shared session keeps AQE on
    assert(!facts("q_feeder_load").formatted.contains("AdaptiveSparkPlan"))
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
  }

  test("every registry query builds a plan at sf0.001") {
    val broken = facts.collect { case (k, f) if f.err.nonEmpty => s"$k: ${f.err.get}" }
    assert(broken.isEmpty, s"plan build failures:\n${broken.mkString("\n")}")
  }

  test("no CartesianProduct anywhere in the registry") {
    val offenders = facts.collect {
      case (k, f) if f.formatted.contains("CartesianProduct") => k }
    assert(offenders.isEmpty, s"cartesian products in: ${offenders.mkString(", ")}")
  }

  test("pushdown operators really push: filters reach the scan") {
    // non-empty PushedFilters at a scan node — '[]' would mean the
    // predicate is evaluated post-scan and the operator's point is lost
    def pushed(k: String, key: String): Unit = {
      val fmt = facts(k).formatted
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
      .filterNot(k => facts(k).formatted.contains("BroadcastHashJoin"))
    assert(missing.isEmpty, s"no BroadcastHashJoin in: ${missing.mkString(", ")}")
    // q_skew_join's declared contract is the OPPOSITE: its dim side is
    // shuffle-hash-hinted so the salt exercises the shuffle path
    // instead of collapsing into a broadcast
    assert(facts("q_skew_join").formatted.contains("ShuffledHashJoin"),
      "q_skew_join: salted join no longer takes the shuffle-hash path")
  }

  test("no unpartitioned data-sized Window outside the audited allowlist") {
    // Every entry is a window over a DRIVER-BOUNDED row set — the
    // SURVEY-§2-adjudicated devices: calendar-day grids (O(days) after
    // a compress-first aggregate), top-k / fixed-parameter heads
    // (top-V vocab, (V+1)² LM, top-10 ranks, 32 bins, arm counts), or
    // distinct-value histograms (degrees, thresholds, strata). A NEW
    // query with an unpartitioned window must either partition or be
    // justified and added here.
    val bounded = Set(
      // calendar-bounded daily grids
      "q_cusum", "q_page_hinkley", "q_drawdown", "q_mom_growth",
      "q_ljung_box", "q_durbin_watson", "q_runs_test", "q_theil_u2",
      "q_hurst", "q_pacf", "q_theil_sen", "q_kaplan_meier",
      "q_nelson_aalen", "q_logrank", "q_fieldwork_burndown",
      "q_attempt_conversion", "q_cumulative_distinct",
      // top-k / fixed-parameter heads
      "q_vocab_encode", "q_bigram_lm", "q_kneser_ney", "q_ngram_coverage",
      "q_zipf_fit", "q_dsir", "q_diversified_topk", "q_ucb_arms",
      "q_rbo", "q_rank_churn", "q_knee_point", "q_pr_curve",
      "q_best_split", "q_sax", "q_qq_normal", "q_lift_curve",
      // distinct-value / bounded-group histograms
      "q_degree_dist", "q_bh_fdr", "q_isotonic", "q_wilcoxon",
      "q_cliffs_delta", "q_stratified_ate", "q_newsvendor")
    val offenders = facts.collect {
      case (k, f) if f.unpartitionedWindows > 0 && !bounded(k) =>
        s"$k (${f.unpartitionedWindows})"
    }
    assert(offenders.isEmpty,
      s"unpartitioned windows outside allowlist: ${offenders.mkString(", ")}")
  }
}

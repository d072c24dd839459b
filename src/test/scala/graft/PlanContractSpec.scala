package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ExplainMode, ReusedSubqueryExec, SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

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
  *     allowlist below with the bound that justifies it;
  *   - a pinned source-scan count for every query whose builder dropped
  *     a persist that only Spark's exchange reuse made redundant.
  *
  * Plans are built once over sf0.001, through the QueryRunner, on an
  * AQE-off sibling of the shared session (the Verify/Bench config
  * otherwise), then every test asserts off the shared snapshot.
  */
class PlanContractSpec extends GraftSuite {

  private case class PlanFacts(formatted: String,
                               unpartitionedWindows: Int,
                               sourceScans: Int,
                               err: Option[String])

  /** Leaf scans of an executed plan, subqueries included. A reused
    * exchange or subquery is not expanded (the plan runs it once), and
    * each cached relation's plan counts once however many times it is
    * read. */
  private def sourceScans(plan: SparkPlan): Int = {
    val cached = collection.mutable.Set.empty[AnyRef]
    def count(p: SparkPlan): Int = (p match {
      case _: ReusedExchangeExec | _: ReusedSubqueryExec => 0
      case m: InMemoryTableScanExec =>
        val cb = m.relation.cacheBuilder
        if (cached.exists(_ eq cb)) 0 else { cached += cb; count(cb.cachedPlan) }
      case l if l.children.isEmpty => 1
      case o => o.children.map(count).sum
    }) + p.subqueries.map(count).sum
    count(plan)
  }

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
        PlanFacts(qe.explainString(ExplainMode.fromString("formatted")), uw,
          sourceScans(qe.executedPlan), None)
      }
      k -> r.result.fold(
        e => PlanFacts("", 0, 0, Some(Option(e.getMessage).getOrElse(e.getClass.getName))),
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
      // the same calendar grids, daily (q_matrix_profile) and monthly
      // (q_seasonal_decompose, q_stl_strength)
      "q_matrix_profile", "q_seasonal_decompose", "q_stl_strength",
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

  test("queries whose single-plan persists were dropped scan their sources as before") {
    // A persist read only inside one plan is redundant when every
    // consumer reads the shared subtree's exchange whole: the plan then
    // shows a ReusedExchange and scans each source once
    // (ExchangeReuseSpec). Each count is the one the query had with
    // its persists; a rise means consumers no longer share the
    // exchange and the source is scanned again.
    val pinned = Map(
    "q_agg_reversal" -> 1, "q_assortativity" -> 1, "q_autocorr" -> 2,
    "q_benford" -> 1, "q_bigram_lm" -> 1, "q_bipartite_project" -> 1,
    "q_caliper_match" -> 4, "q_changepoint" -> 2, "q_char_kl" -> 1,
    "q_chow_test" -> 2, "q_cohen_kappa" -> 1, "q_conversion_lag" -> 2,
    "q_cooks_distance" -> 2, "q_countmin" -> 1, "q_cuped" -> 2,
    "q_degree_dist" -> 1, "q_design_effect" -> 5, "q_gearys_c" -> 2,
    "q_good_turing" -> 1, "q_grubbs" -> 1, "q_james_stein" -> 2,
    "q_join_card_est" -> 2, "q_js_divergence" -> 1, "q_k_anonymity" -> 1,
    "q_keyphrase_rake" -> 1, "q_kmv_distinct" -> 1, "q_kneser_ney" -> 1,
    "q_krippendorff" -> 1, "q_levene" -> 1, "q_link_predict" -> 1,
    "q_local_clustering" -> 1, "q_lof" -> 2, "q_markov_backtest" -> 2,
    "q_matrix_profile" -> 1, "q_modularity" -> 4, "q_moran_i" -> 2,
    "q_ngram_coverage" -> 1, "q_page_hinkley" -> 1, "q_periodogram" -> 2,
    "q_permutation_test" -> 2, "q_perplexity_bucket" -> 2,
    "q_rate_shrinkage" -> 1, "q_rich_club" -> 2, "q_seasonal_decompose" -> 1,
    "q_seasonality" -> 1, "q_source_jaccard" -> 1, "q_source_overlap" -> 1,
    "q_stl_strength" -> 1, "q_t_closeness" -> 2, "q_transition_matrix" -> 1,
    "q_triangle" -> 1)
    val moved = pinned.collect {
      case (k, n) if facts(k).sourceScans != n => s"$k: ${facts(k).sourceScans} (pinned $n)"
    }
    assert(moved.isEmpty, s"source-scan counts moved:\n${moved.mkString("\n")}")
  }
}

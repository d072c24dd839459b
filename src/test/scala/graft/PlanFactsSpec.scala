package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, row_number}

/** What `PlanContractSpec` would catch, shown on stub registries run the
  * way it runs the real one ([[PlanFacts.measure]] on an AQE-off
  * session). */
class PlanFactsSpec extends GraftSuite {

  private lazy val static: SparkSession = PlanFacts.staticSession(spark)

  private def measure(queries: Map[String, PlanFacts.Builder]): Map[String, PlanFacts] =
    PlanFacts.measure(static, "unused", queries).map { case (k, m) =>
      k -> m.fold(e => fail(s"$k: $e"), _.facts)
    }

  test("a window under a persisted frame counts as unpartitioned") {
    val facts = measure(Map("q_ranked" -> { (s, _) =>
      val top = s.range(50)
        .withColumn("rn", row_number().over(Window.orderBy(col("id").desc)))
        .persist()
        .filter(col("rn") <= 5)
      // the optimized logical plan reads the cached relation, not the window
      assert(top.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }.isEmpty)
      top
    }))
    assert(facts("q_ranked").unpartitionedWindows == 1)
    assert(facts("q_ranked").sourceScans == 1)
  }

  test("a planted count() reads one more build job and breaks its row's budget") {
    def build(s: SparkSession, planted: Boolean) = {
      val df = s.range(100).toDF().filter(col("id") % 3 === 0)
      if (planted) df.count()
      df
    }
    val facts = measure(Map(
      "q_twin" -> ((s, _) => build(s, planted = false)),
      "q_planted" -> ((s, _) => build(s, planted = true))))
    assert(facts("q_planted").jobsBuild == facts("q_twin").jobsBuild + 1)
    assert(facts("q_planted").static == facts("q_twin").static)
    // both rows hold the twin's facts: only the planted key is over
    val row = PlanFacts.Row(facts("q_twin"), "")
    val table = Map("q_twin" -> row, "q_planted" -> row)
    assert(PlanFacts.overBudget(facts, table) ==
      Seq(s"q_planted: jobs_build ${facts("q_planted").jobsBuild} (row ${facts("q_twin").jobsBuild})"))
    assert(PlanFacts.staticDiffs(facts, table).isEmpty)
  }
}

package graft

import graft.tools.Inspect

/** graft.tools.Inspect's modes run as plain functions of a session — here
  * the shared test session, which none of them may stop. */
class InspectSpec extends GraftSuite {
  // the sf0.001 fixture directory: where SparkEntry.entry's flagship
  // query reads its tables
  private lazy val dir = new java.io.File(
    new java.net.URI(SparkEntry.entry(spark).inputFiles.head)).getParent

  test("plan: formatted plan of q_feeder_load with its parquet scan") {
    val out = Inspect.plan(spark, dir, Seq("q_feeder_load"))
    assert(out.contains("===== q_feeder_load ====="))
    assert(!out.contains("EXPLAIN FAILED"), out)
    assert(out.contains("Scan parquet"), out)
    assert(out.contains("orders.parquet"), out)
    // formatted mode: the operator tree, then numbered operator details
    assert(out.contains("(1) Scan parquet"), out)
    assert(!spark.sparkContext.isStopped)
  }

  test("plan: releases what a query persisted while being built") {
    // q_hyperanf persists its edge and adjacency sets and local-checkpoints
    // every hop; none of it may outlive the key
    def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = persisted
    val out = Inspect.plan(spark, dir, Seq("q_hyperanf"))
    assert(!out.contains("EXPLAIN FAILED"), out)
    val left = persisted -- before
    assert(left.isEmpty, s"persisted RDDs left behind: $left")
  }

  test("executed: the final post-AQE plan, with its codegen spans") {
    val out = Inspect.executed(spark, dir, Seq("q_feeder_load"))
    assert(out.contains("===== q_feeder_load ====="), out)
    assert(out.contains("isFinalPlan=true"), out)
    assert(!out.contains("isFinalPlan=false"), out)
    // a WholeStageCodegen span prints as its `*(N)` operator prefix
    assert("""\*\(\d+\)""".r.findFirstIn(out).nonEmpty, out)
  }

  test("time: one (build, action) pair per rep for each key") {
    val keys = Seq("q_feeder_load", "q_status_map")
    val res = Inspect.time(spark, dir, keys, reps = 2)
    assert(res.map(_._1) == keys)
    res.foreach { case (k, reps) =>
      assert(reps.size == 2, k)
      reps.foreach { case (build, action, compiles) =>
        assert(build >= 0 && action > 0, s"$k build=$build action=$action")
        assert(compiles >= 0, s"$k compiles=$compiles")
      }
    }
    assert(!spark.sparkContext.isStopped)
    // the session stays usable for later suites
    assert(spark.range(3).count() == 3)
  }
}

package graft

import graft.queries.Common

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test run — built THROUGH
  * GraftSession.builder so the suite exercises the production session
  * contract (extensions, UTC, ObjectHashAggregate fallback threshold)
  * and SessionContractSpec can assert it on the live session. A second
  * session per spec is not an option: extensions load from the
  * SparkContext's STATIC conf, so in a JVM whose context already
  * exists they silently don't apply — and SparkSession.stop() stops
  * the shared context, poisoning every later suite (the r14 inherited
  * mid-build failure). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("4", "4")
      .appName("graft-test")
      .config("spark.sql.warehouse.dir", "target/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class GraftSuite extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** The events table with `ts` normalized to TimestampType — THE
    * loader the queries use (Common.events), not a copy: the spec
    * replays must see bit-identical rows to the queries under every
    * encoding the loader adapts to. */
  def eventsTable(dir: String): org.apache.spark.sql.DataFrame =
    Common.events(spark, dir)
}

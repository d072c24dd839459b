package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

/** The assumption graft's persist rule rests on: within ONE physical
  * plan, a subtree that ends in an exchange every consumer reads whole
  * runs once, with or without a persist, because Spark reuses the
  * exchange. So a DataFrame is persisted only when two separate
  * executions read it.
  *
  * The shape is the one the query families use throughout: an
  * aggregate cross-joined with a broadcast of its own total. It runs
  * unpersisted on the shared (AQE-on) session and on an AQE-off
  * sibling, and the source table must be scanned once. When the two
  * consumers prune different aggregate columns, their partial
  * aggregates differ, nothing is shared, and the source is scanned
  * twice; that is where a persist still pays. A Spark upgrade that
  * stops reusing the exchange fails here first.
  */
class ExchangeReuseSpec extends GraftSuite with AdaptiveSparkPlanHelper {
  import spark.implicits._

  /** 1,500 orders over 97 customers, written once. */
  private lazy val orders: String = {
    val path = new java.io.File("target/exchange_reuse_spec/orders.parquet").getAbsolutePath
    (1 to 1500).map(i => (i.toLong, (i % 97).toLong, i / 100.0))
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
      .write.mode("overwrite").parquet(path)
    path
  }

  private lazy val aqeOff: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s
  }

  private def perCust(s: SparkSession): DataFrame = s.read.parquet(orders)
    .groupBy("o_custkey")
    .agg(count(lit(1)).as("n"), sum("o_totalprice").as("cents"))

  /** Both consumers read the aggregate whole: (o_custkey, n, cents). */
  private def shared(s: SparkSession): DataFrame = {
    val p = perCust(s)
    p.crossJoin(broadcast(p.agg(sum("n").as("__n"), sum("cents").as("__c"))))
  }

  /** The row side keeps only `n`, the total only `cents`. */
  private def pruned(s: SparkSession): DataFrame = {
    val p = perCust(s)
    p.select("o_custkey", "n").crossJoin(broadcast(p.agg(sum("cents").as("__c"))))
  }

  /** File scans in the executed plan, after one run of that plan (a
    * `collect`, which runs the Dataset's own QueryExecution): a reused
    * exchange is a leaf, so a shared subtree counts once. Under AQE this
    * walks the final plan's query stages. */
  private def scansAfterRun(df: DataFrame): Seq[FileSourceScanExec] = {
    df.collect()
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case f: FileSourceScanExec => f
    }
  }

  private def rowsScanned(scans: Seq[FileSourceScanExec]): Long =
    scans.map(_.metrics("numOutputRows").value).sum

  private def plan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan

  test("an aggregate read whole by two consumers is scanned once, AQE off") {
    val df = shared(aqeOff)
    val scans = scansAfterRun(df)
    assert(scans.size == 1, s"scans: ${scans.size}\n${plan(df)}")
    assert(plan(df).toString.contains("ReusedExchange"), plan(df).toString)
    assert(rowsScanned(scans) == aqeOff.read.parquet(orders).count())
  }

  test("an aggregate read whole by two consumers is scanned once, AQE on") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val df = shared(spark)
    val scans = scansAfterRun(df)
    assert(scans.size == 1, s"scans: ${scans.size}\n${plan(df)}")
    assert(rowsScanned(scans) == spark.read.parquet(orders).count())
  }

  test("consumers that prune different aggregate columns scan the source twice") {
    Seq(aqeOff, spark).foreach { s =>
      val df = pruned(s)
      val scans = scansAfterRun(df)
      assert(scans.size == 2, s"scans: ${scans.size}\n${plan(df)}")
      assert(rowsScanned(scans) == 2 * s.read.parquet(orders).count())
    }
  }
}

package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.BeforeAndAfterAll

import graft.operators.{DistributedPercentiles, PrefixSum}
import graft.sources.PagedReader

/** Pins how many Spark jobs each two-phase ordered scan runs: building
  * the result, then one `collect` of it. Every scan shares one range
  * shuffle between its two passes (`PrefixSum.orderedScan`); a scan that
  * rebuilt the range-partitioned RDD for its second pass would re-sample
  * the range bounds and re-run the shuffle, and its counts would rise.
  *
  * A build runs 3 jobs: the range-bound sample, the shuffle's map stage
  * and pass 1; pass 2 runs in the collect. Every scan's plan folds the
  * input's `repartition(8)` into the range shuffle (the projection comes
  * after the sort); `exact` and `pageBoundsDistributed` run pass 2 while
  * building, and `pagedFixtureDir` also lists the parquet input and
  * writes the pages. */
class OrderedScanJobsSpec extends GraftSuite with BeforeAndAfterAll {
  import spark.implicits._

  private lazy val counter = new JobCounter(spark.sparkContext)

  override def beforeAll(): Unit = spark.sparkContext.addSparkListener(counter)
  override def afterAll(): Unit = spark.sparkContext.removeSparkListener(counter)

  /** (jobs to build the DataFrame, jobs to collect it once) */
  private def buildAndCollect(build: => DataFrame): (Int, Int) = {
    val (df, b) = counter.jobsOf(build)
    val (_, c) = counter.jobsOf(df.collect())
    (b, c)
  }

  private def input = (1 to 997).map(i => ((i * 31 % 1009).toLong, (i * 7 % 13).toLong,
    (i % 5).toString)).toDF("k", "x", "g").repartition(8)

  test("PrefixSum.runningTotal") {
    assert(buildAndCollect(PrefixSum.runningTotal(input, "k", "x")) == ((3, 1)))
  }

  test("PrefixSum.runningTotals") {
    assert(buildAndCollect(PrefixSum.runningTotals(input, "k", Seq("x", "k"))) == ((3, 1)))
  }

  test("PrefixSum.runningMaxExclusive") {
    assert(buildAndCollect(PrefixSum.runningMaxExclusive(input, "k", "x")) == ((3, 1)))
  }

  test("PrefixSum.withRankAndRunningTotal") {
    assert(buildAndCollect(PrefixSum.withRankAndRunningTotal(input, Seq("g", "k"), "x"))
      == ((3, 1)))
  }

  test("PrefixSum.withGlobalRank") {
    assert(buildAndCollect(PrefixSum.withGlobalRank(input, Seq("g", "k"))) == ((3, 1)))
  }

  test("DistributedPercentiles.exact") {
    assert(buildAndCollect(DistributedPercentiles.exact(input, "g", "x",
      Seq("p50" -> 0.5, "p90" -> 0.9))) == ((4, 1)))
  }

  test("PagedReader.pageBoundsDistributed") {
    val (bounds, jobs) = counter.jobsOf(PagedReader.pageBoundsDistributed(input, "k", 100, 5))
    assert(bounds.length == 5)
    assert(jobs == 4)
  }

  test("Feeder.pagedFixtureDir") {
    val dir = new java.io.File("target/ordered_scan_jobs_spec").getAbsolutePath
    (1 to 5000).map(i => (i.toLong, (i % 97).toLong, if (i % 3 == 0) "F" else "O", i / 100.0))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val (pageDir, jobs) = counter.jobsOf(graft.queries.Feeder.pagedFixtureDir(spark, dir))
    assert(new java.io.File(pageDir).listFiles().count(_.getName.endsWith(".tsv")) == 2)
    assert(jobs == 5)
  }
}

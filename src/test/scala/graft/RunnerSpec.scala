package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** QueryRunner on the shared session, with stub builders in place of the
  * registry: what a query persisted or cached is released after `use`,
  * and nothing that was persisted before the run. (Rebuilding a stopped
  * context is not exercised: it would stop the shared one.) */
class RunnerSpec extends GraftSuite {
  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def runner(build: (SparkSession, String) => DataFrame) =
    new QueryRunner("unused", () => spark, Map("q_stub" -> build))

  test("a query's persisted RDD and cached Dataset are released; earlier RDDs are kept") {
    val mine = spark.sparkContext.parallelize(1 to 3).persist()
    mine.count()
    var leakedRdd = -1
    var cached: DataFrame = null
    val r = runner { (s, _) =>
      val rdd = s.sparkContext.parallelize(1 to 10).persist()
      rdd.count()
      leakedRdd = rdd.id
      cached = s.range(5).toDF("id").cache()
      cached.count()
      cached
    }.run("q_stub")(_.count())
    try {
      assert(r.key == "q_stub")
      assert(r.result == Right(5L))
      assert(r.build_s >= 0 && r.use_s >= 0)
      assert(!persisted(leakedRdd), "the query's RDD is still persisted")
      assert(cached.storageLevel == StorageLevel.NONE, "the query's Dataset is still cached")
      assert(persisted(mine.id), "an RDD persisted before the run was released")
    } finally mine.unpersist(blocking = true)
  }

  test("a builder that throws returns Left, and its state is still released") {
    val before = persisted
    var used = false
    val r = runner { (s, _) =>
      s.sparkContext.parallelize(1 to 10).persist().count()
      throw new IllegalStateException("stub builder failed")
    }.run("q_stub") { _ => used = true }
    assert(r.result.left.map(_.getMessage) == Left("stub builder failed"))
    assert(!used)
    assert(persisted == before)
    assert(spark.range(3).count() == 3)
  }

  test("use sees the cached plan: release happens after use") {
    val r = runner((s, _) => s.range(4).toDF("id").cache())
      .run("q_stub")(df => (df.storageLevel, df.count()))
    assert(r.result == Right((StorageLevel.MEMORY_AND_DISK, 4L)))
  }
}

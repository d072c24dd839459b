package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
/** Driver contract — see /root/repo/SURVEY.md §2 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_feeder_load")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Queries.registry.map(q => q.key -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables (every registry row carries one). */
  def oracleSql: Map[String, String] =
    Queries.registry.map(q => q.key -> q.oracle).toMap

  /** Headline set for Bench (excludes driver-side-fabrication queries
    * like the zip fixture builder and the test-semantics pager). */
  def benchQueries: Seq[String] =
    Queries.registry.filter(_.bench).map(_.key)
}

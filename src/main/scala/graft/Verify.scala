package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** JSON string literal with backslash, quote and ALL control chars
    * (<0x20) escaped: one raw tab or CR in an oracle SQL string makes
    * `json.load` reject the whole oracle_sql.json. Bench uses it too. */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
    case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg: comma-separated query keys (local iteration only;
    // the driver always runs the full registry with two args)
    val only = args.drop(2).headOption.map(_.split(",").toSet)
    val cpus = GraftSession.cores
    // shared scale-critical config (extensions, UTC, ObjectHashAggregate
    // fallback threshold) lives in GraftSession — see SessionContractSpec
    def buildSession(): SparkSession = {
      val s = GraftSession.builder(cpus, cpus).getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }
    var spark = buildSession()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // one query's fatal error (executor OOM) can stop the local
      // SparkContext — rebuild so the rest of the registry still gets a
      // real verdict instead of "stopped SparkContext" noise
      if (spark.sparkContext.isStopped) {
        System.err.println("[verify] SparkContext died — rebuilding session")
        try spark.stop() catch { case _: Throwable => () }
        spark = buildSession()
      }
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally {
        // queries persist intermediates they read twice (and can't
        // unpersist — they return lazy plans); dropped here so cached
        // blocks from 300+ queries don't accumulate across the run
        if (!spark.sparkContext.isStopped) {
          spark.catalog.clearCache()
          spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
        }
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}

package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json (the oracle SQL of exactly the keys this run
  * ran), for the DuckDB oracle compare. */
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
    // optional 3rd arg: query keys and family names, as Bench's
    // SPARK_GRAFT_BENCH_ONLY, for local iteration; the correctness gate
    // (tools/round_gate.sh) runs the full registry with two args
    val keys = Bench.selectKeys(SparkEntry.queries.keys.toSeq.sorted, args.lift(2))
    // shared scale-critical config (extensions, UTC, ObjectHashAggregate
    // fallback threshold) lives in GraftSession — see SessionContractSpec;
    // the runner rebuilds the session if a query's fatal error stops it
    val runner = new QueryRunner(sfDir, () => {
      val s = GraftSession.builder(GraftSession.cores, GraftSession.cores).getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    })
    // nothing from an earlier run may stand in for this one's: the key
    // list goes first, and each key's result directory goes before the
    // key runs, so a key whose builder throws leaves no output to compare
    Files.deleteIfExists(Paths.get(s"$outDir/oracle_sql.json"))
    new java.io.File(outDir).mkdirs()
    keys.foreach { name =>
      queries.Common.rmTree(new java.io.File(s"$outDir/$name"))
      runner.run(name)(_.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"))
        .result.left.foreach(e => System.err.println(s"[verify] $name failed: ${e.getMessage}"))
    }
    val oracle = SparkEntry.oracleSql
    val json = keys
      .map(k => s"${jsonString(k)}: ${jsonString(oracle(k))}")
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    runner.spark.stop()
  }
}

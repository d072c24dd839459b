package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{ExplainMode, SQLExecution}

import graft.{GraftSession, QueryRunner, SparkEntry}

/** One inspection main for plan review and local timing:
  *
  *   Inspect dump <sfDir> [out]              EXPLAINS.md for every registry key
  *   Inspect plan <sfDir> <q_a,q_b> [mode]   plans of the named queries
  *   Inspect executed <sfDir> <q_a,q_b>      post-AQE plans after a run
  *   Inspect time <sfDir> <q_a,q_b> [reps]   build vs noop-write seconds,
  *                                           classes compiled per rep
  *
  * Each mode is a function of a live session (specs use the shared one);
  * `main` only parses arguments and owns a GraftSession-built session.
  */
object Inspect {
  def main(args: Array[String]): Unit = {
    def keys = args(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val run: SparkSession => Unit = args.toSeq match {
      case Seq("dump", dir, rest @ _*) =>
        val out = rest.headOption.getOrElse("EXPLAINS.md")
        spark => {
          Files.writeString(Paths.get(out), dump(spark, dir))
          println(s"[explain] wrote $out")
        }
      case Seq("plan", dir, _, rest @ _*) =>
        spark => println(plan(spark, dir, keys, rest.headOption.getOrElse("formatted")))
      case Seq("executed", dir, _) =>
        spark => println(executed(spark, dir, keys))
      case Seq("time", dir, _, rest @ _*) =>
        val reps = rest.headOption.fold(2)(_.toInt)
        def stat(label: String, ts: Seq[Double]): String =
          f"$label min=${ts.min}%.2f raw=${ts.map(t => f"$t%.2f").mkString(",")}"
        spark => time(spark, dir, keys, reps).foreach { case (k, rs) =>
          println(s"[time] $k ${stat("build", rs.map(_._1))} ${stat("action", rs.map(_._2))}" +
            s" compiles=${rs.map(_._3).mkString(",")}")
        }
      case _ =>
        System.err.println("usage: Inspect dump <sfDir> [out] | plan <sfDir> <keys> [mode]" +
          " | executed <sfDir> <keys> | time <sfDir> <keys> [reps]")
        sys.exit(2)
    }
    val spark = GraftSession.builder(GraftSession.cores, GraftSession.cores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try run(spark) finally spark.stop()
  }

  /** EXPLAINS.md: the formatted plan of EVERY registry key, first 120
    * lines each (a hand-maintained list once drifted to 161/206
    * coverage); a cut plan ends with a line saying so (see [[clip]]).
    * Queries that write their own fixture files show the plan that
    * reads them back. */
  def dump(spark: SparkSession, sfDir: String): String = {
    val keys = SparkEntry.queries.keys.toSeq.sorted
    val head =
      s"""# EXPLAINS — formatted physical plans (${Paths.get(sfDir).getFileName})
         |
         |Generated by `graft.tools.Inspect dump` — all ${keys.size} registry
         |queries. What to look for:
         |`PushedFilters`/pruned `ReadSchema` at scans, `BroadcastHashJoin`
         |for dim sides, no `CartesianProduct` anywhere, partial
         |(`HashAggregate` x2) aggregation, `Window` only over bounded
         |row sets.
         |""".stripMargin
    val runner = new QueryRunner(sfDir, () => spark)
    head + keys.map { k =>
      val fmt = orFailure(runner.run(k)(explain("formatted")))
      s"\n## $k\n\n```\n${clip(fmt, sfDir, k)}\n```\n"
    }.mkString
  }

  /** The lines `dump` keeps of one plan. */
  val dumpLines = 120

  /** The first [[dumpLines]] lines of `key`'s plan; a longer plan ends
    * with one more line giving how many lines were cut and the command
    * that prints the whole plan. */
  def clip(plan: String, sfDir: String, key: String): String = {
    val lines = plan.linesIterator.toVector
    val kept = lines.take(dumpLines).mkString("\n")
    val cut = lines.length - dumpLines
    if (cut <= 0) kept
    else s"$kept\n... $cut more lines cut; `graft.tools.Inspect plan $sfDir $key formatted` prints them"
  }

  /** Plans of `keys` in an ExplainMode (`formatted`, `simple`, `cost`,
    * …) without executing anything: stats come from file sizes, so the
    * planner's join and broadcast choices at any sfDir are visible.
    * `simple` shows the `*(N)` codegen span prefixes `formatted` strips. */
  def plan(spark: SparkSession, sfDir: String, keys: Seq[String],
           mode: String = "formatted"): String =
    sections(spark, sfDir, keys)(explain(mode))

  /** Runs each query, discarding its rows, and returns its post-AQE
    * final plan — the only view with WholeStageCodegen spans under AQE,
    * whose pre-execution plans carry no codegen stages. The rows come
    * from the DataFrame's own QueryExecution: a `noop` write plans a
    * separate command and leaves this plan unfinalized. */
  def executed(spark: SparkSession, sfDir: String, keys: Seq[String]): String =
    sections(spark, sfDir, keys) { df =>
      val qe = df.queryExecution
      SQLExecution.withNewExecutionId(qe, Some("executed"))(qe.toRdd.foreach(_ => ()))
      qe.executedPlan.toString
    }

  /** Per key, `reps` (build seconds, action seconds, classes compiled)
    * triples after one warm-up, each rep starting from a released cache,
    * as Bench's do. Build includes jobs the query runs while being built;
    * action is Bench's `noop` write. */
  def time(spark: SparkSession, sfDir: String, keys: Seq[String],
           reps: Int): Seq[(String, Seq[(Double, Double, Long)])] = {
    GraftSession.warmUp(spark, sfDir)
    val runner = new QueryRunner(sfDir, () => spark)
    keys.map(k => k -> (1 to reps).map { _ =>
      val r = runner.run(k)(QueryRunner.noop)
      r.result.fold(throw _, _ => (r.build_s, r.use_s, r.compiles))
    })
  }

  private def explain(mode: String)(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString(mode))

  // one broken plan must not blank the rest — record it and go on
  private def orFailure(r: QueryRunner.Run[String]): String =
    r.result.fold(e => s"EXPLAIN FAILED: ${e.getMessage}", identity)

  private def sections(spark: SparkSession, sfDir: String, keys: Seq[String])(
      use: DataFrame => String): String = {
    val runner = new QueryRunner(sfDir, () => spark)
    keys.map(k => s"\n===== $k =====\n${orFailure(runner.run(k)(use))}").mkString("\n")
  }
}

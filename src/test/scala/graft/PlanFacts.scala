package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{ExplainMode, ReusedSubqueryExec, SparkPlan,
  WholeStageCodegenExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.window.WindowExec

/** What `PlanContractSpec` pins of one registry query, and the table
  * (`src/test/resources/plan_budgets.tsv`) it pins them in.
  *
  * `jobsBuild` counts the Spark jobs the builder runs before its plan
  * exists. The other four are static: they are read off the AQE-off
  * executed plan, subqueries included, where a reused exchange or
  * subquery is not expanded (the plan runs it once) and each cached
  * relation's plan is entered once however often it is read:
  *   - `exchanges`: shuffle and broadcast exchanges;
  *   - `sourceScans`: leaves, i.e. file, RDD, range and local scans;
  *   - `unpartitionedWindows`: `WindowExec`s with no partition spec, a
  *     one-reducer sort over their whole input;
  *   - `wscgSpans`: whole-stage codegen spans. */
final case class PlanFacts(jobsBuild: Int, exchanges: Int, sourceScans: Int,
                           unpartitionedWindows: Int, wscgSpans: Int) {
  def static: Seq[Int] = Seq(exchanges, sourceScans, unpartitionedWindows, wscgSpans)
  def values: Seq[Int] = jobsBuild +: static
}

object PlanFacts {
  type Builder = (SparkSession, String) => DataFrame

  val columns: Seq[String] =
    Seq("jobs_build", "exchanges", "source_scans", "unpartitioned_windows", "wscg_spans")

  /** One table row: the facts and, for a row with unpartitioned windows,
    * the bound on their input that makes them affordable. */
  final case class Row(facts: PlanFacts, why: String)

  /** A sibling of `spark` with AQE off: same context, extensions and
    * configs otherwise. The contract is about what the PLANNER commits
    * to from statistics; AQE can rescue a bad static plan at runtime
    * locally, but the static choice is what scales. */
  def staticSession(spark: SparkSession): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s
  }

  /** One key's facts and its formatted plan. */
  final case class Measured(facts: PlanFacts, formatted: String)

  /** Static facts of an executed plan; see the class doc. */
  def of(plan: SparkPlan, jobsBuild: Int): PlanFacts = {
    val cached = collection.mutable.Set.empty[AnyRef]
    def walk(p: SparkPlan): PlanFacts = {
      val own = p match {
        case _: ReusedExchangeExec | _: ReusedSubqueryExec => zero
        case m: InMemoryTableScanExec =>
          val cb = m.relation.cacheBuilder
          if (cached.exists(_ eq cb)) zero else { cached += cb; walk(cb.cachedPlan) }
        case l if l.children.isEmpty => zero.copy(sourceScans = 1)
        case o =>
          val here = PlanFacts(0,
            exchanges = if (o.isInstanceOf[Exchange]) 1 else 0,
            sourceScans = 0,
            unpartitionedWindows = o match {
              case w: WindowExec if w.partitionSpec.isEmpty => 1
              case _ => 0
            },
            wscgSpans = if (o.isInstanceOf[WholeStageCodegenExec]) 1 else 0)
          o.children.map(walk).foldLeft(here)(plus)
      }
      p.subqueries.map(walk).foldLeft(own)(plus)
    }
    walk(plan).copy(jobsBuild = jobsBuild)
  }

  private val zero = PlanFacts(0, 0, 0, 0, 0)

  private def plus(a: PlanFacts, b: PlanFacts): PlanFacts = PlanFacts(
    a.jobsBuild + b.jobsBuild, a.exchanges + b.exchanges, a.sourceScans + b.sourceScans,
    a.unpartitionedWindows + b.unpartitionedWindows, a.wscgSpans + b.wscgSpans)

  /** Builds every key of `queries`, in key order, through a QueryRunner
    * on `spark` and measures it: the builder's jobs, then the facts and
    * the formatted plan of what it returned. A failure is its message. */
  def measure(spark: SparkSession, sfDir: String,
              queries: Map[String, Builder]): Map[String, Either[String, Measured]] = {
    val counter = new JobCounter(spark.sparkContext)
    var jobs = 0
    val counted = queries.map { case (k, build) =>
      k -> ((s: SparkSession, d: String) => {
        val (df, n) = counter.jobsOf(build(s, d))
        jobs = n
        df
      })
    }
    spark.sparkContext.addSparkListener(counter)
    try {
      val runner = new QueryRunner(sfDir, () => spark, counted)
      queries.keys.toSeq.sorted.map { k =>
        val r = runner.run(k) { df =>
          val qe = df.queryExecution
          Measured(of(qe.executedPlan, jobs),
            qe.explainString(ExplainMode.fromString("formatted")))
        }
        k -> r.result.left.map(e => Option(e.getMessage).getOrElse(e.getClass.getName))
      }.toMap
    } finally spark.sparkContext.removeSparkListener(counter)
  }

  /** The table's comment lines (`#`) and rows; its column line must
    * name [[columns]] after `key`, with `why` last. */
  def read(path: Path): (Seq[String], Map[String, Row]) = {
    val (comments, rest) = Files.readAllLines(path).asScala.toSeq.partition(_.startsWith("#"))
    val lines = rest.filter(_.nonEmpty)
    require(lines.headOption.contains(header), s"$path: first row must be: $header")
    val rows = lines.tail.map { line =>
      val f = line.split("\t", -1)
      require(f.length == columns.size + 2, s"$path: malformed row: $line")
      val v = f.slice(1, 1 + columns.size).map(_.toInt)
      f(0) -> Row(PlanFacts(v(0), v(1), v(2), v(3), v(4)), f.last)
    }
    require(rows.map(_._1).distinct.size == rows.size, s"$path: a key has two rows")
    (comments, rows.toMap)
  }

  /** Writes `rows` in [[read]]'s format under the `comments`. */
  def write(path: Path, comments: Seq[String], rows: Map[String, Row]): Unit = {
    Files.createDirectories(path.getParent)
    val body = rows.toSeq.sortBy(_._1).map { case (k, r) =>
      (k +: r.facts.values.map(_.toString) :+ r.why).mkString("\t")
    }
    Files.write(path, (comments ++ (header +: body)).asJava)
  }

  private val header = ("key" +: columns :+ "why").mkString("\t")

  /** Keys whose static facts differ from their row, with both values. */
  def staticDiffs(measured: Map[String, PlanFacts], table: Map[String, Row]): Seq[String] =
    diffs(measured, table)((m, r) => m != r, columns.tail, _.static)

  /** Keys whose builder ran more jobs than their row allows. */
  def overBudget(measured: Map[String, PlanFacts], table: Map[String, Row]): Seq[String] =
    diffs(measured, table)((m, r) => m > r, columns.take(1), f => Seq(f.jobsBuild))

  private def diffs(measured: Map[String, PlanFacts], table: Map[String, Row])(
      bad: (Int, Int) => Boolean, names: Seq[String], pick: PlanFacts => Seq[Int]): Seq[String] =
    measured.toSeq.sortBy(_._1).flatMap { case (k, m) =>
      table.get(k).toSeq.flatMap { row =>
        val (mv, rv) = (pick(m), pick(row.facts))
        names.indices.collect { case i if bad(mv(i), rv(i)) => s"$k: ${names(i)} ${mv(i)} (row ${rv(i)})" }
      }
    }
}

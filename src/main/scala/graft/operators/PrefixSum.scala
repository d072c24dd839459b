package graft.operators

import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Distributed global prefix sum — the scan primitive behind sequence
  * packing, offset assignment, and file-splitting in a training-data
  * pipeline — and the home of the two-phase ordered scan
  * ([[orderedScan]]) that every global order statistic in graft is
  * built on.
  *
  * The naive Spark form, `sum(x) OVER (ORDER BY k ROWS UNBOUNDED
  * PRECEDING)`, is an unpartitioned window: every row funnels through
  * ONE reducer — the canonical scale-killer. This is the classic
  * two-phase scan instead:
  *
  *   1. range-partition on the order key + sort within partitions
  *      (global order, no global sort);
  *   2. pass 1: per-partition totals → the driver scans them into
  *      per-partition starting offsets (O(partitions) driver memory);
  *   3. pass 2: map-side `offset + local running sum` per row.
  *
  * [[orderedScan]] owns steps 1 and 2's per-partition pass; its callers
  * are the five scans here (`runningTotal`, `runningTotals`,
  * `runningMaxExclusive`, `withRankAndRunningTotal`, `withGlobalRank`),
  * `DistributedPercentiles.exact`, `PagedReader.pageBoundsDistributed`
  * and the page-file writer `queries.Feeder.pagedFixtureDir`.
  *
  * `orderCol` must be unique — with duplicate keys the relative order
  * of equal keys (and so their running totals) is partition-placement
  * dependent.
  */
object PrefixSum {

  /** The two-phase ordered scan's shared steps: range-partition `df` on
    * `orderCols` into `defaultParallelism` (at least 1) partitions, sort
    * within each, select `project` (all of `df`'s columns when empty),
    * and run pass 1 — `summarize` once per partition, its results in
    * partition-index order (one element per partition, and `collect`
    * keeps partition order). Returns the sorted rows with the
    * summaries; the caller folds the summaries into per-partition
    * offsets and runs its pass 2 over the RETURNED RDD.
    *
    * The range partitioning applies to `df` itself and the projection
    * comes after the sort, so a caller's own `repartition` directly
    * under `df` collapses into the range shuffle instead of running as
    * a shuffle of its own (a projection between the two would keep it).
    *
    * Both passes MUST run over that one RDD: cross-pass consistency
    * comes from reusing its shuffle output (lineage reuse), NOT from any
    * seed property of RangePartitioner — rebuilding the pipeline for
    * pass 2 could sample different range bounds and corrupt the offsets.
    * Only the range-bound sample and the shuffle's map stage execute
    * `df` (both run here, when the sorted RDD is built under AQE); the
    * two passes read the shuffle output. `OrderedScanJobsSpec` pins each
    * caller's job count. */
  private[graft] def orderedScan[S: ClassTag](df: DataFrame, orderCols: Seq[Column],
      project: Seq[Column] = Nil)(summarize: Iterator[Row] => S): (RDD[Row], Array[S]) = {
    val parts = math.max(df.sparkSession.sparkContext.defaultParallelism, 1)
    val ordered = df.repartitionByRange(parts, orderCols: _*)
      .sortWithinPartitions(orderCols: _*)
    val sorted = (if (project.isEmpty) ordered else ordered.select(project: _*)).rdd
    (sorted, sorted.mapPartitions(it => Iterator(summarize(it))).collect())
  }

  /** @return (orderCol, valueCol as long, running_total) where
    *         running_total is the INCLUSIVE prefix sum in `orderCol`
    *         order; null values count as 0 */
  def runningTotal(df: DataFrame, orderCol: String, valueCol: String): DataFrame =
    totals(df, orderCol, Seq(valueCol), Seq("running_total"))

  /** Multi-column sibling of [[runningTotal]]: N inclusive prefix sums
    * over the SAME order key in ONE two-phase scan — one range shuffle
    * and one O(partitions·N) driver combine, instead of N independent
    * scans re-joined on the key (which is N range shuffles, N driver
    * collects and an (N−1)-way sort-merge join; q_jonckheere paid
    * exactly that for its five ordered-group scans).
    *
    * @return (orderCol, valueCols as long ..., r_<valueCol> ...) where
    *         r_<c> is the inclusive prefix sum of c in `orderCol`
    *         order; null values count as 0 */
  def runningTotals(df: DataFrame, orderCol: String,
                    valueCols: Seq[String]): DataFrame = {
    require(valueCols.nonEmpty)
    totals(df, orderCol, valueCols, valueCols.map("r_" + _))
  }

  /** [[runningTotals]] with the prefix-sum columns named `outCols`; the
    * running state is one primitive array per partition. */
  private def totals(df: DataFrame, orderCol: String, valueCols: Seq[String],
                     outCols: Seq[String]): DataFrame = {
    val n = valueCols.length
    val (sorted, partSums) = orderedScan(df, Seq(col(orderCol)),
      col(orderCol) +: valueCols.map(c => coalesce(col(c).cast("long"), lit(0L)).as(c))) { it =>
      val acc = new Array[Long](n)
      it.foreach { r =>
        var j = 0
        while (j < n) { acc(j) += r.getLong(j + 1); j += 1 }
      }
      acc
    }
    val offsets = partSums.scanLeft(new Array[Long](n)) { (a, b) =>
      Array.tabulate(n)(j => a(j) + b(j))
    }
    val rows = sorted.mapPartitionsWithIndex { (i, it) =>
      val run = offsets(i).clone()
      it.map { r =>
        val out = new Array[Any](1 + 2 * n)
        out(0) = r.get(0)
        var j = 0
        while (j < n) {
          val x = r.getLong(j + 1)
          run(j) += x
          out(1 + j) = x
          out(1 + n + j) = run(j)
          j += 1
        }
        new GenericRow(out): Row
      }
    }
    val schema = StructType(
      df.schema(orderCol).copy(name = orderCol) +:
        (valueCols.map(c => StructField(c, LongType, nullable = false)) ++
          outCols.map(c => StructField(c, LongType, nullable = false))))
    df.sparkSession.createDataFrame(rows, schema)
  }

  /** Distributed EXCLUSIVE prefix max — "the largest value seen before
    * this row in `orderCol` order", e.g. the high-watermark before each
    * event in arrival order. Same two-phase scan as `runningTotal`
    * (range-partition + per-partition pass + O(partitions) driver
    * combine — never a single-reducer unbounded window); every input
    * column is preserved and `outCol` (nullable long; null = no prior
    * row) is appended. `valueCol` must be LONG and non-null. */
  def runningMaxExclusive(df: DataFrame, orderCol: String, valueCol: String,
                          outCol: String = "prev_max"): DataFrame = {
    val vi = df.schema.fieldIndex(valueCol)
    require(df.schema(vi).dataType == LongType, s"$valueCol must be LONG")
    val (sorted, partMax) = orderedScan(df, Seq(col(orderCol))) { it =>
      var m = Long.MinValue; var any = false
      it.foreach { r => val v = r.getLong(vi); if (v > m) m = v; any = true }
      if (any) Some(m) else None
    }
    val offsets: Array[Option[Long]] =
      partMax.scanLeft(None: Option[Long]) { (acc, m) =>
        (acc ++ m).reduceOption(_ max _)
      }
    val rows = sorted.mapPartitionsWithIndex { (i, it) =>
      var cur = offsets(i)
      it.map { r =>
        val out = Row.fromSeq(r.toSeq :+ cur.map(Long.box).orNull)
        val v = r.getLong(vi)
        if (cur.forall(_ < v)) cur = Some(v)
        out
      }
    }
    df.sparkSession.createDataFrame(rows,
      StructType(df.schema.fields :+ StructField(outCol, LongType, nullable = true)))
  }

  /** Global rank AND inclusive running total in ONE two-phase scan —
    * for consumers that need both (ABC curves, Pareto shares), which
    * previously ran `withGlobalRank` + `runningTotal` back to back:
    * two range shuffles, two driver collects, and a re-join on the
    * rank. Same contracts as the parts: `orderCols` unique per row,
    * nulls in `valueCol` count as 0; all input columns are preserved,
    * `rankCol` (1-based long) and `totalCol` (inclusive prefix sum of
    * `valueCol` in `orderCols` order) are appended. */
  def withRankAndRunningTotal(df: DataFrame, orderCols: Seq[String],
                              valueCol: String,
                              rankCol: String = "rank",
                              totalCol: String = "running_total"): DataFrame = {
    val vi = df.schema.fieldIndex(valueCol)
    require(df.schema(vi).dataType == LongType, s"$valueCol must be LONG")
    ranked(df, orderCols, rankCol, Some((vi, totalCol)))
  }

  /** Sequence packing: assign each document to a fixed-token-budget bin
    * by its starting offset in the global token stream — `pack_id =
    * (running_total - n_tokens) div budget`. Deterministic (id-ordered),
    * one distributed scan, no single-reducer window; downstream
    * repartitioning on pack_id co-locates each bin's documents. */
  def packByBudget(docs: DataFrame, idCol: String, tokensCol: String,
                   budget: Long): DataFrame = {
    require(budget > 0)
    // integer `div`, not `/`: Column `/` is double division, and a
    // 100-TB token total exceeds 2^53 where double floor goes inexact
    runningTotal(docs, idCol, tokensCol)
      .select(col(idCol), col(tokensCol),
        expr(s"(running_total - $tokensCol) div $budget").as("pack_id"))
  }

  /** Distributed GLOBAL RANK (1..n) in `orderCols` order — the dense
    * row-number primitive behind equi-depth histograms, distributed
    * ntile, and deterministic pagination: [[withRankAndRunningTotal]]
    * without the running total. Never the single-reducer
    * `row_number() OVER (ORDER BY …)` window. All input columns are
    * preserved; `outCol` (long, 1-based) is appended. The composite
    * `orderCols` must be unique per row — with duplicates the rank of
    * equal keys is partition-placement dependent (same contract as
    * `runningTotal`). */
  def withGlobalRank(df: DataFrame, orderCols: Seq[String],
                     outCol: String = "rank"): DataFrame =
    ranked(df, orderCols, outCol, None)

  /** Every input column, then the 1-based rank in `orderCols` order as
    * `rankCol`, then (given `total` = (index of a LONG column, output
    * name)) that column's inclusive running total; the running state is
    * two primitive longs per partition. */
  private def ranked(df: DataFrame, orderCols: Seq[String], rankCol: String,
                     total: Option[(Int, String)]): DataFrame = {
    require(orderCols.nonEmpty)
    val vi = total.fold(-1)(_._1)
    val (sorted, partAgg) = orderedScan(df, orderCols.map(col)) { it =>
      var n = 0L; var s = 0L
      it.foreach { r => n += 1; if (vi >= 0 && !r.isNullAt(vi)) s += r.getLong(vi) }
      (n, s)
    }
    val offsets = partAgg.scanLeft((0L, 0L)) { case ((n0, s0), (n, s)) =>
      (n0 + n, s0 + s)
    }
    val rows = sorted.mapPartitionsWithIndex { (i, it) =>
      var r = offsets(i)._1
      var run = offsets(i)._2
      it.map { row =>
        r += 1
        if (vi < 0) Row.fromSeq(row.toSeq :+ r)
        else {
          if (!row.isNullAt(vi)) run += row.getLong(vi)
          Row.fromSeq(row.toSeq :+ r :+ run)
        }
      }
    }
    val appended = StructField(rankCol, LongType, nullable = false) +:
      total.map(t => StructField(t._2, LongType, nullable = false)).toSeq
    df.sparkSession.createDataFrame(rows, StructType(df.schema.fields ++ appended))
  }
}

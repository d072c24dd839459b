package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.PrefixSum

/** Paginated ingestion.
  *
  * The reference crawls a REST API page by page on a single thread with
  * `sleep(12)` between calls (feeder.py:22-47). Re-expressed for Spark:
  * the page-index space is the parallelism axis — a plan is built over
  * all pages and tasks fetch pages independently, so a 10k-page export
  * is a 10k-task map, not a 33-hour serial loop.
  */
object PagedReader {

  /** Compose per-page DataFrames (lazy plans) into the full set. For a
    * handful of pages whose fetch itself is driver-side (e.g. one REST
    * call building a local plan each), a `unionAll` keeps Catalyst in
    * charge of the combined plan. */
  def readPages(pages: Seq[DataFrame]): DataFrame =
    pages.reduce(_ unionAll _)

  /** Per-page (lo, hi) key bounds for the first `numPages` pages of
    * `pageSize` rows in `orderCol` order. ONE distributed top-(P·S) pass
    * over the key column only (sort+limit collapses to
    * TakeOrderedAndProject — per-partition heaps, no global sort, no
    * single-task window). `orderCol` must be unique, or a boundary
    * between equal keys would over-fill a page. */
  def pageBounds(df: DataFrame, orderCol: String, pageSize: Int,
                 numPages: Int): Seq[(Any, Any)] = {
    val keys = df.select(col(orderCol)).orderBy(col(orderCol))
      .limit(pageSize * numPages).collect().map(_.get(0))
    requireUniqueKeys(keys, orderCol)
    keys.grouped(pageSize).map(c => (c.head, c.last)).toSeq
  }

  /** The unique-key contract enforced loudly: a duplicate key at a page
    * boundary would silently over-fill a page under the range predicate.
    * Adjacent-equality over the already-sorted keys — O(n), no extra
    * pass. (A duplicate of the LAST key lying beyond the collected window
    * is still invisible; the caller owns true uniqueness.) */
  private def requireUniqueKeys(sortedKeys: Array[Any], orderCol: String): Unit = {
    var i = 1
    while (i < sortedKeys.length) {
      require(sortedKeys(i) != sortedKeys(i - 1),
        s"pageBounds: duplicate key '${sortedKeys(i)}' in order column '$orderCol' — " +
          "page ranges require a unique key")
      i += 1
    }
  }

  /** Per-page (lo, hi) bounds WITHOUT collecting P·S keys: the
    * two-phase ordered scan over the key column (`PrefixSum.orderedScan`)
    * counts per partition (pass 1), then pass 2 extracts ONLY the
    * boundary-rank keys. The driver holds O(numPages + partitions)
    * values however many pages are requested — `pageBounds`'s collected
    * window would be the whole key column when paging an entire table.
    * The unique-key contract is enforced loudly here too: adjacent
    * duplicates are detected executor-side within partitions and
    * driver-side across partition edges, covering every adjacent pair in
    * the paged window.
    *
    * Two passes = the key-column sort runs twice; callers paging a huge
    * table repeatedly should persist `df`'s key projection first. */
  def pageBoundsDistributed(df: DataFrame, orderCol: String, pageSize: Int,
                            numPages: Int): Seq[(Any, Any)] = {
    // pass 1 (PrefixSum.orderedScan): per-partition counts → global offsets
    val (keys, counts) = PrefixSum.orderedScan(df.select(col(orderCol).as("__k")),
      Seq(col("__k")))(_.size.toLong)
    val offsets = counts.scanLeft(0L)(_ + _)
    val n = math.min(offsets.last, pageSize.toLong * numPages)
    if (n == 0) return Seq.empty
    val pagesEff = (((n + pageSize - 1) / pageSize).toInt).min(numPages)
    val needed = (0 until pagesEff).flatMap { p =>
      Seq(p.toLong * pageSize, math.min(p.toLong * pageSize + pageSize - 1, n - 1))
    }.toSet
    // pass 2: boundary keys + window first/last/dup per partition
    val perPart = keys.mapPartitionsWithIndex { (i, it) =>
      val start = offsets(i)
      if (start >= n) Iterator.empty
      else {
        var rank = start
        var prev: Any = null
        var seen = false
        var dup = false
        var first: Any = null
        var last: Any = null
        val picked = collection.mutable.ArrayBuffer.empty[(Long, Any)]
        while (it.hasNext && rank < n) {
          val k = it.next().get(0)
          if (!seen) { first = k; seen = true }
          else if (java.util.Objects.equals(prev, k)) dup = true
          if (needed(rank)) picked += ((rank, k))
          prev = k; last = k; rank += 1
        }
        Iterator((i, first, last, dup, picked.toSeq))
      }
    }.collect().sortBy(_._1)
    perPart.foreach { case (_, _, _, dup, _) =>
      require(!dup,
        s"pageBoundsDistributed: duplicate key in order column '$orderCol' — " +
          "page ranges require a unique key")
    }
    perPart.iterator.sliding(2).withPartial(false).foreach { w =>
      require(!java.util.Objects.equals(w.head._3, w(1)._2),
        s"pageBoundsDistributed: duplicate key '${w(1)._2}' at a partition edge " +
          s"in order column '$orderCol' — page ranges require a unique key")
    }
    val byRank = perPart.flatMap(_._5).toMap
    (0 until pagesEff).map { p =>
      (byRank(p.toLong * pageSize),
        byRank(math.min(p.toLong * pageSize + pageSize - 1, n - 1)))
    }
  }

  /** One page as a key-range predicate — reaches the parquet scan as
    * PushedFilters (min/max row-group pruning), touching only the page's
    * key range instead of ranking the whole table. */
  def pageByRange(df: DataFrame, orderCol: String, lo: Any, hi: Any): DataFrame =
    df.filter(col(orderCol) >= lit(lo) && col(orderCol) <= lit(hi))

  /** Bounds windows up to this many keys use the collected derivation:
    * sort+limit collapses to TakeOrderedAndProject (per-partition heaps,
    * one job, no shuffle of the key column) — far cheaper than a full
    * range repartition when only a few pages are requested. Above it,
    * the collect itself is the bottleneck and the distributed
    * derivation wins. */
  private val CollectedBoundsMaxKeys = 100000L

  /** The first `numPages` pages as per-page range-predicate DataFrames:
    * one bounds derivation — collected (TakeOrdered) for small windows,
    * distributed (O(numPages) at the driver) when the window is large —
    * then every page is an independent pushdown scan (the reference's
    * PageNumber loop, feeder.py:22-47, with the page index as the
    * parallelism axis). */
  def pages(df: DataFrame, orderCol: String, pageSize: Int,
            numPages: Int): Seq[DataFrame] = {
    val bounds =
      if (pageSize.toLong * numPages <= CollectedBoundsMaxKeys)
        pageBounds(df, orderCol, pageSize, numPages)
      else pageBoundsDistributed(df, orderCol, pageSize, numPages)
    bounds.map { case (lo, hi) => pageByRange(df, orderCol, lo, hi) }
  }

  /** Deterministic page slice (page numbers start at 1, like the
    * reference's PageNumber). Key-range form: no global window. */
  def pageOf(df: DataFrame, orderCol: String, pageSize: Int, page: Int): DataFrame = {
    val bounds = pageBounds(df, orderCol, pageSize, page)
    if (bounds.length < page) df.filter(lit(false))
    else {
      val (lo, hi) = bounds(page - 1)
      pageByRange(df, orderCol, lo, hi)
    }
  }
}

package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Partitioned write layout with bounded file sizes — the 100-TB
  * small-files / giant-files story.
  *
  * A naive `df.write.partitionBy(cols)` has two failure modes at scale:
  * every task holding rows of every partition value writes one file per
  * (task, value) pair — tasks × values tiny files — or, after a
  * `repartition(cols)`, ONE task per value writes one giant file (and a
  * skewed value funnels through a single writer). This operator targets
  * `targetRowsPerFile`:
  *
  *   1. one count aggregate sizes each partition value (map-side
  *      combinable; result is O(values), broadcast back);
  *   2. each row salts into one of ⌈rows/target⌉ slots for its value —
  *      a pure row-hash function, no window, no per-value funnel;
  *   3. a shuffle on (partitionCols, slot) co-locates each slot;
  *   4. `maxRecordsPerFile` caps any file at `target` rows as the hard
  *      backstop (hash slots are approximate: a slot that lands a few
  *      rows over the target splits rather than overflowing).
  *
  * Result: per-value file count ≈ ⌈rows/target⌉ (exact up to hash
  * variance), every file ≤ target rows, and writer parallelism scales
  * with data volume, not with the partition-value count.
  */
object WriteLayout {

  /** Plan the salted layout without writing (assertable): returns the
    * input extended with `__slot`, shuffled on (partitionCols, __slot).
    * `__files` per value = ⌈count / (0.9·target)⌉ — slots pack to ~90%
    * of the file cap, NOT 100%: slot sizes are hash-approximate
    * (relative σ ≈ 1/√target), and a slot that lands even one row over
    * the cap is split by the `maxRecordsPerFile` backstop, DOUBLING
    * that slot's file count. At mean=target half the slots overshoot
    * (observed at sf0.1: 60 files where the contract allowed 42); at
    * mean=0.9·target an overshoot is a ~7σ event. Integer ceiling —
    * no doubles in the plan. */
  def planLayout(df: DataFrame, partitionCols: Seq[String],
                 targetRowsPerFile: Long): DataFrame = {
    require(partitionCols.nonEmpty, "planLayout needs at least one partition column")
    require(targetRowsPerFile > 0, "targetRowsPerFile must be positive")
    val den = 9L * targetRowsPerFile
    val counts = df.groupBy(partitionCols.map(col): _*)
      .agg(count(lit(1)).as("__rows"))
      .withColumn("__files",
        greatest(lit(1L), expr(s"(__rows * 10 + ${den - 1}) div $den")))
      .drop("__rows")
    // NULL-SAFE join back: a NULL partition value is a legal partition
    // (partitionBy writes it as the default-partition dir) — a plain
    // equi-join would silently drop those rows from the written output
    val renamed = partitionCols.foldLeft(counts)((d, c) =>
      d.withColumnRenamed(c, s"__p_$c"))
    val cond = partitionCols.map(c => col(c) <=> col(s"__p_$c")).reduce(_ && _)
    df.join(broadcast(renamed), cond)
      .drop(partitionCols.map(c => s"__p_$c"): _*)
      // slot salt: input-position hash (split id + in-split offset), not a
      // data hash — duplicate-heavy data would hash identical rows into
      // one slot and re-create the single-writer funnel, and it stays
      // defined when every column is a partition column. The local sort
      // first makes the position assignment RETRY-SAFE: a recomputed map
      // task re-derives the same order (and therefore the same slots)
      // even when upstream lineage contains a shuffle whose iteration
      // order differs across attempts — the exact bug class Spark fixed
      // in its own round-robin repartition (SPARK-23207), solved the
      // same way, at the same local-sort price.
      .sortWithinPartitions(df.columns.toSeq.map(col): _*)
      .withColumn("__slot",
        pmod(xxhash64(spark_partition_id(), monotonically_increasing_id()),
          col("__files")))
      .drop("__files")
      .repartition(partitionCols.map(col) :+ col("__slot"): _*)
  }

  /** Write `df` under `path` as parquet partitioned by `partitionCols`
    * with per-file row counts bounded by `targetRowsPerFile`. */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String],
                       targetRowsPerFile: Long): Unit =
    planLayout(df, partitionCols, targetRowsPerFile)
      .drop("__slot")
      .write
      .option("maxRecordsPerFile", targetRowsPerFile)
      .partitionBy(partitionCols: _*)
      .mode(SaveMode.Overwrite)
      .parquet(path)
}

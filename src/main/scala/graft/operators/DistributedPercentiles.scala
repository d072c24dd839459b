package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

/** Exact interpolated per-group percentiles WITHOUT per-group value
  * buffering.
  *
  * Spark's built-in `percentile` aggregate collects every value of a
  * group into one aggregation buffer — at 100 TB a hot group funnels
  * through (and OOMs) a single task. This implementation selects the
  * needed order statistics distributively instead:
  *
  *   1. range-partition on (group, value) + sort within partitions —
  *      a global (group, value) order, groups contiguous, NO global
  *      single-reducer sort (`PrefixSum.orderedScan`, with pass 1);
  *   2. pass 1: per-partition per-group run-length counts → the driver
  *      derives each group's total and per-partition rank offsets;
  *   3. pass 2: emit ONLY the rows sitting at the floor/ceil ranks of
  *      the requested percentiles (O(groups × percentiles) rows);
  *   4. driver interpolates at rank p·(n-1) with Spark `percentile`'s
  *      exact weighted form `(ceil-pos)·lo + (pos-floor)·hi` — results
  *      are bit-identical to the built-in aggregate.
  *
  * Driver memory is O(groups × (partitions + percentiles)) — built for
  * the percentile-funnel shape (FEW groups, huge value sets). For
  * high-cardinality groups use `approx_percentile`, which is already
  * buffer-bounded.
  */
object DistributedPercentiles {

  /** @param ps (output column name, fraction in [0,1]) per percentile
    * @return one row per group: (groupCol, ps...) — exact interpolated
    *         percentiles as doubles (nulls in `valueCol` ignored, like
    *         the built-in aggregate; empty groups don't appear) */
  def exact(df: DataFrame, groupCol: String, valueCol: String,
            ps: Seq[(String, Double)]): DataFrame = {
    require(ps.nonEmpty && ps.forall { case (_, p) => p >= 0.0 && p <= 1.0 })
    val spark = df.sparkSession
    // pass 1 (PrefixSum.orderedScan): ordered per-partition group
    // run-lengths (groups are contiguous under the range partitioning)
    val v = col(valueCol).cast("double")
    val (sorted, runs) = PrefixSum.orderedScan(df.filter(v.isNotNull),
      Seq(col(groupCol), v), Seq(col(groupCol), v)) { it =>
      val buf = collection.mutable.ArrayBuffer.empty[(Any, Long)]
      var cur: Any = null
      var n = 0L
      var has = false
      it.foreach { r =>
        val g = r.get(0)
        if (has && g == cur) n += 1
        else {
          if (has) buf += ((cur, n))
          cur = g; n = 1; has = true
        }
      }
      if (has) buf += ((cur, n))
      buf.toSeq
    }

    // per-group totals + the rank offset of each (partition, group)
    val totals = collection.mutable.LinkedHashMap.empty[Any, Long]
    val offsets = collection.mutable.HashMap.empty[(Int, Any), Long]
    runs.zipWithIndex.foreach { case (rs, pi) =>
      rs.foreach { case (g, n) =>
        val sofar = totals.getOrElse(g, 0L)
        offsets((pi, g)) = sofar
        totals(g) = sofar + n
      }
    }
    val schema = StructType(df.schema(groupCol) +:
      ps.map { case (name, _) => StructField(name, DoubleType) })
    if (totals.isEmpty) return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

    // ranks to fetch per group: floor and ceil of p·(n-1) per percentile
    val needed: Map[Any, Set[Long]] = totals.map { case (g, n) =>
      g -> ps.flatMap { case (_, p) =>
        val pos = p * (n - 1)
        Seq(math.floor(pos).toLong, math.ceil(pos).toLong)
      }.toSet
    }.toMap
    val neededB = spark.sparkContext.broadcast(needed)
    val offsetsB = spark.sparkContext.broadcast(offsets.toMap)

    // pass 2: only the boundary-rank rows come back
    val picked: Map[(Any, Long), Double] = sorted.mapPartitionsWithIndex { (i, it) =>
      val need = neededB.value
      val offs = offsetsB.value
      var cur: Any = null
      var rank = 0L
      var has = false
      it.flatMap { row =>
        val g = row.get(0)
        if (!has || g != cur) { cur = g; rank = offs((i, g)); has = true }
        val r = rank
        rank += 1
        if (need.getOrElse(g, Set.empty).contains(r)) Some(((g, r), row.getDouble(1)))
        else None
      }
    }.collect().toMap

    val rows = totals.toSeq.map { case (g, n) =>
      val vals = ps.map { case (_, p) =>
        val pos = p * (n - 1)
        val loIdx = math.floor(pos).toLong
        val hiIdx = math.ceil(pos).toLong
        val lo = picked((g, loIdx))
        // Spark Percentile's weighted interpolation, bit-for-bit
        if (hiIdx == loIdx) lo
        else (hiIdx - pos) * lo + (pos - loIdx) * picked((g, hiIdx))
      }
      Row.fromSeq(g +: vals)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }
}

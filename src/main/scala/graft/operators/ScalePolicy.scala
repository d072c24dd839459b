package graft.operators

import org.apache.spark.sql.DataFrame

/** The one "is this a corpus-scale input?" rule, read from the
  * relation's optimizer statistics (for file sources: the scan's input
  * bytes) — the same signal Catalyst's broadcast decision reads.
  *
  *   - SMALL (< 512 MB, every bench SF up to sf10): persist a table
  *     only when two separate executions read it (a driver action and
  *     the returned plan, the two passes of `PrefixSum.orderedScan`,
  *     loop rounds or checkpoints) or when it is a map-side subtree with
  *     no exchange its consumers can share; within one plan Spark's
  *     exchange reuse already runs a shared aggregate once. Let AQE
  *     broadcast a verify join's slim pair side. MinHashLSH's shingle
  *     table is such a map-side subtree with 3 consumers; recomputing it
  *     per consumer tripled the LSH family's sf0.1 cost without the
  *     persist (the +50% regression recorded in BENCH_r13.json).
  *   - LARGE (sf100+): do NOT persist, and build verify joins as
  *     SHUFFLE_HASH on the slim pair side. The shingle table (~8 KB of
  *     64-bit hashes per document, ~80 GB at sf100) is far past any
  *     cache; its MEMORY_AND_DISK overflow is a corpus-sized disk write
  *     (the r13 sweep's disk wall), while the map-side recompute costs a
  *     fraction of a scan.
  *
  * Per executor on a real cluster, the threshold approximates "fits the
  * storage fraction without evicting the shuffle's working set". */
object ScalePolicy {
  def corpusScale(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.stats.sizeInBytes >= (512L << 20)
}

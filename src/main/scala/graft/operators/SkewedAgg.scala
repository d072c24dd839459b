package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-resistant aggregation: the classic two-phase salted aggregate.
  *
  * A plain `GROUP BY key` sends every row of a hot key to ONE reducer —
  * at 100 TB a single mega-key stalls the stage. Salting splits each key
  * into `salts` subgroups (phase 1, combines map-side like any hash
  * aggregate), then re-aggregates the `salts` partial rows per key
  * (phase 2, trivially small). Total shuffle volume is unchanged; the
  * worst reducer shrinks by ~`salts`×.
  *
  * Spark's AQE skew handling covers sort-merge JOINS only — skewed
  * aggregations still need this pattern.
  */
object SkewedAgg {

  /** `SELECT key, count(*), sum(valueCol)` resistant to key skew. The
    * salt is ROW-derived (never key-derived — that would send a hot key
    * to one reducer again); the final aggregate is invariant to the
    * row→salt mapping, so any deterministic spread works. */
  def saltedCountSum(df: DataFrame, keyCol: String, valueCol: String,
                     salts: Int = 16): DataFrame =
    df.withColumn("__salt", pmod(monotonically_increasing_id(), lit(salts)))
      // phase 1: (key, salt) — hot keys split across `salts` reducers
      .groupBy(col(keyCol), col("__salt"))
      .agg(count(lit(1)).as("__n"), sum(col(valueCol)).as("__s"))
      // phase 2: `salts` small rows per key
      .groupBy(col(keyCol))
      .agg(sum(col("__n")).as("n"), sum(col("__s")).as("total"))

  /** Salted distinct-count: phase 1 dedups within (key, salt) — exact
    * because a given value always lands in the same salt bucket (salt is
    * derived from the VALUE, not random). */
  def saltedCountDistinct(df: DataFrame, keyCol: String, valueCol: String,
                          salts: Int = 16): DataFrame =
    df.withColumn("__salt", pmod(crc32(col(valueCol).cast("string")), lit(salts)))
      .groupBy(col(keyCol), col("__salt"))
      .agg(countDistinct(col(valueCol)).as("__d"))
      .groupBy(col(keyCol))
      .agg(sum(col("__d")).as("n_distinct"))
}

package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Keyed upsert/merge.
  *
  * The reference issues one `UPDATE recruits_log SET col = %s WHERE id = %s`
  * per spreadsheet row (add_q5010.py:33-40, add_q5011_2t.py:72-84). The
  * relational equivalent is a merge: join base to updates on the key and
  * coalesce update values over base values. Executed as one distributed
  * join with the updates side broadcast: a correction file is small next
  * to the table it corrects.
  */
object Upsert {

  /** One row per key from an update batch — the reference's per-row
    * UPDATE is last-write-wins, so a batch with several fixes to one id
    * must collapse BEFORE the join or every base row of that key fans
    * out. Wins by `orderCol` when given (the batch's ordering column),
    * else by the value tuple itself (deterministic, documented). */
  private def latestPerKey(updates: DataFrame, key: String,
                           valueCols: Seq[String],
                           orderCol: Option[String]): DataFrame = {
    val u0 = updates.select(((key +: valueCols) ++ orderCol).distinct.map(col): _*)
    // ties in orderCol break on the value tuple (struct comparison is
    // field-by-field), so last-write-wins stays deterministic even for
    // duplicate (key, orderCol) pairs. The struct is null when orderCol
    // is null so max_by keeps IGNORING null-ordered update rows (the
    // pre-tiebreak semantic: an update without an order value never
    // wins over one with it, and an all-null key leaves base untouched).
    val ord = orderCol.map(c =>
        when(col(c).isNotNull, struct((c +: valueCols).distinct.map(col): _*)))
      .getOrElse(struct(valueCols.map(col): _*))
    u0.groupBy(col(key))
      .agg(max_by(struct(valueCols.map(col): _*), ord).as("__u"))
      // a key whose updates ALL had a null orderCol yields a null __u —
      // drop it entirely: `update` must leave base untouched and `merge`
      // must not append a phantom all-null row for it
      .filter(col("__u").isNotNull)
      .select(col(key) +: valueCols.map(c => col(s"__u.$c").as(c)): _*)
  }

  /** UPDATE-only semantics (add_q5010.py): base rows keep their identity;
    * rows with a matching update take the update's values for
    * `updateCols`; updates without a matching base row are dropped.
    * Duplicate keys in `updates` collapse to one row (last-write-wins by
    * `orderCol`, or max value tuple when none) — never a base fan-out. */
  def update(base: DataFrame, updates: DataFrame, key: String,
             updateCols: Seq[String],
             orderCol: Option[String] = None): DataFrame = {
    val u0 = latestPerKey(updates, key, updateCols, orderCol)
    val renamed = updateCols.foldLeft(u0)((d, c) => d.withColumnRenamed(c, s"__u_$c"))
    val joined = base.join(broadcast(renamed), Seq(key), "left")
    val projected = base.columns.map { c =>
      if (updateCols.contains(c)) coalesce(col(s"__u_$c"), col(c)).as(c)
      else col(c)
    }
    joined.select(projected.toIndexedSeq: _*)
  }

  /** SCD2 (history-keeping) apply: for each update (key, value, ts),
    * close the key's CURRENT row (valid_to := ts) and append a new
    * current row (valid_from := ts, valid_to := NULL). Non-updated keys
    * and already-closed rows pass through untouched.
    *
    * One broadcast-able join against the updates + a union — no window,
    * no per-key driver loop; at scale this is a single co-partitioned
    * pass over the history table.
    *
    * @param history (key, valueCol, valid_from, valid_to) — valid_to
    *                NULL marks the current row
    * @param updates (key, valueCol, ts)
    */
  def scd2Apply(history: DataFrame, updates: DataFrame, key: String,
                valueCol: String, tsCol: String): DataFrame = {
    // one update per key: keep the LATEST (max ts) — a multi-row update
    // batch would otherwise fan out every history row of that key
    val u = updates
      .select(col(key), col(valueCol).as("__u_val"), col(tsCol).as("__u_ts"))
      .groupBy(col(key))
      // value tiebreak keeps the pick deterministic on duplicate (key, ts)
      .agg(expr("max_by(__u_val, struct(__u_ts, __u_val))").as("__u_val"),
        max("__u_ts").as("__u_ts"))
    val closed = history.join(broadcast(u), Seq(key), "left")
      .withColumn("valid_to",
        when(col("valid_to").isNull && col("__u_ts").isNotNull, col("__u_ts"))
          .otherwise(col("valid_to")))
      .select(history.columns.map(col).toIndexedSeq: _*)
    val fresh = u.select(
      col(key), col("__u_val").as(valueCol),
      col("__u_ts").as("valid_from"),
      lit(null).cast(history.schema("valid_to").dataType).as("valid_to"))
      .select(history.columns.map(col).toIndexedSeq: _*)
    closed.unionAll(fresh)
  }

  /** Insert-or-update merge: matched rows take update values, unmatched
    * updates are appended as new rows. Full-outer join + coalesce.
    * Duplicate keys in `updates` collapse like `update` (last-write-wins
    * by `orderCol`, or max value tuple) — never a base fan-out. */
  def merge(base: DataFrame, updates: DataFrame, key: String,
            orderCol: Option[String] = None): DataFrame = {
    val cols = base.columns
    val valueCols = updates.columns.filter(c => c != key && !orderCol.contains(c)).toSeq
    val deduped = latestPerKey(updates, key, valueCols, orderCol)
    val renamed = cols.filter(_ != key)
      .foldLeft(deduped)((d, c) =>
        if (d.columns.contains(c)) d.withColumnRenamed(c, s"__u_$c") else d)
    val joined = base.join(renamed, Seq(key), "full_outer")
    val projected = cols.map { c =>
      if (c == key) col(key)
      else if (renamed.columns.contains(s"__u_$c")) coalesce(col(s"__u_$c"), col(c)).as(c)
      else col(c)
    }
    joined.select(projected.toIndexedSeq: _*)
  }
}

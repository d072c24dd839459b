package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (point-in-time) join: for each left row, the payload of the most
  * recent right row with the same key and `rightTs <= leftTs` (inclusive,
  * matching DuckDB/Postgres ASOF semantics).
  *
  * Plan shape: tag both sides, UNION, one window pass per key ordered by
  * (ts, side) carrying the last non-null payload forward — a single
  * shuffle on the key and a single sort, independent of how many right
  * rows precede each left row. The naive alternative (range join +
  * groupBy max) explodes to |L|·|R| per key; this stays |L|+|R|.
  */
object AsofJoin {

  /** @param left       rows to annotate (must contain `key`, `leftTsCol`)
    * @param right      lookup stream (must contain `key`, `rightTsCol`, `payloadCol`)
    * @param asofCol    output column name for the carried payload (null
    *                   when no right row precedes the left row)
    */
  def lastPriorMatch(left: DataFrame, right: DataFrame, key: String,
                     leftTsCol: String, rightTsCol: String,
                     payloadCol: String, asofCol: String): DataFrame =
    carriedFrame(left, right, key, leftTsCol, rightTsCol, payloadCol)
      .select(col("__row.*"), col("__carried.p").as(asofCol))

  /** As-of with a freshness bound: like [[lastPriorMatch]] but the match
    * EXPIRES when the matched right row is older than
    * `toleranceSeconds` — "the most recent signup WITHIN 30 days".
    * Same single-window single-shuffle plan; the bound is a post-carry
    * predicate on the carried timestamp, never a range join (which
    * would explode |L|·|R| per key). Timestamp-typed ts columns. */
  def lastPriorMatchWithin(left: DataFrame, right: DataFrame, key: String,
                           leftTsCol: String, rightTsCol: String,
                           payloadCol: String, asofCol: String,
                           toleranceSeconds: Long): DataFrame = {
    require(toleranceSeconds >= 0)
    carriedFrame(left, right, key, leftTsCol, rightTsCol, payloadCol)
      .select(col("__row.*"),
        when(unix_micros(col("__carried.ts")) >=
            unix_micros(col(s"__row.$leftTsCol")) - toleranceSeconds * 1000000L,
          col("__carried.p")).as(asofCol))
  }

  private def carriedFrame(left: DataFrame, right: DataFrame, key: String,
                           leftTsCol: String, rightTsCol: String,
                           payloadCol: String): DataFrame = {
    val leftStruct = struct(left.columns.map(col).toIndexedSeq: _*)

    // the payload rides inside a NON-NULL struct wrapper: a right row
    // whose payload is NULL is still "the most recent prior right row"
    // and must yield NULL — carrying the bare payload with
    // last(ignoreNulls) would skip it and fall back to an OLDER row
    val r0 = right
      // NULL keys AND NULL timestamps never match (ASOF comparison
      // semantics) — an unfiltered NULL ts would sort before every left
      // row in the carry window and ride as a bogus "prior" match
      .filter(col(key).isNotNull && col(rightTsCol).isNotNull)
      .select(
        col(key).as("__k"), col(rightTsCol).as("__ts"), lit(0).as("__side"),
        struct(col(rightTsCol).as("ts"), col(payloadCol).as("p")).as("__pw"))
    val l = left.select(
      col(key).as("__k"), col(leftTsCol).as("__ts"), lit(1).as("__side"),
      lit(null).cast(r0.schema("__pw").dataType).as("__pw"), leftStruct.as("__row"))
    // join semantics: NULL keys never match (Window.partitionBy would
    // otherwise group NULL keys together) — drop NULL-key right rows so
    // NULL-key left rows fall through with a null payload
    val r = r0.select(col("__k"), col("__ts"), col("__side"), col("__pw"),
      lit(null).cast(l.schema("__row").dataType).as("__row"))

    // side 0 (right) sorts before side 1 (left) at equal ts → inclusive;
    // __pw is the equal-ts tie-break among right rows (max payload wins,
    // with a non-null payload beating NULL at the same ts)
    val w = Window.partitionBy(col("__k"))
      .orderBy(col("__ts"), col("__side"), col("__pw"))
      .rowsBetween(Window.unboundedPreceding, 0)
    r.unionAll(l)
      .withColumn("__carried", last(col("__pw"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select(col("__row"), col("__carried"))
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Month-offset date repair (add_q5011_2t.py).
  *
  * The reference processes one spreadsheet ("file") at a time: it decides
  * from the file's FIRST row whether the recruiting-date month is shifted
  * relative to the interview date (add_q5011_2t.py:27-45), then for every
  * row either fills a missing recruiting date from IVDate1 or — when the
  * file-level flag is set — bumps the month by string surgery
  * (add_q5011_2t.py:58-103, month `+1` formatted `%02d`, intentionally NOT
  * wrapping past 12, mirroring the reference exactly).
  *
  * Spark re-expression: one read, one shuffle, no join. The per-file
  * decision is two window aggregates over `partitionBy(group)` (`min_by`
  * picks each file's first row, so rows are never ordered within a
  * file), evaluated in a single Window node next to the rows they flag;
  * no per-file driver loop, so a million "files" repair in one job.
  * Reading the input once matters when it is a live feed: every page is
  * fetched once per action, and the flags always describe the rows they
  * are applied to.
  *
  * Trade-off: the window shuffles and sorts every input row by group,
  * where a grouped aggregate joined back would shuffle one row per group
  * but read the input twice. A skewed file becomes one (spillable)
  * window partition.
  */
object DateRepair {

  /** Month bump by string surgery on `yyyy-MM-dd HH:mm:ss`:
    * `f"{int(month)+1:02d}"` (add_q5011_2t.py:86-103). */
  def bumpMonth(iso: Column): Column =
    concat(
      substring(iso, 1, 5),
      lpad((substring(iso, 6, 2).cast("int") + 1).cast("string"), 2, "0"),
      substring(iso, 8, 12))

  /** Repair `recruitCol` (ISO `yyyy-MM-dd HH:mm:ss` string, nullable) per
    * group:
    *   - group flag = month of first row's interview ts != month of the
    *     first non-null recruiting date (reference `is_month_incorrect`);
    *   - null recruiting date → interview date formatted ISO;
    *   - flagged group → month-bumped recruiting date.
    *
    * Rows whose group is NULL belong to no file: they keep the per-row
    * fill but are never month-bumped. The output has `groupCol` first,
    * then the other input columns in their input order.
    *
    * @param ivTsCol  interview timestamp column (already parsed)
    * @param orderCol defines "first" within a group (file row order)
    */
  def repair(df: DataFrame, groupCol: String, orderCol: String,
             recruitCol: String, ivTsCol: String): DataFrame = {
    val file = Window.partitionBy(col(groupCol))
    val ivMonth = month(min_by(col(ivTsCol), col(orderCol)).over(file))
    // min_by skips a NULL ordering, so this is the first row that HAS a
    // recruiting date (SQL: ... FILTER (WHERE recruit IS NOT NULL))
    val recMonth = min_by(substring(col(recruitCol), 6, 2).cast("int"),
      when(col(recruitCol).isNotNull, col(orderCol))).over(file)
    val monthIncorrect =
      col(groupCol).isNotNull && coalesce(recMonth =!= ivMonth, lit(false))
    val resolver = df.sparkSession.sessionState.conf.resolver
    val rest = df.columns.toSeq.filterNot(resolver(_, groupCol))
    df.withColumn(recruitCol,
        when(col(recruitCol).isNull,
          date_format(col(ivTsCol), "yyyy-MM-dd HH:mm:ss"))
          .when(monthIncorrect, bumpMonth(col(recruitCol)))
          .otherwise(col(recruitCol)))
      .select((col(groupCol) +: rest.map(col)): _*)
  }
}

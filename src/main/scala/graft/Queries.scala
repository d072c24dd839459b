package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registry row: query key (SURVEY.md §2), the Spark query, the
  * DuckDB oracle SQL that computes the same values under the same column
  * names (the driver's sorted-column hash compare is exact), and whether
  * Bench times it.
  */
final case class Q(key: String,
                   fn: (SparkSession, String) => DataFrame,
                   oracle: String,
                   bench: Boolean = true)

/** A query family: one object under `graft.queries` that owns its
  * queries, their oracle SQL and their registry rows. */
abstract class QueryFamily(val name: String) {
  def rows: Seq[Q]
}

/** All SURVEY.md §2 queries, by family. Every query reads only the
  * driver-provided parquet tables under `dir` and is deterministic
  * (fixed seeds, no wall-clock).
  */
object Queries {
  val families: Seq[QueryFamily] = {
    import queries._
    Seq(Feeder, Lsh, Ann, Graph, Series, Text, Stats)
  }

  val registry: Seq[Q] = families.flatMap(_.rows)
}

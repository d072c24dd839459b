package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one path a registry query runs through: build → use → release.
  *
  * Bench, Verify, tools.Inspect and PlanContractSpec differ only in what
  * they do with the built DataFrame (`use`); the rest is here, once:
  *
  *   1. a session whose context has stopped (one query's fatal error,
  *      an executor OOM, can stop the local SparkContext) is rebuilt
  *      from `newSession`, so later keys get a real verdict rather than
  *      "Cannot call methods on a stopped SparkContext";
  *   2. the persisted RDD ids are snapshotted;
  *   3. `build_s` times the registry builder, which includes the driver
  *      jobs a builder runs before its plan exists;
  *   4. `use_s` times the caller's `use`, and `compiles` counts the
  *      classes Janino compiled across build and use (codegen-cache
  *      misses: a warm cache compiles none);
  *   5. whatever the query cached is released AFTER `use` (a query
  *      persists an intermediate only when two separate executions read
  *      it, a driver action and the returned plan for one, and cannot
  *      unpersist it because it returns a lazy plan): the session cache
  *      is cleared and every RDD persisted since step 2 is unpersisted,
  *      so state never carries into the next key, and a later rep never
  *      reuses an earlier rep's cached intermediates (CacheManager
  *      matches by canonicalized plan).
  *
  * `run` never throws and prints nothing; a failure comes back as Left
  * and each caller reports it under its own tag. A caller that owns no
  * session builder passes `() => spark`: a stopped context then stays
  * stopped, and every later run returns its Left. `queries` is the
  * registry; a spec may substitute stub builders.
  */
final class QueryRunner(sfDir: String, newSession: () => SparkSession,
                        queries: Map[String, (SparkSession, String) => DataFrame] =
                          SparkEntry.queries) {
  private var session = newSession()
  private var rebuilt = 0

  /** The live session (the last one built). */
  def spark: SparkSession = session

  /** Sessions rebuilt because the previous context had stopped. */
  def rebuilds: Int = rebuilt

  def run[T](key: String)(use: DataFrame => T): QueryRunner.Run[T] = {
    if (session.sparkContext.isStopped) {
      attempt(session.stop())
      session = newSession()
      rebuilt += 1
    }
    val before = session.sparkContext.getPersistentRDDs.keySet
    val c0 = QueryRunner.compiled
    val t0 = System.nanoTime()
    val built = attempt(queries(key)(session, sfDir))
    val t1 = System.nanoTime()
    val result = built.flatMap(df => attempt(use(df)))
    val t2 = System.nanoTime()
    val compiles = QueryRunner.compiled - c0
    attempt(release(before))
    QueryRunner.Run(key, (t1 - t0) / 1e9, (t2 - t1) / 1e9, compiles, result)
  }

  // Throwable, not NonFatal: a query's OutOfMemoryError must not end the
  // registry walk (the next run rebuilds the session if it died)
  private def attempt[A](f: => A): Either[Throwable, A] =
    try Right(f) catch { case e: Throwable => Left(e) }

  private def release(before: collection.Set[Int]): Unit =
    if (!session.sparkContext.isStopped) {
      session.catalog.clearCache()
      session.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!before(id)) rdd.unpersist(blocking = true)
      }
    }
}

object QueryRunner {
  /** One key's run: seconds in the builder and in `use`, the generated
    * classes compiled in both, and `use`'s result or the failure of
    * either. */
  final case class Run[T](key: String, build_s: Double, use_s: Double,
                          compiles: Long, result: Either[Throwable, T])

  // classes compiled so far in this JVM; the counter is JVM-wide, so a
  // run's count includes whatever another thread compiled meanwhile
  private def compiled: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Bench's action: runs the whole plan and discards its rows. */
  val noop: DataFrame => Unit = _.write.mode("overwrite").format("noop").save()
}

package graft

import org.apache.spark.sql.SparkSession

/** The ONE place the production session config lives.
  *
  * Every graft entry point (Bench, Verify, tools.Inspect) builds its
  * session through `builder(...)` so the scale-critical settings cannot
  * drift apart between them — the r13 sf100 sweep found exactly that
  * class of bug the hard way: Spark's 128-key ObjectHashAggregate
  * sort-based fallback silently sorted an 8e9-row typed-aggregate input
  * to disk because only some builders carried the raised threshold.
  * SessionContractSpec asserts both that the configs below land on a
  * session built here and that every `main` under src/main references
  * this builder, so a refactor that drops either fails `sbt test`, not
  * the next hundred-terabyte run.
  *
  * Each of those mains then runs registry queries on its session through
  * `QueryRunner`, and so does PlanContractSpec, on an AQE-off sibling of
  * the test session.
  */
object GraftSession {

  /** Settings every graft session must carry (asserted by
    * SessionContractSpec — add here, never inline in a main):
    *
    *   - graft extensions (native expressions used by the registry);
    *   - UTC (oracle parity: DuckDB sessions are UTC);
    *   - ObjectHashAggregate fallback raised 128 → 4M keys: graft's
    *     typed-imperative aggregates (TopKAggregate & co) hold BOUNDED
    *     per-key state, so hash aggregation stays cheap at millions of
    *     keys, while the default fallback turns into a full sort of the
    *     pre-aggregation stream (the sf100 q_knn_graph spill killer);
    *   - codegen cache raised 100 → 1024 classes: a `registry_hot` pass
    *     (q_hyperanf, q_canonical_pick, q_corpus_build, q_gearys_c)
    *     generates about 230 distinct classes, so at 100 the LRU cache
    *     evicted each before its next use and every pass recompiled ~227
    *     of them with Janino; `feeder`'s 43 fit either size. Spark reads
    *     the size once per JVM, when `CodeGenerator` is first used, so it
    *     must come from this builder — a later `conf.set` has no effect;
    *   - no UI (headless runs).
    */
  val requiredConfigs: Map[String, String] = Map(
    "spark.sql.extensions" -> "graft.functions.GraftExtensions",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "4194304",
    "spark.sql.codegen.cache.maxEntries" -> "1024",
    "spark.ui.enabled" -> "false")

  /** Local core count for a main's session: `SPARK_GRAFT_CPUS`, else
    * the host's processor count. The one place the variable is read. */
  def cores: String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)

  /** Shuffle parallelism: `SPARK_GRAFT_SHUFFLE_PARTITIONS` overrides the
    * caller's default (normally = cores). 32-way shuffles are the right
    * grain at bench SFs but ~0.5 GB tasks at sf100 — large-SF sweeps
    * pass a higher count, the same lever a real cluster pulls. */
  def shufflePartitions(default: String): String =
    sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", default)

  /** Builder with the shared config applied; callers may add their own
    * entry-point-specific settings on top before `getOrCreate()`. */
  def builder(cores: String, defaultPartitions: String): SparkSession.Builder = {
    val base = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", shufflePartitions(defaultPartitions))
    requiredConfigs.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }
  }

  /** Exercise the parquet reader, shuffle machinery and codegen once so
    * the first timed query doesn't absorb session start-up. */
  def warmUp(spark: SparkSession, sfDir: String): Unit =
    spark.read.parquet(s"$sfDir/orders.parquet")
      .groupBy("o_orderstatus").count().collect()
}

package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

/** The session-config contract as a GATE (r13 verdict task 4).
  *
  * The sf100 sweeps proved some configs are scale-critical in a way no
  * sf0.01 oracle can see — most notably the ObjectHashAggregate
  * sort-based fallback threshold: at its 128-key default, Spark
  * silently sorts a typed-imperative aggregate's entire pre-agg stream
  * to disk (the q_knn_graph 53 GB spill killer). Those settings live in
  * ONE place, `GraftSession.requiredConfigs`, and this spec pins both
  * halves of the contract:
  *
  *   1. a session built through `GraftSession.builder` actually carries
  *      every required config (a typo'd key or value fails here);
  *   2. every production entry point (each src/main source defining a
  *      `main`: Bench, Verify, tools.Inspect) builds its session
  *      THROUGH GraftSession — a refactor that re-inlines a builder (and
  *      then drifts) fails the source scan.
  */
class SessionContractSpec extends GraftSuite {

  test("GraftSession.builder carries every required config") {
    // asserted on the SHARED session, which SparkFixture builds through
    // GraftSession.builder: a sibling session cannot test this contract
    // — extensions load from the SparkContext's STATIC conf, so in a
    // JVM whose context already exists they silently don't apply, and
    // SparkSession.stop() would stop the shared context and poison
    // every later suite (both bit the r14 inherited tree)
    val s = spark
    GraftSession.requiredConfigs.foreach { case (k, v) =>
      assert(s.conf.get(k) == v, s"required config $k")
    }
    // the threshold must be the raised one — the 128 default is the
    // sf100 spill bug; any future edit must keep >= 1M keys
    val thr = s.conf.get(
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold").toLong
    assert(thr >= (1L << 20), s"fallbackThreshold $thr below 1M keys")
    // the graft extensions must be LIVE, not just configured: a
    // native registry function resolves only if injection happened
    assert(s.sql(
      "SELECT jaccard_sets(array(1L,2L), array(1L,2L)) AS j")
      .head().getDouble(0) == 1.0)
  }

  test("shuffle-partitions knob resolves env override over the default") {
    // the env var is fixed for the JVM's lifetime — assert whichever
    // branch this process is in, so the test is meaningful under both
    // `sbt test` (no override) and a sweep-harness run (override set)
    sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS") match {
      case Some(v) => assert(GraftSession.shufflePartitions("32") == v)
      case None    => assert(GraftSession.shufflePartitions("32") == "32")
    }
  }

  test("every production entry point builds through GraftSession") {
    // found, not listed: every src/main source that defines a `main` —
    // a new tool main cannot opt out by not being named here
    val sources = Using.resource(Files.walk(Paths.get("src/main/scala")))(
      _.iterator().asScala.filter(_.toString.endsWith(".scala")).toList)
    val mains = sources
      .map(p => p -> new String(Files.readAllBytes(p), "UTF-8"))
      .filter(_._2.contains("def main("))
    assert(mains.exists(_._1.endsWith("Bench.scala")), "main scan found no Bench")
    mains.foreach { case (p, src) =>
      assert(src.contains("GraftSession.builder"),
        s"$p must build its session through GraftSession.builder")
      assert(!src.contains("SparkSession.builder()"),
        s"$p must not inline a SparkSession.builder (config drift risk)")
    }
  }
}

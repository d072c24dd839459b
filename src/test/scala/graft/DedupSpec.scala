package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

class DedupSpec extends GraftSuite {
  import spark.implicits._

  private def incoming = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "b"))
    .toDF("id", "phone")
  private def existing = Seq("b", "z").toDF("phone")

  test("newRows keeps only unseen keys (left_anti)") {
    val ids = Dedup.newRows(incoming, existing, "phone")
      .select("id").as[Long].collect().sorted
    assert(ids.toSeq == Seq(1L, 3L))
  }

  test("skippedRows reports rows whose key already exists") {
    val ids = Dedup.skippedRows(incoming, existing, "phone")
      .select("id").as[Long].collect().sorted
    assert(ids.toSeq == Seq(2L, 4L))
  }

  test("exactByFingerprint keeps min id and counts the group") {
    val df = Seq((10L, "x"), (11L, "x"), (12L, "y")).toDF("id", "fp")
    val out = Dedup.exactByFingerprint(df, "fp", "id")
      .orderBy("fp").collect()
    assert(out.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq(("x", 10L, 2L), ("y", 12L, 1L)))
  }

  test("exactRows returns whole surviving rows only") {
    val df = Seq((10L, "x", "p"), (11L, "x", "q"), (12L, "y", "r")).toDF("id", "fp", "payload")
    val out = Dedup.exactRows(df, "fp", "id").orderBy("id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(10L, 12L))
    assert(out.map(_.getString(2)).toSeq == Seq("p", "r"))
  }

  test("anti-join plan is a real join, not a collected list") {
    val plan = Dedup.newRows(incoming, existing, "phone")
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"), s"expected LeftAnti join in:\n$plan")
  }

  test("MinHash-LSH recall equals the exact all-pairs truth on the planted corpus") {
    // The oracle gate replays the BANDED pipeline bit-for-bit (engine
    // parity at every scale); RECALL against the exact all-pairs j>=0.8
    // truth is THIS test's job, where it's a deterministic property of
    // the fixed hash family over the planted structure (j>=0.87 pairs,
    // per-pair miss probability (1-j^4)^8 <= 4e-4 — zero misses here,
    // asserted exactly). Subset direction holds unconditionally: every
    // emitted pair is exact-Jaccard-verified.
    import graft.operators.MinHashLSH
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val corpus = docs.unionAll(
        docs.select((col("doc_id") + 100000000L).as("doc_id"), col("text")))
      val lsh = MinHashLSH.nearDupPairs(corpus, "doc_id", "text",
          shingleK = 3, bands = 8, rowsPerBand = 4, threshold = 0.8)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // brute-force truth over the same univ shingle hashes (|D|^2/2
      // jaccards — fine at spec scale, the thing the oracle can't afford)
      val sh = MinHashLSH.shingled(corpus, "doc_id", "text", 3)
      val truth = sh.select(col("doc_id").as("id_a"), col("__sh").as("__a"))
        .join(sh.select(col("doc_id").as("id_b"), col("__sh").as("__b")),
          col("id_a") < col("id_b"))
        .filter(graft.functions.NativeText.jaccard_sets(col("__a"), col("__b")) >= 0.8)
        .select("id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(lsh.subsetOf(truth),
        s"$dir: LSH emitted a pair below the threshold (verify broken)")
      assert(lsh == truth,
        s"$dir: LSH missed ${(truth -- lsh).size} of ${truth.size} true pairs")
      assert(truth.nonEmpty, s"$dir: vacuous recall check — no true pairs")
    }
  }
}

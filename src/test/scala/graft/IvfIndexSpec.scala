package graft

import org.apache.spark.sql.functions._
import graft.operators.{IvfIndex, Similarity}

class IvfIndexSpec extends GraftSuite {
  import spark.implicits._

  private lazy val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("assign puts every vector in exactly one cell, map-only (no shuffle)") {
    val cents = IvfIndex.trainReplicable(emb, "vec_id", "embedding", nlist = 8)
    val assigned = IvfIndex.assign(emb, "vec_id", "embedding", cents)
    assert(assigned.count() == emb.count())
    assert(assigned.select("vec_id").distinct().count() == emb.count())
    val cells = assigned.select("cid").distinct().count()
    assert(cells > 1 && cells <= 8)
    val plan = assigned.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"assignment should be shuffle-free:\n$plan")
  }

  test("nearest_cells orders cells by distance with id tiebreak") {
    val cents = Array(Array(0.0, 0.0), Array(1.0, 0.0), Array(1.0, 0.0), Array(10.0, 0.0))
    val out = Seq(Tuple1(Seq(0.9f, 0.0f))).toDF("v")
      .select(graft.functions.NativeVec.nearest_cells(col("v"), cents, 3).as("c"))
      .head().getSeq[Int](0)
    // dists: c1 = c2 = 0.01 (tie → lower id first), c0 = 0.81, c3 far
    assert(out == Seq(1, 2, 0))
  }

  test("ivfTopK recall vs brute force is high at nprobe=half the cells") {
    val queries = emb.filter(col("vec_id") < 8).select(col("vec_id").as("q_id"), col("embedding"))
    val exact = Similarity.bruteForceTopK(queries, emb, k = 5)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    val cents = IvfIndex.trainReplicable(emb, "vec_id", "embedding", nlist = 8)
    val approx = IvfIndex.ivfTopK(queries, emb, k = 5, centroids = cents, nprobe = 4)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall $recall too low")
  }

  test("sample-trained quantizer keeps recall; precomputed centroids reproduce it exactly") {
    val queries = emb.filter(col("vec_id") < 8).select(col("vec_id").as("q_id"), col("embedding"))
    val exact = Similarity.bruteForceTopK(queries, emb, k = 5)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    // every 4th vector trains the quantizer (trainReplicable's systematic sample)
    val sampled = IvfIndex.ivfTopK(queries, emb, k = 5, nprobe = 4,
      centroids = IvfIndex.trainReplicable(emb, "vec_id", "embedding", nlist = 8, sampleMod = 4))
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect sampled).size.toDouble / exact.size
    assert(recall >= 0.5, s"sample-trained IVF recall $recall too low")

    // train-once / probe-repeatedly: the quantizer re-trains bit-identically,
    // so centroids kept from an earlier training give the identical result
    val cents = IvfIndex.trainReplicable(emb, "vec_id", "embedding", nlist = 8, sampleMod = 4)
    val reused = IvfIndex.ivfTopK(queries, emb, k = 5, centroids = cents, nprobe = 4)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    assert(reused == sampled)
  }

  test("trainReplicable is deterministic and keeps recall") {
    val c1 = IvfIndex.trainReplicable(emb, "vec_id", "embedding", nlist = 8, iters = 3)
    val c2 = IvfIndex.trainReplicable(emb, "vec_id", "embedding", nlist = 8, iters = 3)
    assert(c1.map(_.toSeq).toSeq == c2.map(_.toSeq).toSeq) // bit-identical re-train
    assert(c1.length == 8 && c1.forall(_.length == 64))
    val queries = emb.filter(col("vec_id") < 8).select(col("vec_id").as("q_id"), col("embedding"))
    val exact = Similarity.bruteForceTopK(queries, emb, k = 5)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    val approx = IvfIndex.ivfTopK(queries, emb, k = 5, centroids = c1, nprobe = 4)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"replicable-trained IVF recall $recall too low")
  }

  test("probing all cells reproduces the exact top-k") {
    val queries = emb.filter(col("vec_id") < 4).select(col("vec_id").as("q_id"), col("embedding"))
    val exact = Similarity.bruteForceTopK(queries, emb, k = 3)
      .select("q_id", "vec_id", "rank").as[(Long, Long, Int)].collect().toSet
    val cents = IvfIndex.trainReplicable(emb, "vec_id", "embedding", nlist = 8)
    val full = IvfIndex.ivfTopK(queries, emb, k = 3, centroids = cents, nprobe = 8)
      .select("q_id", "vec_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(full == exact)
  }
}

package graft

import org.apache.spark.sql.functions._
import graft.operators.{MinHashLSH, TextAnalysis}

class MinHashLSHSpec extends GraftSuite {
  import spark.implicits._

  private val words = "the quick brown fox jumps over the lazy dog again and again today".split(" ")
  private def doc(drop: Int): String = words.zipWithIndex.collect {
    case (w, i) if i != drop => w
  }.mkString(" ")

  test("identical documents are found with jaccard 1.0") {
    val docs = Seq((1L, doc(-1)), (2L, doc(-1)), (3L, "completely different words entirely unrelated content here"))
      .toDF("doc_id", "text")
    val pairs = MinHashLSH.nearDupPairs(docs, "doc_id", "text", threshold = 0.9)
      .collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
    assert(pairs.head.getDouble(2) == 1.0)
  }

  test("near-duplicate (one word dropped) is found; unrelated is not") {
    val docs = Seq((1L, doc(-1)), (2L, doc(3)),
      (3L, "completely different words entirely unrelated content here now"))
      .toDF("doc_id", "text")
    // 16 bands × 2 rows: candidate probability 1-(1-J²)^16 ≈ 0.999 at J≈0.6
    // (8×4 would leave ~33% deterministic misses at this similarity)
    val pairs = MinHashLSH.nearDupPairs(docs, "doc_id", "text",
      bands = 16, rowsPerBand = 2, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("a signature past 32 slots fails with a message naming bands × rowsPerBand") {
    val docs = Seq((1L, doc(-1))).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      MinHashLSH.nearDupPairs(docs, "doc_id", "text", bands = 16, rowsPerBand = 4)
    }
    assert(e.getMessage.contains("bands × rowsPerBand <= 32"), e.getMessage)
    assert(e.getMessage.contains("got 64"), e.getMessage)
  }

  test("jaccard matches hand computation") {
    val df = Seq((Seq("a", "b", "c"), Seq("b", "c", "d"))).toDF("x", "y")
    val j = df.select(MinHashLSH.jaccard(col("x"), col("y"))).as[Double].head()
    assert(math.abs(j - 0.5) < 1e-12) // |{b,c}| / |{a,b,c,d}|
  }

  test("candidate generation is a bucket equi-join, never a cross join") {
    val docs = Seq((1L, doc(-1)), (2L, doc(3))).toDF("doc_id", "text")
    val plan = MinHashLSH.nearDupPairs(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Cartesian"), s"cross join in plan:\n$plan")
  }

  test("verifyPairs scores exact jaccard for arbitrary candidate pairs") {
    val docs = Seq((1L, "a b c d"), (2L, "a b c e"), (3L, "x y z w")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("id_a", "id_b")
    val out = MinHashLSH.verifyPairs(pairs, docs, "doc_id", "text", shingleK = 1)
      .orderBy("id_a", "id_b").collect()
    assert(out.length == 2)
    assert(math.abs(out(0).getDouble(2) - 3.0 / 5.0) < 1e-12)
    assert(out(1).getDouble(2) == 0.0)
  }
}

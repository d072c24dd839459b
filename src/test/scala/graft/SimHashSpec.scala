package graft

import org.apache.spark.sql.functions._
import graft.operators.SimHash

class SimHashSpec extends GraftSuite {
  import spark.implicits._

  test("hamming distance of known fingerprints") {
    val df = Seq((0xFFL, 0x0FL), (5L, 5L)).toDF("a", "b")
    val out = df.select(SimHash.hamming(col("a"), col("b"))).as[Long].collect()
    assert(out.toSeq == Seq(4L, 0L))
  }

  test("chunking covers all 64 bits") {
    val df = Seq(0x1234_5678_9ABC_DEF0L).toDF("fp")
    val chunks = (0 until 4).map(i => df.select(SimHash.chunk(col("fp"), i)).as[Long].head())
    assert(chunks == Seq(0xDEF0L, 0x9ABCL, 0x5678L, 0x1234L))
  }

  test("identical texts collide at hamming 0; near texts are close") {
    val base = "spark catalyst tungsten shuffle partition broadcast join aggregate window"
    val docs = Seq((1L, base), (2L, base), (3L, base + " extra"),
      (4L, "zzz qqq www eee rrr ttt yyy uuu iii"))
      .toDF("doc_id", "text")
    val pairs = SimHash.nearDupPairs(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getAs[Number](2).longValue)).toMap
    assert(pairs.get((1L, 2L)).contains(0L))
    assert(!pairs.keySet.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("sqlReplicable fingerprint: identical texts collide; bits stay in the low 63") {
    val base = "spark catalyst tungsten shuffle partition broadcast join aggregate window"
    val docs = Seq((1L, base), (2L, base), (3L, "zzz qqq www eee rrr ttt yyy uuu iii"))
      .toDF("doc_id", "text")
    val fps = SimHash.fingerprints(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(1L) == fps(2L))
    assert(fps(1L) != fps(3L))
    assert(fps.values.forall(_ >= 0L), "bit 63 must never be set (SQL BIGINT shift limit)")
    val pairs = SimHash.nearDupPairs(docs, "doc_id", "text",
      maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("pigeonhole requires maxHamming < chunks") {
    val docs = Seq((1L, "a")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      SimHash.nearDupPairs(docs, "doc_id", "text", maxHamming = 4)
    }
  }
}

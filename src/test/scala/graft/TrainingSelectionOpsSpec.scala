package graft

import graft.queries.Common

import org.apache.spark.sql.functions._

/** q_dsir, q_span_corruption, q_tokens_per_byte: driver-side replays of
  * the round-10 training-data-selection surface. */
class TrainingSelectionOpsSpec extends GraftSuite {

  private val dir = "/root/testdata/sf0.001"
  private def q(key: String) = SparkEntry.queries(key)(spark, dir)

  private val Mod = graft.operators.TextAnalysis.FingerprintMod

  private def fold(s: String): Long =
    s.foldLeft(0L)((a, c) => java.lang.Math.floorMod(a * 31L + c.toInt, Mod))

  private lazy val docs: Array[(Long, String, String, String)] =
    spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "source", "lang", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3)))

  test("DSIR scores replay against a driver-side bag-of-hashed-grams model") {
    val B = 2048L
    def grams(text: String): Seq[Long] = {
      val t = text.trim.toLowerCase.split("\\s+").toSeq
      val uni = t
      val big = t.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSeq
      (uni ++ big).map(g => fold(g) % B)
    }
    val target = docs.map(_._2).min
    val perDoc = docs.map(d => (d._1, d._2, grams(d._4)))
    val ct = collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    val cr = collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    perDoc.foreach { case (_, src, gs) =>
      val m = if (src == target) ct else cr
      gs.foreach(b => m(b) += 1)
    }
    val (tt, tr) = (ct.values.sum, cr.values.sum)
    def lnq(p: Long): Long = math.floor(math.log(p.toDouble) * 1e6).toLong
    def dl(b: Long): Long =
      lnq(math.max(1L, (ct(b) + 1) * 1000000L / (tt + B))) -
        lnq(math.max(1L, (cr(b) + 1) * 1000000L / (tr + B)))
    val want = perDoc.filter(_._2 != target).map { case (id, src, gs) =>
      (id, src, gs.length.toLong, gs.map(dl).sum)
    }.sortBy(x => (-x._4, x._1)).take(20).zipWithIndex
      .map { case ((id, src, n, sc), i) => (i + 1L, id, src, n, sc) }.toSeq
    val got = q("q_dsir").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4))).toSeq.sortBy(_._1)
    assert(got == want)
    // selection is non-trivial: scores differ within the top-20
    assert(got.map(_._5).distinct.length > 1, "all top scores identical")
    // no target-pile doc leaks into the resample
    assert(got.forall(_._3 != target))
  }

  test("span-corruption plan replays; mask rate lands near 15%") {
    val A = Common.HashMult
    def masked(docId: Long, i: Long): Boolean = {
      // squared multiplicative hash — the operator's affine-decorrelation
      val h = (BigInt(docId * 1000000L + i) * A).mod(BigInt(Mod))
      (h * h).mod(BigInt(Mod)).toLong % 1000 < 150
    }
    val want = docs.map { case (id, _, _, text) =>
      val n = text.trim.toLowerCase.split("\\s+").length.toLong
      val ms = (0L until n).map(masked(id, _))
      val spans = ms.zipWithIndex.count { case (m, i) =>
        m && (i == 0 || !ms(i - 1))
      }.toLong
      val nm = ms.count(identity).toLong
      (id, n, nm, spans, nm * 1000000L / n,
        if (spans > 0) nm * 1000L / spans else 0L)
    }.toSet
    val got = q("q_span_corruption").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(got == want)
    // corpus-level mask rate tracks the 15% target (hash uniformity)
    val rate = want.toSeq.map(_._3).sum.toDouble / want.toSeq.map(_._2).sum
    assert(rate > 0.10 && rate < 0.20, s"corpus mask rate $rate far from 0.15")
    // spans are real runs: strictly fewer spans than masked tokens somewhere
    assert(want.exists(w => w._4 < w._3), "no multi-token span anywhere")
  }

  test("span-corruption plans with no window and no join") {
    val plan = q("q_span_corruption").queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"mask/run logic must be map-side:\n$plan")
    assert(!plan.contains("Join"), s"no join needed:\n$plan")
  }

  test("bytes-per-token replays per (source, lang) cell") {
    val cells = docs.groupBy(d => (d._2, d._3)).map { case ((src, lang), ds) =>
      val bt = ds.map { d =>
        val b = d._4.getBytes("UTF-8").length.toLong
        val t = d._4.trim.split("\\s+").length.toLong
        (b, t)
      }
      (src, lang, ds.length.toLong, bt.map(_._1).sum, bt.map(_._2).sum,
        bt.map(p => p._1 * 1000000L / p._2).min,
        bt.map(p => p._1 * 1000000L / p._2).max,
        bt.map(_._1).sum * 1000000L / bt.map(_._2).sum)
    }.toSet
    val got = q("q_tokens_per_byte").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toSet
    assert(got == cells && got.nonEmpty)
  }
}

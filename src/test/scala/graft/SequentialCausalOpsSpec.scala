package graft

import graft.queries.Common

import org.apache.spark.sql.functions._

/** q_holt_forecast, q_rdd_cutoff, q_hard_negatives, q_sprt: driver-side
  * replays of the round-10 sequential/causal/contrastive surface. */
class SequentialCausalOpsSpec extends GraftSuite {

  private val dir = "/root/testdata/sf0.001"
  private def q(key: String) = SparkEntry.queries(key)(spark, dir)

  private lazy val events: Array[(Long, String, String, Long)] =
    eventsTable(dir)
      .select(col("event_id"), date_format(to_date(col("ts")), "yyyy-MM-dd"),
        col("event_type"), (col("value").cast("decimal(18,2)") * 100).cast("long"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3)))

  test("Holt level/trend recursion replays exactly; trend is a real signal") {
    val daily = events.groupBy(_._2).map { case (d, es) =>
      (d, es.map(_._4).sum)
    }.toSeq.sortBy(_._1)
    var l = daily.head._2
    var b = 0L
    val want = daily.zipWithIndex.map { case ((day, x), i) =>
      if (i > 0) {
        val nl = (x + l + b) / 2
        val nb = (nl - l + b) / 2
        l = nl; b = nb
      }
      (day, x, l, b, l + b)
    }.toSet
    val got = q("q_holt_forecast").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(got == want)
    // the trend component actually moves (a constant-zero trend would
    // mean the recursion degenerated to a plain EWMA)
    assert(got.map(_._4).size > 1, "trend never moved")
  }

  test("RDD intercepts replay from exact moments; both sides populated") {
    val cust = spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey"),
        (col("c_acctbal").cast("decimal(18,2)") * 100).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter(c => math.abs(c._2) <= 100000L)
    val spend = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_custkey"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (k, os) => k -> os.map(_._2).sum }
    val pts = cust.map { case (k, x) => (x, spend.getOrElse(k, 0L)) }
    def fit(side: Array[(Long, Long)]): (Double, Double, Long) = {
      val n = side.length.toDouble
      val sx = side.map(p => BigInt(p._1)).sum.toDouble
      val sxx = side.map(p => BigInt(p._1) * p._1).sum.toDouble
      val sy = side.map(p => BigInt(p._2)).sum.toDouble
      val sxy = side.map(p => BigInt(p._1) * p._2).sum.toDouble
      val den = n * sxx - sx * sx
      ((n * sxy - sx * sy) / den, (sy * sxx - sx * sxy) / den,
        side.length.toLong)
    }
    val (ls, li, nl) = fit(pts.filter(_._1 < 0))
    val (rs, ri, nr) = fit(pts.filter(_._1 >= 0))
    val r = q("q_rdd_cutoff").collect().head
    assert(r.getLong(0) == nl && r.getLong(1) == nr)
    assert(math.abs(r.getDouble(2) - ls) < 1e-4, s"slope_left ${r.getDouble(2)} vs $ls")
    assert(math.abs(r.getDouble(3) - li) < 1e-2)
    assert(math.abs(r.getDouble(4) - rs) < 1e-4)
    assert(math.abs(r.getDouble(5) - ri) < 1e-2)
    assert(math.abs(r.getDouble(6) - (ri - li)) < 1e-2)
    assert(nl > 5 && nr > 5, "a side of the cutoff is (nearly) empty")
  }

  test("hard negatives replay brute force per (query, class); labels honest") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "label", "embedding")
      .collect().map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).toArray))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val queries = emb.filter(_._1 < 8)
    val want = queries.flatMap { case (qid, qlbl, qv) =>
      val scored = emb.filter(_._1 != qid).map { case (id, lbl, v) =>
        (id, lbl == qlbl, BigDecimal(cos(qv, v))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      Seq(true, false).flatMap { same =>
        scored.filter(_._2 == same).sortBy(p => (-p._3, p._1)).take(3)
          .zipWithIndex.map { case ((id, _, c), i) =>
            (qid, if (same) "positive" else "hard_negative", id, c, i + 1)
          }
      }
    }.toSet
    val got = q("q_hard_negatives").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3),
        r.getInt(4))).toSet
    assert(got == want)
    // hard negatives are HARD: for some query the best wrong-label
    // neighbor outranks the 3rd same-label one
    val byQ = got.groupBy(_._1)
    assert(byQ.exists { case (_, rs) =>
      val pos3 = rs.filter(r => r._2 == "positive" && r._5 == 3).map(_._4)
      val neg1 = rs.filter(r => r._2 == "hard_negative" && r._5 == 1).map(_._4)
      pos3.nonEmpty && neg1.nonEmpty && neg1.head > pos3.head
    }, "no query has a genuinely hard negative")
  }

  test("SPRT arms replay; both boundaries reachable") {
    val Mod = graft.operators.TextAnalysis.FingerprintMod
    val A = Common.HashMult
    def h(id: Long): Long = (BigInt(id) * A).mod(BigInt(Mod)).toLong % 1000000L
    val n = events.length.toLong
    val sPur = events.count(_._3 == "purchase").toLong
    val p0 = math.max(1L, sPur * 1000000L / n)
    val p1 = math.min(999999L, p0 * 5 / 4)
    val qq = (p1 - p0) * 1000000L / (1000000L - p0)
    def lnq(v: Long): Long = math.floor(math.log(v.toDouble) * 1e6).toLong
    val dPos = lnq(p1) - lnq(p0)
    val dNeg = lnq(1000000L - p1) - lnq(1000000L - p0)
    val perDay = events.groupBy(_._2).toSeq.sortBy(_._1)
    var cumNull = 0L
    var cumShift = 0L
    val want = perDay.flatMap { case (day, es) =>
      val nt = es.length.toLong
      val sNull = es.count(_._3 == "purchase").toLong
      val sShift = es.count(e => e._3 == "purchase" || h(e._1) < qq).toLong
      def mk(arm: String, sc: Long, cum: Long) = {
        val llr = sc * dPos + (nt - sc) * dNeg
        val c = cum + llr
        val dec = if (c >= 2944439L) "accept_h1"
          else if (c <= -2944439L) "accept_h0" else "continue"
        ((arm, day, nt, sc, llr, c, dec), c)
      }
      val (rn, cn) = mk("null", sNull, cumNull); cumNull = cn
      val (rs, cs) = mk("shift", sShift, cumShift); cumShift = cs
      Seq(rn, rs)
    }.toSet
    val got = q("q_sprt").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getString(6))).toSet
    assert(got == want)
    // the two planted arms exercise BOTH boundaries
    assert(got.exists(_._7 == "accept_h0"), "null arm never accepted H0")
    assert(got.exists(_._7 == "accept_h1"), "shift arm never accepted H1")
  }
}

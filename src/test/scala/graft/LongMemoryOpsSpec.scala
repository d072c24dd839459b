package graft

import graft.queries.Common

import org.apache.spark.sql.functions._

/** Ops 310-312 (round-8 widening, effect sizes + long memory +
  * sequential information): Cliff's delta, Hurst R/S, entropy rate —
  * driver replays at sf0.001 with plain Scala collections. */
class LongMemoryOpsSpec extends GraftSuite {

  private val dir = "/root/testdata/sf0.001"

  test("q_cliffs_delta equals the brute-force pair count on deca-dollars") {
    val vals = spark.read.parquet(s"$dir/orders.parquet")
      .select(substring(col("o_orderpriority"), 1, 1).as("g"),
        expr("CAST(CAST(o_totalprice * 100 AS DECIMAL(18,0)) div 1000 AS BIGINT)")
          .as("v"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val byG = vals.groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    val want = (for (a <- 1 to 5; b <- (a + 1) to 5) yield {
      val xa = byG(a.toString); val xb = byG(b.toString)
      var gt = 0L; var lt = 0L
      for (x <- xa; y <- xb) {
        if (x > y) gt += 1 else if (x < y) lt += 1
      }
      val na = xa.size.toLong; val nb = xb.size.toLong
      val num = gt - lt
      val ppm = if (num >= 0) num * 1000000L / (na * nb)
        else -((-num) * 1000000L / (na * nb))
      (a.toString, b.toString, na, nb, gt, lt, ppm)
    }).toSet
    val got = SparkEntry.queries("q_cliffs_delta")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSet
    assert(got == want)
    got.foreach(t => assert(math.abs(t._7) <= 1000000L))
  }

  test("q_hurst: block R/S values and the log-log slope replay") {
    val daily = spark.read.parquet(s"$dir/orders.parquet")
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("d"))
      .agg(expr("CAST(sum(CAST(o_totalprice * 100 AS DECIMAL(18,0))) div 100000 AS BIGINT)")
        .as("x"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
      .map(_._2)
    val sizes = Seq(8, 16, 32, 64, 128, 256)
    val means = sizes.map { w =>
      val blocks = daily.grouped(w).filter(_.size == w).toSeq
      val rs = blocks.flatMap { blk =>
        val s = blk.sum
        val q = blk.map(x => x * x).sum
        val devs = blk.zipWithIndex.map { case (_, k) =>
          w.toLong * blk.take(k + 1).sum - (k + 1).toLong * s
        }
        val d = w.toLong * q - s * s
        if (d > 0)
          Some(math.floor((devs.max - devs.min).toDouble /
            math.sqrt(d.toDouble) * 1e6).toLong)
        else None
      }
      w -> (if (rs.nonEmpty) rs.sum / rs.size else 0L)
    }.toMap
    val lnw = sizes.map(w => math.log(w.toDouble))
    val lnr = sizes.map(w =>
      if (means(w) > 0) math.log(means(w).toDouble) else 0.0)
    val mw = lnw.sum / 6.0; val mr = lnr.sum / 6.0
    val slope = sizes.indices.map(i => (lnw(i) - mw) * (lnr(i) - mr)).sum /
      sizes.indices.map(i => (lnw(i) - mw) * (lnw(i) - mw)).sum
    val got = SparkEntry.queries("q_hurst")(spark, dir).collect().head
    assert(got.getLong(0) == means(8))
    assert(got.getLong(1) == means(32))
    assert(got.getLong(2) == means(256))
    assert(math.abs(got.getDouble(3) - slope) < 5e-7)
    // near-random daily totals: H should land in a plausible band
    assert(got.getDouble(3) > 0.1 && got.getDouble(3) < 1.0)
  }

  test("q_entropy_rate: quantized conditional-entropy fold replays") {
    val ev = Common.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime * 1000 +
        r.getTimestamp(1).getNanos / 1000 % 1000, r.getLong(2), r.getString(3)))
    val trans = ev.groupBy(_._1).values.flatMap { es =>
      val sorted = es.sortBy(e => (e._2, e._3)).map(_._4)
      sorted.zip(sorted.drop(1))
    }.toSeq
    val nct = trans.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val nc = trans.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    def lnq6(x: Long) = math.floor(math.log(x.toDouble) * 1e6).toLong
    val hq = nct.map { case ((c, _), n) => n * (lnq6(nc(c)) - lnq6(n)) }.sum
    val n = trans.size.toLong
    val rate = hq.toDouble / (1e6 * n)
    val got = SparkEntry.queries("q_entropy_rate")(spark, dir).collect().head
    assert(got.getLong(0) == n)
    assert(got.getLong(1) == nc.size.toLong)
    assert(math.abs(got.getDouble(2) - rate) < 2e-6)
    // conditional entropy can't exceed ln(#states)
    assert(got.getDouble(2) <= math.log(nc.size.toDouble) + 1e-6)
    assert(got.getDouble(2) >= 0.0)
  }
}

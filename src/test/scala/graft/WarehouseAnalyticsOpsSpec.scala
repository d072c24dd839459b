package graft

import graft.queries.Common

import org.apache.spark.sql.functions._

/** Ops 313-316 (round-8 widening, warehouse/econometrics): invoice
  * aging, ABC–XYZ, price index, stickiness — driver replays at
  * sf0.001 with plain Scala collections. */
class WarehouseAnalyticsOpsSpec extends GraftSuite {

  private val dir = "/root/testdata/sf0.001"

  test("q_invoice_aging: buckets partition the open orders exactly") {
    val orders = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderstatus"),
        datediff(max(to_date(col("o_orderdate")))
          .over(org.apache.spark.sql.expressions.Window
            .rowsBetween(Long.MinValue, Long.MaxValue)),
          to_date(col("o_orderdate"))).as("age"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    val open = orders.filter(_._1 == "O")
    val want = open.groupBy { case (_, age, _) =>
      if (age <= 30) "0-30" else if (age <= 90) "31-90"
      else if (age <= 365) "91-365" else "365+"
    }.map { case (b, os) => (b, os.size.toLong, os.map(_._3).sum) }.toSet
    val got = SparkEntry.queries("q_invoice_aging")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want)
    assert(got.map(_._2).sum == open.size.toLong, "buckets partition")
  }

  test("q_abc_xyz: grid counts replay; A-revenue dominates") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_partkey"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long"),
        col("l_quantity").cast("long"),
        date_format(col("l_shipdate"), "yyyy-MM"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3)))
    val rev = li.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val tot = rev.values.sum
    val sorted = rev.toSeq.sortBy(t => (-t._2, t._1))
    var cum = 0L
    val abc = sorted.map { case (pk, r) =>
      cum += r
      pk -> (if (5 * cum <= 4 * tot) "A" else if (20 * cum <= 19 * tot) "B"
             else "C")
    }.toMap
    val xyz = li.groupBy(_._1).map { case (pk, rs) =>
      val mq = rs.groupBy(_._4).values.map(_.map(_._3).sum).toSeq
      val n = mq.size.toLong
      pk -> (if (n < 2) "Z" else {
        val s = mq.sum; val q = mq.map(x => x * x).sum
        val cv = math.floor(math.sqrt((n * q - s * s).toDouble * n / (n - 1))
          / s.toDouble * 1e6).toLong
        if (cv <= 500000) "X" else if (cv <= 1000000) "Y" else "Z"
      })
    }
    val want = rev.keys.map(pk => (abc(pk), xyz(pk), pk))
      .groupBy(t => (t._1, t._2))
      .map { case ((a, x), ps) =>
        (a, x, ps.size.toLong, ps.map(t => rev(t._3)).sum) }.toSet
    val got = SparkEntry.queries("q_abc_xyz")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == want)
    val byClass = got.groupBy(_._1).view.mapValues(_.map(_._4).sum).toMap
    assert(byClass("A") > byClass.getOrElse("C", 0L),
      "A-class revenue must dominate C")
  }

  test("q_price_index: base month indexes to exactly 1e6 on both forms") {
    val got = SparkEntry.queries("q_price_index")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val base = got.minBy(_._1)
    assert(base._3 == 1000000L && base._4 == 1000000L,
      s"base month must index to 1: $base")
    assert(got.forall(t => t._3 > 0 && t._4 > 0))
    // at sf0.001 the matched basket is a handful of parts, so indices
    // swing wide — only overflow-scale values would indicate a bug
    assert(got.forall(t => t._3 < 1000000000L && t._4 < 1000000000L))
  }

  test("q_stickiness: ratio replays and is bounded by [1/days, 1]") {
    val ev = Common.events(spark, dir)
      .select(date_format(col("ts"), "yyyy-MM").as("m"),
        date_format(col("ts"), "yyyy-MM-dd").as("d"), col("user_id"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val want = ev.groupBy(_._1).map { case (m, es) =>
      val days = es.groupBy(_._2).view.mapValues(_.map(_._3).distinct.size.toLong)
      val mau = es.map(_._3).distinct.size.toLong
      val nDays = days.size.toLong
      (m, nDays, mau, days.values.sum * 1000000L / (nDays * mau))
    }.toSet
    val got = SparkEntry.queries("q_stickiness")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == want)
    got.foreach { case (m, nd, _, ppm) =>
      assert(ppm <= 1000000L && ppm * nd >= 1000000L, s"month $m bounds")
    }
  }
}

package graft

import graft.queries.Common

import org.apache.spark.sql.functions._

/** Ops 282-287 (round-8 widening, classical statistics + eval +
  * privacy): one-way ANOVA, two-regressor OLS, Theil–Sen, CUSUM,
  * multi-class P/R/F1, l-diversity — each replayed independently on
  * the driver at sf0.001 with plain Scala collections (the
  * CorpusBuildSpec discipline). The double folds replay the SAME
  * fixed-order expression the operators and oracles share, so a
  * drive-by reorder of the fold breaks here before it breaks the
  * cross-engine gate. */
class StatsOpsSpec extends GraftSuite {

  private val dir = "/root/testdata/sf0.001"

  private lazy val orders = spark.read.parquet(s"$dir/orders.parquet")
    .select(col("o_orderkey"), col("o_orderpriority"), col("o_orderstatus"),
      date_format(col("o_orderdate"), "yyyy-MM-dd").as("d"),
      (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("cents"))
    .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
      r.getString(3), r.getLong(4)))

  test("q_anova replays the fixed-order F fold on exact dollar moments") {
    val xs = orders.map { case (_, pri, _, _, cents) =>
      (pri.substring(0, 1), cents / 100L) // exact dollars, floor of nonneg
    }
    val byG = xs.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val stats = (1 to 5).map { i =>
      val v = byG.getOrElse(i.toString, Array.empty[Long]).toSeq
      (v.size.toLong, v.sum, v.map(x => x * x).sum)
    }
    val n = stats.map(_._1).sum
    val k = stats.count(_._1 > 0).toLong
    val grand = stats.map(_._2).sum.toDouble / n.toDouble
    // fixed order: group 1..5 left to right, exactly as the shared expr
    val ssb = stats.map { case (ni, si, _) =>
      if (ni > 0) ni.toDouble * (si.toDouble / ni.toDouble - grand) *
        (si.toDouble / ni.toDouble - grand) else 0.0
    }.foldLeft(0.0)(_ + _)
    val ssw = stats.map { case (ni, si, qi) =>
      if (ni > 0) qi.toDouble - si.toDouble * si.toDouble / ni.toDouble else 0.0
    }.foldLeft(0.0)(_ + _)
    val f = if (k > 1 && n > k && ssw > 0.0)
      (ssb / (k - 1).toDouble) / (ssw / (n - k).toDouble) else 0.0
    val got = SparkEntry.queries("q_anova")(spark, dir).collect().head
    assert(got.getLong(0) == n && got.getLong(1) == k)
    assert(math.abs(got.getDouble(2) - f) < 5e-7, s"F ${got.getDouble(2)} vs $f")
    val eta = if (ssb + ssw > 0.0) ssb / (ssb + ssw) else 0.0
    assert(math.abs(got.getDouble(3) - eta) < 5e-7)
  }

  test("q_ols2 coefficients match an exact-moment normal-equation solve") {
    val rows = spark.read.parquet(s"$dir/lineitem.parquet")
      .select((col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long"),
        col("l_quantity").cast("decimal(18,2)").cast("long"),
        (col("l_discount").cast("decimal(18,2)") * 100).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val n = rows.length.toDouble
    val sx1 = rows.map(_._2).sum.toDouble; val sx2 = rows.map(_._3).sum.toDouble
    val sy = rows.map(_._1).sum.toDouble
    val c11 = n * rows.map(r => r._2 * r._2).sum.toDouble - sx1 * sx1
    val c22 = n * rows.map(r => r._3 * r._3).sum.toDouble - sx2 * sx2
    val c12 = n * rows.map(r => r._2 * r._3).sum.toDouble - sx1 * sx2
    val c1y = n * rows.map(r => r._2 * r._1).sum.toDouble - sx1 * sy
    val c2y = n * rows.map(r => r._3 * r._1).sum.toDouble - sx2 * sy
    val cyy = n * rows.map(r => BigInt(r._1) * BigInt(r._1)).sum.toDouble - sy * sy
    val det = c11 * c22 - c12 * c12
    val b1 = (c22 * c1y - c12 * c2y) / det
    val b2 = (c11 * c2y - c12 * c1y) / det
    val got = SparkEntry.queries("q_ols2")(spark, dir).collect().head
    assert(got.getLong(0) == rows.length.toLong)
    assert(math.abs(got.getDouble(1) - b1) < 5e-7)
    assert(math.abs(got.getDouble(2) - b2) < 5e-7)
    assert(math.abs(got.getDouble(3) -
      (sy - b1 * sx1 - b2 * sx2) / n) < 5e-7)
    val r2 = (b1 * c1y + b2 * c2y) / cyy
    assert(math.abs(got.getDouble(4) - r2) < 5e-7)
    // the synthetic lineitem prices are (near-)independent of quantity
    // (corr ≈ −0.01, numpy-verified), so the only sanity bound that is a
    // property of OLS itself: R² ∈ [0, 1]
    assert(r2 >= 0.0 && r2 <= 1.0)
  }

  test("q_theil_sen equals the brute-force lower-median pair slope") {
    val daily = Common.events(spark, dir)
      .groupBy(to_date(col("ts")).as("d")).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getDate(0).toLocalDate.toEpochDay, r.getLong(1)))
      .sortBy(_._1)
    val ppms = for {
      i <- daily.indices; j <- daily.indices if daily(i)._1 < daily(j)._1
    } yield {
      val dc = daily(j)._2 - daily(i)._2; val dd = daily(j)._1 - daily(i)._1
      if (dc >= 0) dc * 1000000L / dd else -((-dc) * 1000000L / dd)
    }
    val sorted = ppms.sorted
    val want = sorted((sorted.size + 1) / 2 - 1) // lower median, 1-indexed rank
    val got = SparkEntry.queries("q_theil_sen")(spark, dir).collect().head
    assert(got.getLong(0) == ppms.size.toLong)
    assert(got.getLong(1) == want, s"slope_ppm ${got.getLong(1)} vs $want")
    assert(got.getDouble(2) == math.rint(want / 1e6 * 1e6) / 1e6 ||
      math.abs(got.getDouble(2) - want / 1e6) < 1e-9)
  }

  test("q_cusum is division-free-exact and flags the true argmax day") {
    val daily = orders.groupBy(_._4).view
      .mapValues(_.map(_._5).sum).toMap.toSeq.sortBy(_._1)
    val dd = daily.size.toLong
    val tot = daily.map(_._2).sum
    var pre = 0L
    val want = daily.zipWithIndex.map { case ((day, x), i) =>
      pre += x
      (day, dd * pre - (i + 1).toLong * tot)
    }
    val mx = want.map(w => math.abs(w._2)).max
    val got = SparkEntry.queries("q_cusum")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
      .sortBy(_._1)
    assert(got.map(g => (g._1, g._2)).toSeq == want)
    assert(got.forall(g => g._3 == (math.abs(g._2) == mx)))
    assert(got.count(_._3) >= 1)
  }

  test("q_multiclass_prf: exact counts, ppm folds, micro-F1 identity") {
    val got = SparkEntry.queries("q_multiclass_prf")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    val totTrue = got.map(_._2).sum; val totPred = got.map(_._3).sum
    assert(totTrue == totPred, "every doc labeled exactly once on both axes")
    got.foreach { case (cls, nt, np, tp, p, r, f1) =>
      assert(tp <= math.min(nt, np), s"$cls tp bound")
      assert(p == (if (np > 0) tp * 1000000L / np else 0L))
      assert(r == (if (nt > 0) tp * 1000000L / nt else 0L))
      assert(f1 == (if (p + r > 0) 2 * p * r / (p + r) else 0L))
    }
    // the labeler is a heuristic — assert it labels SOMETHING right,
    // not a per-class recall floor (some labels legitimately collapse
    // to 'und' on short docs)
    assert(got.map(_._4).sum > 0, "zero true positives across all classes")
  }

  test("q_l_diversity: distinct-l and dominant share replay exactly") {
    // the operator's planted homogeneous probe class (r10 vacuity fix)
    val rows = orders.map(o => (o._2, o._4.substring(0, 4).toLong, o._3)) ++
      Seq.fill(5)(("Z-PLANTED", 1990L, "F"))
    val want = rows.groupBy(o => (o._1, o._2))
      .map { case ((pri, yr), os) =>
        val byS = os.groupBy(_._3).view.mapValues(_.size.toLong).toMap
        val n = os.size.toLong
        (pri, yr, n, byS.size.toLong, byS.values.max * 1000000L / n,
          byS.size < 2)
      }.toSet
    val got = SparkEntry.queries("q_l_diversity")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5))).toSet
    assert(got == want)
    // the at-risk detector fires on the planted class and only there
    assert(got.exists(r => r._1 == "Z-PLANTED" && r._6), "planted class not flagged")
    assert(got.count(_._6) == 1, "a natural class is l<2")
  }
}

package graft

import graft.queries.Ann

import org.apache.spark.sql.functions._

/** Ops 224-233 (round-8 widening II): shard balance, calibration bins,
  * Kaplan–Meier survival, WOE encoding, brand 3-itemsets, DP release,
  * truncation audit, cluster keywords, media dedup, epoch-shuffle
  * audit — each replayed independently on the driver at sf0.001 with
  * plain Scala collections (the CorpusBuildSpec discipline), except
  * the kmeans-backed keyword op which gets structural checks (its
  * quantizer replay lives in the DuckDB oracle). */
class TrainingOpsSpec extends GraftSuite {

  private val dir = "/root/testdata/sf0.001"
  private val A = BigInt(6364136223846793005L)
  private val M = BigInt(36028797018963913L)
  private def mh(x: Long): Long = ((BigInt(x) * A).mod(M)).toLong
  private def lnQ6(x: Long): Long = math.floor(math.log(x.toDouble) * 1e6).toLong
  private val LnMillionQ6 = 13815510L

  private lazy val docs: Seq[(Long, String)] =
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq

  private def nTok(text: String): Long =
    text.trim.toLowerCase.split("\\s+").length.toLong

  test("q_shard_balance equals the driver replay; shards partition the corpus") {
    val byShard = docs.groupBy(d => (mh(d._1) % 16).toInt)
    val tt = docs.map(d => nTok(d._2)).sum
    val want = byShard.map { case (sh, ds) =>
      val tok = ds.map(d => nTok(d._2)).sum
      (sh, ds.size.toLong, tok,
        (BigInt(tok) * 16000000L / tt - 1000000L).toLong)
    }.toSet
    val got = SparkEntry.queries("q_shard_balance")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == want)
    assert(got.toSeq.map(_._2).sum == docs.size.toLong)
  }

  test("q_calibration_ece equals the driver replay; bins cover all orders") {
    // cents conversion (DECIMAL(18,2) rounding) extracted in the select;
    // the binning/aggregation replays in plain Scala
    val o = spark.read.parquet(s"$dir/orders.parquet")
      .select((col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"),
        (col("o_orderstatus") === "F").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val mx = o.map(_._1).max
    val scored = o.map { case (c, pos) => ((BigInt(c) * 1000000L / mx).toLong, pos) }
    val want = scored.groupBy(s => math.min(s._1 / 100000L, 9L).toInt)
      .map { case (bin, xs) =>
        val n = xs.size.toLong
        val nPos = xs.map(_._2).sum
        val conf = (xs.map(x => BigInt(x._1)).sum / n).toLong
        val acc = nPos * 1000000L / n
        (bin, n, nPos, conf, acc, math.abs(acc - conf) * n)
      }.toSet
    val got = SparkEntry.queries("q_calibration_ece")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    assert(got == want)
    assert(got.toSeq.map(_._2).sum == o.size.toLong)
  }

  test("q_kaplan_meier equals the driver replay; curve is monotone") {
    val ud = eventsTable(dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"),
        (unix_micros(col("ts")) / lit(86400000000L)).cast("long"))
      .distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val gmax = ud.map(_._2).max
    val life = ud.groupBy(_._1).toSeq.map { case (_, ds) =>
      val days = ds.map(_._2)
      (days.max - days.min, if (days.max < gmax) 1L else 0L)
    }
    val ten = life.groupBy(_._1).map { case (t, xs) =>
      (t.toInt, xs.size.toLong, xs.map(_._2).sum)
    }.toSeq.sortBy(_._1)
    val riskDesc = ten.reverse
      .scanLeft(0L) { case (acc, (_, nEnd, _)) => acc + nEnd }.tail
    val nRisk = ten.map(_._1).zip(riskDesc.reverse).toMap
    val terms = ten.map { case (t, _, nChurn) =>
      val r = math.max((nRisk(t) - nChurn) * 1000000L / nRisk(t), 1L)
      (t, lnQ6(r) - LnMillionQ6)
    }
    val survs = terms.scanLeft(0L)(_ + _._2).tail
    val want = ten.zip(survs).map { case ((t, nEnd, nChurn), surv) =>
      (t, nRisk(t), nChurn, nEnd - nChurn, surv)
    }.toSet
    val got = SparkEntry.queries("q_kaplan_meier")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got == want)
    val byTen = got.toSeq.sortBy(_._1)
    assert(byTen.map(_._2) == byTen.map(_._2).sorted.reverse, "at-risk nonincreasing")
    assert(byTen.map(_._5) == byTen.map(_._5).sorted.reverse, "survival nonincreasing")
    assert(byTen.forall(_._5 <= 0L), "log-survival is nonpositive")
  }

  test("q_woe_encode equals the driver replay; IV contributions are finite") {
    val cust = spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey"), col("c_mktsegment"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    val seg = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_custkey"), col("o_orderstatus"))
      .collect().map(r => (cust(r.getLong(0)), r.getString(1)))
      .groupBy(_._1).map { case (sg, xs) =>
        (sg, xs.count(_._2 != "F").toLong, xs.count(_._2 == "F").toLong)
      }.toSeq
    val gt = seg.map(_._2 + 1).sum
    val bt = seg.map(_._3 + 1).sum
    val want = seg.map { case (sg, g, b) =>
      val woe = (lnQ6(g + 1) - lnQ6(gt)) - (lnQ6(b + 1) - lnQ6(bt))
      val iv = ((g + 1) * 1000000L / gt - (b + 1) * 1000000L / bt) * woe
      (sg, g, b, woe, iv)
    }.toSet
    val got = SparkEntry.queries("q_woe_encode")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("q_brand_triples equals the driver combinations replay") {
    val part = spark.read.parquet(s"$dir/part.parquet")
      .select(col("p_partkey"), col("p_brand"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    val ob = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey"))
      .collect().map(r => (r.getLong(0), part(r.getLong(1)))).distinct
    val nOrders = spark.read.parquet(s"$dir/orders.parquet").count()
    val minsup = nOrders / 300L
    val want = ob.groupBy(_._1).toSeq.flatMap { case (_, xs) =>
      xs.map(_._2).distinct.sorted.combinations(3).map(c => (c(0), c(1), c(2)))
    }.groupBy(identity).view.mapValues(_.size.toLong)
      .filter(_._2 >= minsup)
      .map { case ((b1, b2, b3), n) => (b1, b2, b3, n) }.toSet
    val got = SparkEntry.queries("q_brand_triples")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("q_dp_release equals the driver noise replay; noise is Laplace-bounded") {
    val mod = operators.TextAnalysis.FingerprintMod
    def fp(s: String): Long =
      s.getBytes("UTF-8").foldLeft(0L)((a, b) => (a * 31 + (b & 0xff)) % mod)
    val ev = eventsTable(dir)
      .select(col("event_type"), date_format(col("ts"), "yyyy-MM-dd"),
        (unix_micros(col("ts")) / lit(86400000000L)).cast("long"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val want = ev.groupBy(x => (x._1, x._2, x._3)).map { case ((et, day, d), xs) =>
      val k = (fp(et) * 31 + d) % mod
      val u = mh(k) % 1000000L
      val s = u - 500000L
      val arg = math.max(1000000L - 2 * math.abs(s), 1L)
      val noise = -java.lang.Long.signum(s) * (lnQ6(arg) - LnMillionQ6)
      val released = xs.size + (2 * noise + 1000000L) / 2000000L
      (et, day, xs.size.toLong, noise, released)
    }.toSet
    val got = SparkEntry.queries("q_dp_release")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got == want)
    // b=1 Laplace via the ppm grid: |noise| ≤ ln(1e6) ≈ 13.8 counts
    assert(got.forall(x => math.abs(x._4) <= 14000000L))
    assert(got.forall(x => math.abs(x._5 - x._3) <= 14L))
  }

  test("q_truncation_audit equals the driver replay") {
    val ns = docs.map(d => nTok(d._2))
    val want = Seq(32L, 64L, 128L).map { w =>
      (w, ns.size.toLong, ns.count(_ <= w).toLong,
        ns.map(n => math.max(n - w, 0L)).sum, ns.map(n => math.min(n, w)).sum)
    }.map { case (w, nd, fit, tr, kept) =>
      (w, nd, fit, tr, kept, tr * 1000000L / (tr + kept))
    }.toSet
    val got = SparkEntry.queries("q_truncation_audit")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    assert(got == want)
  }

  test("q_cluster_keywords: 3 ranked keywords per cluster from the corpus vocabulary") {
    val vocab = docs.flatMap(d => d._2.trim.toLowerCase.split("\\s+")).toSet
    val got = SparkEntry.queries("q_cluster_keywords")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getString(2), r.getLong(3)))
    val byCid = got.groupBy(_._1)
    assert(byCid.nonEmpty && byCid.keys.forall(c => c >= 0 && c < 16))
    byCid.foreach { case (cid, rows) =>
      assert(rows.map(_._2).sorted.toSeq == (1 to rows.size),
        s"cluster $cid ranks not dense")
      assert(rows.size <= 3)
      // ranks follow score desc with token asc tie-break
      val ordered = rows.sortBy(_._2).map(r => (r._4, r._3)).toSeq
      assert(ordered == ordered.sortBy(t => (-t._1, t._2)), s"cluster $cid misordered")
    }
    assert(got.forall(r => vocab.contains(r._3)))
    assert(got.forall(_._4 > 0L), "c-TF-IDF scores are positive")
  }

  test("q_media_dedup equals the constructed group structure") {
    val want = docs.map { case (id, text) =>
      val png = id % 2 == 0
      (id, if (png) "image/png" else "audio/wav",
        if (id % 3 == 0) 2L else 1L,
        text.getBytes("UTF-8").length + (if (png) 57 else 0))
    }.toSet
    val got = SparkEntry.queries("q_media_dedup")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getInt(3)))
      .toSet
    assert(got == want)
    // survivor ids are the ORIGINAL ids: every shifted copy deduped away
    assert(got.forall(_._1 < 1920000L))
  }

  test("q_epoch_shuffle equals the squared-hash replay; epochs decorrelate") {
    def batch(id: Long, e: Long): Int = {
      val x = BigInt(mh(id * 2 + e))
      ((x * x).mod(M) % 8).toInt
    }
    val cells = docs.map(d => (batch(d._1, 0), batch(d._1, 1)))
    val tt = cells.size.toLong
    val want = cells.groupBy(identity).map { case ((b0, b1), xs) =>
      (b0, b1, xs.size.toLong,
        (BigInt(xs.size) * 64000000L / tt - 1000000L).toLong)
    }.toSet
    val got = SparkEntry.queries("q_epoch_shuffle")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == want)
    // the affine-chain bug would collapse the matrix to ≤8 occupied
    // cells (b1 a constant rotation of b0) — require real spread
    assert(got.size > 8, s"only ${got.size} occupied cells: epochs correlated")
  }

  private def sysBucket(id: Long): Long =
    ((id % 1000003L) * 1103515247L + 12345L) % 1000L

  test("q_grouped_split equals the driver replay; no user spans two splits") {
    val ev = eventsTable(dir).select(col("user_id"))
      .collect().map(_.getLong(0)).toSeq
    def splitOf(u: Long): String = {
      val b = sysBucket(u)
      if (b < 800) "train" else if (b < 900) "val" else "test"
    }
    val tt = ev.size.toLong
    val want = ev.groupBy(splitOf).map { case (sp, xs) =>
      (sp, xs.distinct.size.toLong, xs.size.toLong,
        (BigInt(xs.size) * 1000000L / tt).toLong)
    }.toSet
    val got = SparkEntry.queries("q_grouped_split")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(got == want)
    assert(got.toSeq.map(_._3).sum == tt, "splits partition the events")
  }

  test("q_hash_collision_audit equals the driver replay; masses add up") {
    val mod = operators.TextAnalysis.FingerprintMod
    def fp(s: String): Long =
      s.getBytes("UTF-8").foldLeft(0L)((a, b) => (a * 31 + (b & 0xff)) % mod)
    val ev = eventsTable(dir)
      .select(col("event_type"),
        (unix_micros(col("ts")) / lit(86400000000L)).cast("long"))
      .collect().map(r => (r.getString(0), ((r.getLong(1) + 3) % 7 + 1)))
    val want = ev.groupBy(identity).toSeq
      .map { case ((et, dow), xs) =>
        val k = (fp(et) * 7 + dow) % mod
        ((mh(k) % 64).toInt, xs.size.toLong)
      }
      .groupBy(_._1).map { case (b, xs) =>
        (b, xs.size.toLong, xs.map(_._2).sum, xs.size > 1)
      }.toSet
    val got = SparkEntry.queries("q_hash_collision_audit")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toSet
    assert(got == want)
    assert(got.toSeq.map(_._3).sum == ev.size.toLong)
  }

  test("q_diversified_topk equals the driver replay; no source monopolizes") {
    val rows = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("source"), col("n_chars"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val srcRank = rows.groupBy(_._2).toSeq.flatMap { case (_, xs) =>
      xs.sortBy(d => (-d._3, d._1)).zipWithIndex
        .map { case (d, i) => (d._1, d._2, d._3, i + 1) }
    }
    val want = srcRank.sortBy(d => (d._4, -d._3, d._1)).take(20).zipWithIndex
      .map { case ((id, src, nc, sr), i) => (i + 1, id, src, nc, sr) }.toSet
    val got = SparkEntry.queries("q_diversified_topk")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getInt(4))).toSet
    assert(got == want)
    val perSource = got.groupBy(_._3).view.mapValues(_.size)
    assert(perSource.values.max <= (20 / perSource.size + 1),
      s"a source monopolizes the diversified list: $perSource")
  }

  test("q_info_gain equals the driver MI replay; features are screened") {
    def mi(pairs: Seq[(String, String)]): Long = {
      val n = pairs.size.toLong
      val cells = pairs.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val ri = pairs.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      val cj = pairs.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val s = cells.map { case ((x, y), nij) =>
        val t = math.floor(math.log(
          nij.toDouble * n.toDouble / (ri(x).toDouble * cj(y).toDouble)) * 1e9)
          .toLong
        BigInt(nij) * t
      }.sum
      (s / n).toLong
    }
    val cust = spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey"), col("c_mktsegment"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    val o = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_custkey"), col("o_orderpriority"),
        date_format(col("o_orderdate"), "MM"), col("o_orderstatus"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3))).toSeq
    val want = Set(
      ("mktsegment", o.size.toLong, mi(o.map(r => (cust(r._1), r._4)))),
      ("orderpriority", o.size.toLong, mi(o.map(r => (r._2, r._4)))),
      ("order_month", o.size.toLong, mi(o.map(r => (r._3, r._4)))))
    val got = SparkEntry.queries("q_info_gain")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want)
  }

  test("q_target_encode equals the driver replay; shrinkage pulls toward the mean") {
    val cust = spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey"), col("c_mktsegment"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    val oc = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_custkey"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
      .collect().map(r => (cust(r.getLong(0)), r.getLong(1))).toSeq
    val gmean = (oc.map(x => BigInt(x._2)).sum / oc.size).toLong
    val want = oc.groupBy(_._1).map { case (seg, xs) =>
      val n = xs.size.toLong
      val s = xs.map(x => BigInt(x._2)).sum
      (seg, n, (s / n).toLong, ((s + BigInt(100L) * gmean) / (n + 100)).toLong,
        100L * 1000000L / (n + 100L))
    }.toSet
    val got = SparkEntry.queries("q_target_encode")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got == want)
    // encoded means sit between the raw mean and the global mean
    got.foreach { case (seg, _, raw, enc, _) =>
      assert((enc >= math.min(raw, gmean) - 1) && (enc <= math.max(raw, gmean) + 1),
        s"$seg: enc $enc outside [$raw, $gmean]")
    }
  }

  test("q_lift_curve equals the driver replay; lift decays toward 1") {
    val o = spark.read.parquet(s"$dir/orders.parquet")
      .select((col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"),
        (col("o_orderstatus") === "F").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val mx = o.map(_._1).max
    val bins = o.groupBy { case (c, _) =>
      (BigInt(c) * 1000000L / mx / 100000L).toInt.min(9)
    }.view.mapValues(xs => (xs.size.toLong, xs.map(_._2).sum)).toMap
    val totN = o.size.toLong
    val totP = o.map(_._2).sum
    val desc = bins.toSeq.sortBy(-_._1)
    val cums = desc.scanLeft((0L, 0L)) { case ((cn, cp), (_, (n, p))) =>
      (cn + n, cp + p)
    }.tail
    val want = desc.zip(cums).map { case ((bin, (n, p)), (cn, cp)) =>
      (bin, n, p, cn, cp,
        (BigInt(cp) * totN * 1000000L / (BigInt(cn) * totP)).toLong)
    }.toSet
    val got = SparkEntry.queries("q_lift_curve")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    assert(got == want)
    val full = got.toSeq.sortBy(_._1).head
    assert(full._4 == totN && math.abs(full._6 - 1000000L) <= 1L,
      "the full-population bin has lift 1")
  }

  test("q_auc equals the O(n²) pairwise definition on the fixture") {
    val o = spark.read.parquet(s"$dir/orders.parquet")
      .select((col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"),
        (col("o_orderstatus") === "F").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val pos = o.filter(_._2 == 1L).map(_._1)
    val neg = o.filter(_._2 == 0L).map(_._1)
    // literal definition: every (pos, neg) pair contributes 1, ½, or 0
    val num2 = pos.map(p => neg.map(n =>
      if (p > n) 2L else if (p == n) 1L else 0L).sum).map(BigInt(_)).sum
    val want = (num2 * 1000000L /
      (2L * BigInt(pos.size) * neg.size)).toLong
    val got = SparkEntry.queries("q_auc")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).head
    assert(got == ((pos.size.toLong, neg.size.toLong, want)))
  }

  test("q_pr_curve equals the driver replay; recall is monotone in coverage") {
    val got = SparkEntry.queries("q_pr_curve")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
      .toSeq.sortBy(-_._1)
    // structural: cum_n/cum_pos/recall nondecreasing as bins widen;
    // f1 is the harmonic fold of the two ppm columns
    assert(got.map(_._2) == got.map(_._2).sorted)
    assert(got.map(_._5) == got.map(_._5).sorted)
    got.foreach { case (_, cn, cp, p, r, f1) =>
      assert(p == cp * 1000000L / cn && (f1 == 0L ||
        f1 == 2L * p * r / (p + r)))
    }
    val last = got.last
    assert(last._5 == 1000000L, "the widest bin reaches full recall")
  }

  test("q_ann_ndcg: weights are the declared discounts; perfect recall gives ndcg 1") {
    val w = Ann.NdcgW
    assert(w == Seq(1000000000L, 630929753L, 500000000L, 430676558L, 386852807L))
    val got = SparkEntry.queries("q_ann_ndcg")(spark, dir)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(got.nonEmpty)
    got.foreach { case (nRel, ndcg) =>
      assert(nRel >= 0L && nRel <= 5L && ndcg >= 0L && ndcg <= 1000000L)
      if (nRel == 5L) assert(ndcg == 1000000L * w.sum / w.sum)
      if (nRel == 0L) assert(ndcg == 0L)
    }
  }

  test("q_prefix_share equals the driver replay") {
    val want = docs.map(d => d._2.trim.toLowerCase.split("\\s+").take(3)
        .mkString(" "))
      .groupBy(identity).collect { case (p, xs) if xs.size >= 2 =>
        (p, xs.size.toLong, (xs.size - 1L) * 3L) }.toSet
    val got = SparkEntry.queries("q_prefix_share")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want)
  }

  test("q_padding_waste equals the driver replay; sorted batching never wastes more") {
    val B = 16
    val n = docs.map(d => (d._1, nTok(d._2)))
    def fold(batches: Iterable[Seq[Long]], strategy: String) = {
      val pad = batches.map(b => b.size * b.max - b.sum).sum
      val useful = batches.map(_.sum).sum
      (strategy, batches.size.toLong, pad, useful,
        pad * 1000000L / (pad + useful))
    }
    val arrival = fold(n.groupBy(_._1 / B).values.map(_.map(_._2)).toSeq,
      "arrival")
    val sorted = fold(
      n.sortBy(d => (d._2, d._1)).map(_._2).grouped(B).toSeq, "sorted")
    val got = SparkEntry.queries("q_padding_waste")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got == Set(arrival, sorted))
    // NOT asserted: sorted._3 <= arrival._3 — with a partial final
    // batch sorted chunking can pad MORE (see the counter-example in
    // PortableArithmeticPropertySpec); the op reports both policies.
  }

  test("q_encoding_audit equals the driver replay on the planted corpus") {
    val rows = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"), col("source"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val ctrl = "[\\x01-\\x08\\x0B\\x0C\\x0E-\\x1F]".r
    val want = rows.groupBy(_._3).map { case (src, ds) =>
      val planted = ds.map { case (id, t, _) =>
        if (id % 7 == 3) t + "\u0007"
        else if (id % 11 == 5) "\uFFFD" + t else t
      }
      val nCtrl = planted.map(t => ctrl.findAllIn(t).size.toLong).sum
      val nRepl = planted.map(t => t.count(_ == '\uFFFD').toLong).sum
      val dirty = planted.count(t =>
        ctrl.findFirstIn(t).isDefined || t.contains('\uFFFD')).toLong
      (src, ds.size.toLong, dirty, nCtrl, nRepl,
        (ds.size - dirty) * 1000000L / ds.size)
    }.toSet
    val got = SparkEntry.queries("q_encoding_audit")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    assert(got == want)
  }

  test("q_cohen_kappa equals the driver replay of the marker labelers") {
    def langOf(text: String): String = {
      val pad = " " + text.toLowerCase + " "
      def occ(m: String): Int = (pad.length - pad.replace(m, "").length) / m.length
      val scores = operators.TextAnalysis.langMarkers.map { case (l, ms) =>
        l -> ms.map(occ).sum
      }
      val best = scores.map(_._2).max
      scores.find { case (_, s) => s > 0 && s == best }.map(_._1)
        .getOrElse("und")
    }
    val labs = docs.map(d => (langOf(d._2), langOf(d._2.take(120))))
    val n = labs.size.toLong
    val agree = labs.count(p => p._1 == p._2).toLong
    val rowsM = labs.groupBy(_._1).map { case (l, xs) => l -> xs.size.toLong }
    val colsM = labs.groupBy(_._2).map { case (l, xs) => l -> xs.size.toLong }
    val rc = rowsM.toSeq.map { case (l, r) =>
      BigInt(r) * BigInt(colsM.getOrElse(l, 0L)) }.sum
    val num = BigInt(n) * agree - rc
    val den = BigInt(n) * n - rc
    val kappa = (if (num >= 0) num * 1000000L / den
      else -((-num * 1000000L) / den)).toLong
    val got = SparkEntry.queries("q_cohen_kappa")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).head
    assert(got == ((n, agree, agree * 1000000L / n,
      (rc * 1000000L / (BigInt(n) * n)).toLong, kappa)))
  }

  test("q_dedup_method_agreement: both detectors cover the planted exact pairs") {
    val got = SparkEntry.queries("q_dedup_method_agreement")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).head
    val (both, mOnly, sOnly, ppm) = got
    // every doc has its planted exact duplicate (jaccard 1, hamming 0):
    // both detectors must flag all of them, so n_both covers the corpus
    assert(both >= docs.size.toLong)
    assert(mOnly >= 0L && sOnly >= 0L)
    assert(ppm == both * 1000000L / (both + mOnly + sOnly))
  }

  test("q_rank_churn equals the driver replay of the two half leaderboards") {
    val ev = eventsTable(dir).select(col("user_id"),
        unix_micros(col("ts")).as("t"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val mid = (ev.map(_._2).min + ev.map(_._2).max) / 2
    def top(half: Seq[(Long, Long)]): Map[Long, Long] = {
      val counts = half.groupBy(_._1).map { case (u, xs) => (u, xs.size.toLong) }
      counts.toSeq.sortBy { case (u, c) => (-c, u) }.take(20)
        .zipWithIndex.map { case ((u, _), i) => (u, i + 1L) }.toMap
    }
    val r1 = top(ev.filter(_._2 < mid).toSeq)
    val r2 = top(ev.filter(_._2 >= mid).toSeq)
    val kept = r1.keySet intersect r2.keySet
    val want = (kept.size.toLong, (r2.keySet -- r1.keySet).size.toLong,
      (r1.keySet -- r2.keySet).size.toLong,
      kept.toSeq.map(u => math.abs(r1(u) - r2(u))).sum,
      kept.size * 1000000L / (r1.keySet union r2.keySet).size)
    val got = SparkEntry.queries("q_rank_churn")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).head
    assert(got == want)
  }

  test("q_canary_scan equals the driver replay; the control canary is 0") {
    def occ(t: String, c: String): Long =
      ((t.length - t.replace(c, "").length) / c.length).toLong
    val planted = docs.map { case (id, t) =>
      if (id % 101 == 7) t + " canary-alpha-7f3a"
      else if (id % 103 == 11) t + " canary-beta-2c9d canary-beta-2c9d"
      else if (id % 107 == 13) "canary-gamma-e5b1 " + t
      else t
    }
    val names = Seq("canary-alpha-7f3a", "canary-beta-2c9d",
      "canary-gamma-e5b1", "canary-delta-0a42")
    val want = names.map { c =>
      (c, planted.count(occ(_, c) > 0).toLong, planted.map(occ(_, c)).sum)
    }.toSet
    val got = SparkEntry.queries("q_canary_scan")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want)
    assert(got.exists(r => r._1.contains("delta") && r._2 == 0L && r._3 == 0L),
      "the never-planted control reports zero")
  }

  test("q_source_overlap equals the driver string-shingle replay") {
    val rows = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("source"), col("text"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    def shingleSet(text: String): Set[String] = {
      val t = text.trim.split("\\s+").toSeq
      (0 to math.max(t.size - 3, 0)).map(i => t.slice(i, i + 3).mkString(" "))
        .toSet
    }
    val bySrc = rows.groupBy(_._1).map { case (s, ds) =>
      s -> ds.map(d => shingleSet(d._2)).reduce(_ union _)
    }
    val srcs = bySrc.keys.toSeq.sorted
    val want = (for {
      a <- srcs; b <- srcs if a < b
      common = (bySrc(a) intersect bySrc(b)).size.toLong if common > 0
    } yield (a, b, common, common * 1000000L / bySrc(a).size,
      common * 1000000L / bySrc(b).size)).toSet
    // the Spark side shuffles 64-bit shingle hashes; equality with the
    // string replay doubles as a collision-absence proof at this scale
    val got = SparkEntry.queries("q_source_overlap")(spark, dir)
      .select("source_a", "source_b", "n_common", "cont_a_ppm", "cont_b_ppm")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got == want)
  }

  test("q_text_norm_audit equals the driver replay; normalization is idempotent") {
    val rows = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"), col("source"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def norm(t: String): String =
      t.toLowerCase.replaceAll("[\\x01-\\x08\\x0B\\x0C\\x0E-\\x1F]", "")
        .replaceAll("\\s+", " ").trim
    val planted = rows.map { case (id, t, src) =>
      val p = if (id % 5 == 1) t.replace(" ", "  ")
        else if (id % 7 == 2) t.toUpperCase
        else if (id % 11 == 3) t + "\t  " else t
      (src, p)
    }
    planted.foreach { case (_, p) => assert(norm(norm(p)) == norm(p)) }
    val want = planted.groupBy(_._1).map { case (src, ds) =>
      val changed = ds.count { case (_, p) => norm(p) != p }.toLong
      (src, ds.size.toLong, changed,
        ds.map { case (_, p) => (p.length - norm(p).length).toLong }.sum,
        (ds.size - changed) * 1000000L / ds.size)
    }.toSet
    val got = SparkEntry.queries("q_text_norm_audit")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got == want)
  }

  test("q_pack_efficiency equals the driver cumsum replay") {
    val B = 2048L
    val ns = docs.sortBy(_._1).map(d => nTok(d._2))
    val cums = ns.scanLeft(0L)(_ + _).tail
    val total = cums.last
    val straddlers = ns.zip(cums).filter { case (n, cum) =>
      (cum - 1) / B > (cum - n) / B }
    val want = (ns.size.toLong, total, (total + B - 1) / B,
      straddlers.size.toLong,
      straddlers.map { case (n, cum) => cum - ((cum - n) / B + 1) * B }.sum,
      total * 1000000L / (((total + B - 1) / B) * B))
    val got = SparkEntry.queries("q_pack_efficiency")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).head
    assert(got == want)
  }

  test("q_quota_progress equals the driver replay; targets allocate the global quota") {
    val cust = spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey").cast("long"), col("c_nationkey").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val nations = spark.read.parquet(s"$dir/nation.parquet")
      .select(col("n_nationkey").cast("long"), col("n_name"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    val custNation = cust.toMap
    val filled = spark.read.parquet(s"$dir/orders.parquet")
      .filter(col("o_orderstatus") === "F")
      .select(col("o_custkey").cast("long"))
      .collect().map(r => custNation(r.getLong(0)))
      .groupBy(identity).map { case (n, xs) => n -> xs.size.toLong }
    val byNation = cust.groupBy(_._2).map { case (n, xs) => n -> xs.size.toLong }
    val tot = byNation.values.sum
    // corpus-relative quota: 1.2× the achieved total (r10 vacuity fix)
    val quota = filled.values.sum * 12L / 10L
    val want = byNation.map { case (nk, nc) =>
      val target = quota * nc / tot
      val f = filled.getOrElse(nk, 0L)
      (nations(nk), nc, target, f, math.max(target - f, 0L),
        if (target > 0) f * 1000000L / target else 0L)
    }.toSet
    val got = SparkEntry.queries("q_quota_progress")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    assert(got == want)
    // the monitor must show real outstanding work somewhere (and real
    // fill everywhere): an all-zero remaining column measured nothing
    assert(got.exists(_._5 > 0L), "no cell has remaining quota")
    assert(got.forall(_._4 > 0L))
  }

  test("q_callback_schedule equals the driver replay; backoff is capped") {
    val ev = eventsTable(dir).select(col("user_id"),
        unix_micros(col("ts")), (col("event_type") === "purchase"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val cut = ev.map(_._2).max - 7L * 86400000000L
    val want = ev.groupBy(_._1).collect {
      case (u, xs) if !xs.exists(x => x._3 && x._2 >= cut) =>
        val attempts = xs.count(_._2 >= cut).toLong
        val last = xs.map(_._2).max
        val backoff = math.min(1L << math.min(attempts, 20L), 1440L)
        (u, attempts, last, backoff, last + backoff * 60000000L)
    }.toSet
    val got = SparkEntry.queries("q_callback_schedule")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got == want)
    assert(got.forall(_._4 <= 1440L))
  }

  test("q_fieldwork_burndown equals the driver replay; target lands on the total") {
    val days = spark.read.parquet(s"$dir/orders.parquet")
      .filter(col("o_orderstatus") === "F")
      .select(date_format(col("o_orderdate"), "yyyy-MM-dd"))
      .collect().map(_.getString(0))
      .groupBy(identity).map { case (d, xs) => d -> xs.size.toLong }
      .toSeq.sortBy(_._1)
    val total = days.map(_._2).sum
    val cums = days.map(_._2).scanLeft(0L)(_ + _).tail
    val want = days.zip(cums).zipWithIndex.map {
      case (((d, n), cum), i) =>
        val target = total * (i + 1) / days.size
        (d, n, cum, target, cum - target)
    }.toSet
    val got = SparkEntry.queries("q_fieldwork_burndown")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got == want)
    val last = want.maxBy(_._1)
    assert(last._4 == total && last._5 == 0L,
      "pro-rata target lands exactly on the total at the last day")
  }

  test("q_response_bias equals the driver replay; indices bracket par") {
    val cust = spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey").cast("long"), col("c_mktsegment"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val seg = cust.toMap
    val respondents = spark.read.parquet(s"$dir/orders.parquet")
      .filter(col("o_orderstatus") === "F")
      .select(col("o_custkey").cast("long")).distinct()
      .collect().map(r => seg(r.getLong(0)))
    val pop = cust.groupBy(_._2).map { case (sg, xs) => sg -> xs.size.toLong }
    val resp = respondents.groupBy(identity)
      .map { case (sg, xs) => sg -> xs.size.toLong }
    val (np, nr) = (pop.values.sum, resp.values.sum)
    val want = pop.map { case (sg, p) =>
      val r = resp.getOrElse(sg, 0L)
      (sg, p, r, r * 1000000L / p,
        (BigInt(r) * np * 1000000L / (BigInt(p) * nr)).toLong)
    }.toSet
    val got = SparkEntry.queries("q_response_bias")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got == want)
    // weighted by population, the representation indices straddle 1e6
    assert(want.exists(_._5 <= 1000000L) && want.exists(_._5 >= 999000L))
  }

  test("q_design_effect equals the driver BigInt replay; DEFF prices the weighting") {
    val cust = spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey").cast("long"), col("c_nationkey").cast("long"),
        col("c_mktsegment"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getString(2))))
    val cell = cust.toMap
    val respCells = spark.read.parquet(s"$dir/orders.parquet")
      .filter(col("o_orderstatus") === "F")
      .select(col("o_custkey").cast("long")).distinct()
      .collect().map(r => cell(r.getLong(0)))
    val pop = cust.groupBy(_._2).map { case (c, xs) => c -> BigInt(xs.size) }
    val resp = respCells.groupBy(identity)
      .map { case (c, xs) => c -> BigInt(xs.size) }
    val (bigN, bigR) = (pop.values.sum, resp.values.sum)
    val cells = resp.toSeq.map { case (c, r) =>
      val w = (pop(c) * bigR * 1000000L / (r * bigN)) min BigInt(10000000L)
      (r, w)
    }
    val s = cells.map { case (r, w) => r * w }.sum
    val svv = cells.map { case (r, w) =>
      val v = w * bigR * 1000000L / s
      r * v * v
    }.sum
    // the DuckDB oracle folds in BIGINT (round 8's only driver-gate
    // hash miss was the old HUGEINT chain): every intermediate the
    // rewritten SQL forms must fit a signed 64-bit integer here
    val longMax = BigInt(Long.MaxValue)
    assert(s <= longMax && svv <= longMax)
    assert(cells.forall { case (r, w) =>
      w * bigR * 1000000L <= longMax && r * bigN <= longMax
    })
    assert(pop.forall { case (_, p) => p * bigR * 1000000L <= longMax })
    val deff = (svv / (bigR * 1000000L)).toLong
    val want = (bigN.toLong, bigR.toLong, cells.size.toLong,
      cells.map(_._2).max.toLong, deff,
      bigR.toLong * 1000000L / math.max(deff, 1L))
    val got = SparkEntry.queries("q_design_effect")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).head
    assert(got == want)
    assert(deff >= 990000L, "DEFF is ~1 or above for near-uniform weights")
  }

  test("q_dedup_threshold_curve is monotone and anchored by the planted corpus") {
    val got = SparkEntry.queries("q_dedup_threshold_curve")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .toSeq.sortBy(_._1)
    assert(got.map(_._1) == Seq(80, 90, 100))
    // tightening the threshold can only shed pairs and docs
    assert(got.map(_._2).reverse == got.map(_._2).reverse.sorted)
    assert(got.map(_._3).reverse == got.map(_._3).reverse.sorted)
    // every doc has its planted exact duplicate: the j=1.0 row covers
    // the whole duplicated corpus
    val nDocs = docs.size.toLong
    assert(got.last._2 >= nDocs && got.last._3 == 2 * nDocs)
  }
}

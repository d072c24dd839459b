package graft

import graft.queries.Common

import org.apache.spark.sql.functions._

/** Ops 345-348 (round-8 widening, web-corpus/sketch/feature-prep):
  * URL parse-by-construction, RAKE keyphrases, Bloom FPR audit,
  * per-user feature matrix — driver replays at sf0.001. */
class WebCorpusFeatureOpsSpec extends GraftSuite {

  private val dir = "/root/testdata/sf0.001"

  test("q_url_parse: the real parse_url recovers the planted formulas") {
    val ids = eventsTable(dir).select("event_id").collect().map(_.getLong(0))
    val got = SparkEntry.queries("q_url_parse")(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    val want = ids.groupBy(id => s"shop${id % 5}.example.com")
      .map { case (host, hs) =>
        host -> (hs.length.toLong,
          hs.map(_ % 100).distinct.length.toLong,
          hs.count(_ % 4 != 0).toLong,
          hs.map(id => 4L + id.toString.length).sum,
          hs.length.toLong)
      }
    assert(got == want)
    // every row parsed: host and path both round-tripped exactly
    got.foreach { case (h, (n, _, _, _, ok)) => assert(ok == n, s"host $h") }
  }

  test("q_keyphrase_rake: scores replay from a driver-side RAKE") {
    val stop = Set("the", "a", "an", "and", "of", "to", "in", "is", "for",
      "on", "with", "as")
    val texts = spark.read.parquet(s"$dir/documents.parquet")
      .select("text").collect().map(_.getString(0))
    val phrases = texts.flatMap { t =>
      val ws = t.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
      // maximal stopword-free runs, the same segmentation as the query
      val runs = scala.collection.mutable.ArrayBuffer.empty[List[String]]
      var cur = List.empty[String]
      ws.foreach { w =>
        if (stop(w)) { if (cur.nonEmpty) runs += cur.reverse; cur = Nil }
        else cur = w :: cur
      }
      if (cur.nonEmpty) runs += cur.reverse
      runs.map(_.mkString(" ")).filter(p => p.split(" ").length <= 6)
    }
    val freq = scala.collection.mutable.Map.empty[String, Long]
    val deg = scala.collection.mutable.Map.empty[String, Long]
    phrases.foreach { p =>
      val ws = p.split(" ")
      ws.foreach { w =>
        freq(w) = freq.getOrElse(w, 0L) + 1
        deg(w) = deg.getOrElse(w, 0L) + ws.length
      }
    }
    val wscore = freq.keys.map(w => w -> deg(w) * 1000000L / freq(w)).toMap
    val byPhrase = phrases.groupBy(identity).map { case (p, ps) =>
      (p, ps.length.toLong, p.split(" ").map(wscore).sum)
    }
    val want = byPhrase.toSeq.sortBy(t => (-t._3, t._1)).take(15)
    val got = SparkEntry.queries("q_keyphrase_rake")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == want)
    assert(got.forall(_._3 >= 1000000L),
      "a phrase scores at least 1e6 per word (deg >= freq)")
  }

  test("q_bloom_fpr: bit-set replay; fp count matches; probes non-empty") {
    val hm = BigInt(Common.HashMult)
    val hm2 = BigInt(Common.HashMult2)
    val md = BigInt("36028797018963913")
    val members = spark.read.parquet(s"$dir/orders.parquet")
      .select("o_custkey").distinct().collect().map(_.getLong(0))
    // corpus-relative filter size (8 bits/key): a fixed m saturates at
    // 10x the keys and the audit measures nothing but 1.0
    val m = members.length.toLong * 8 + 1
    // double hashing: slot_i = (h1 + i*h2) mod m, per-key stride
    def slot(x: Long, i: Int): Long =
      (((BigInt(x) * hm).mod(md) + i * (BigInt(x) * hm2).mod(md)) % m).toLong
    val bits = members.flatMap(x => (0 until 3).map(i => slot(x, i))).toSet
    // non-members by construction: every custkey shifted past the max
    // key of BOTH tables (orders can reference late-dim custkeys beyond
    // max(c_custkey))
    val custkeys = spark.read.parquet(s"$dir/customer.parquet")
      .select("c_custkey").collect().map(_.getLong(0))
    val shift = math.max(custkeys.max, members.max) + 1
    val probes = custkeys.map(_ + shift)
    assert(probes.forall(p => !members.contains(p)),
      "shifted keys must be true non-members")
    val nFp = probes.count(x => (0 until 3).forall(i => bits(slot(x, i)))).toLong
    val r = SparkEntry.queries("q_bloom_fpr")(spark, dir).collect()(0)
    assert(r.getLong(0) == members.length.toLong)
    assert(r.getLong(1) == bits.size.toLong)
    assert(r.getLong(2) == probes.length.toLong)
    assert(probes.nonEmpty, "need true non-members for the audit to bite")
    assert(r.getLong(3) == nFp)
    // when enough probes exist for the binomial to concentrate, the
    // EMPIRICAL rate must track the load curve — the whole point of the
    // audit (the old fixed-stride slots read 100x under theory)
    val expFp = probes.length.toDouble * math.pow(bits.size.toDouble / m, 3)
    if (expFp >= 20.0)
      assert(nFp >= expFp / 4 && nFp <= expFp * 4,
        s"empirical fp $nFp should track expectation $expFp")
    assert(r.getLong(4) == nFp * 1000000L / probes.length)
    val n = members.length.toDouble
    assert(r.getLong(5) ==
      math.floor(math.pow(1.0 - math.exp(-(3.0 * n) / m), 3.0) * 1e6).toLong)
    assert(r.getLong(6) ==
      math.floor(math.pow(bits.size.toDouble / m, 3.0) * 1e6).toLong)
  }

  test("q_feature_matrix: exact-integer replay for every user") {
    val rows = eventsTable(dir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")),
        (col("value").cast("decimal(18,2)") * 100).cast("long"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val gmax = rows.map(_._3).max
    val want = rows.groupBy(_._1).map { case (u, es) =>
      val n = es.length.toLong
      val np = es.count(_._2 == "purchase").toLong
      val first = es.map(_._3).min; val last = es.map(_._3).max
      val tenure = (last - first) / 86400000000L
      u -> (n, np, es.count(_._2 == "error").toLong,
        es.map(_._2).distinct.length.toLong,
        es.map(_._4).sum, es.map(_._4).max,
        (gmax - last) / 86400000000L, tenure,
        np * 1000000L / n, n * 1000000L / (tenure + 1))
    }
    val got = SparkEntry.queries("q_feature_matrix")(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8),
        r.getLong(9), r.getLong(10))).toMap
    assert(got == want)
  }
}

package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators._

/** Everything else: statistics, estimators, joins and layout
  * queries over the TPC-H-style tables (orders, lineitem, customer,
  * part, nation). */
object Stats extends QueryFamily("stats") {
  import Common._

  /** #30 top-N per group via window rank. */
  private def topnPerGroup(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(s, dir, "orders")
      .withColumn("rn", row_number().over(w).cast("int"))
      .filter(col("rn") <= 3)
      .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
  }

  private val topnPerGroupSql =
    """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    CAST(row_number() OVER (PARTITION BY o_custkey
      |         ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
      |  FROM orders)
      |WHERE rn <= 3""".stripMargin

  /** #34 pricing summary over the largest table (lineitem) — TPC-H-Q1-
    * style grouped aggregation; sums route through DECIMAL for an exact
    * oracle compare. */
  private def lineitemPricing(s: SparkSession, dir: String): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(18,2)")
    t(s, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        count(lit(1)).as("n"),
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(dec(col("l_extendedprice"))).cast("double").as("sum_base"),
        sum(dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount")))
          .cast("double").as("sum_disc"))
  }

  private val lineitemPricingSql =
    """SELECT l_returnflag, l_linestatus, count(*) AS n,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc
      |FROM lineitem GROUP BY 1, 2""".stripMargin

  /** #35 fact-to-fact join at volume: revenue per order priority over
    * orders ⋈ lineitem (no broadcast hint — both sides scale; AQE picks
    * the strategy). */
  private def revenueJoin(s: SparkSession, dir: String): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(18,2)")
    val li = t(s, dir, "lineitem")
      .select(col("l_orderkey"),
        (dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount"))).as("__rev"))
    t(s, dir, "orders")
      .join(li, col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderpriority")
      .agg(
        countDistinct(col("o_orderkey")).as("n_orders"),
        count(lit(1)).as("n_items"),
        sum(col("__rev")).cast("double").as("revenue"))
  }

  private val revenueJoinSql =
    """SELECT o.o_orderpriority,
      |  count(DISTINCT o.o_orderkey) AS n_orders,
      |  count(*) AS n_items,
      |  CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l.l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      |GROUP BY 1""".stripMargin

  /** #41 sketch-based distinct counting: HyperLogLog++ per wave — the
    * constant-memory distinct at 100 TB where exact COUNT(DISTINCT)
    * would shuffle every key. The sketch value itself is
    * engine-specific, so the oracle-checked output carries the exact
    * count plus `approx_ok` (sketch within 5% of exact — the oracle
    * pins it TRUE, so a sketch regression breaks the hash compare);
    * the raw sketch value is spec-bounded in ApproxDistinctSpec. */
  private def approxDistinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .withColumn("wave", col("o_orderkey") % 10)
      .groupBy("wave")
      .agg(
        count(lit(1)).as("n"),
        countDistinct(col("o_custkey")).as("exact_customers"),
        approx_count_distinct(col("o_custkey"), rsd = 0.02).as("__approx"))
      .select(col("wave"), col("n"), col("exact_customers"),
        (abs(col("__approx") - col("exact_customers")).cast("double") /
          col("exact_customers") <= 0.05).as("approx_ok"))

  private val approxDistinctSql =
    """SELECT o_orderkey % 10 AS wave, count(*) AS n,
      |  count(DISTINCT o_custkey) AS exact_customers,
      |  TRUE AS approx_ok
      |FROM orders GROUP BY 1""".stripMargin

  /** #44 pivot: status counts widened to columns per priority. */
  private def pivotStatus(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .select(col("o_orderpriority"), coalesce(col("F"), lit(0L)).as("n_f"),
        coalesce(col("O"), lit(0L)).as("n_o"), coalesce(col("P"), lit(0L)).as("n_p"))

  private val pivotStatusSql =
    """SELECT o_orderpriority,
      |  CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_f,
      |  CAST(count(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS n_o,
      |  CAST(count(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS n_p
      |FROM orders GROUP BY 1""".stripMargin

  /** #45 exact interpolated percentiles per group (median + p95) via
    * distributed rank selection — the built-in `percentile` aggregate
    * buffers EVERY group value in one task (the funnel that OOMs at
    * 100 TB); DistributedPercentiles selects only the boundary order
    * statistics. Both engines use linear interpolation at rank p*(n-1);
    * rounded to 6dp to absorb last-bit arithmetic differences. */
  private def percentiles(s: SparkSession, dir: String): DataFrame =
    DistributedPercentiles.exact(t(s, dir, "orders"), "o_orderpriority",
      "o_totalprice", Seq("p50" -> 0.5, "p95" -> 0.95))
      .select(col("o_orderpriority"),
        round(col("p50"), 6).as("p50"), round(col("p95"), 6).as("p95"))

  private val percentilesSql =
    """SELECT o_orderpriority,
      |  round(quantile_cont(o_totalprice, 0.5), 6) AS p50,
      |  round(quantile_cont(o_totalprice, 0.95), 6) AS p95
      |FROM orders GROUP BY 1""".stripMargin

  /** #38 ROLLUP aggregation: subtotals + grand total in one pass. */
  private def rollupAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .rollup("o_orderpriority", "o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))

  private val rollupAggSql =
    """SELECT o_orderpriority, o_orderstatus, count(*) AS n,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)""".stripMargin

  /** #40 edit distance between successive customer names (fuzzy-match
    * primitive for respondent-registry reconciliation). */
  private def editDistance(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val a = c.select(col("c_custkey"), col("c_name"))
    val b = c.select((col("c_custkey") - 1).as("c_custkey"), col("c_name").as("next_name"))
    a.join(b, Seq("c_custkey"))
      .select(col("c_custkey"), levenshtein(col("c_name"), col("next_name")).as("edit_dist"))
  }

  private val editDistanceSql =
    """SELECT a.c_custkey, levenshtein(a.c_name, b.c_name) AS edit_dist
      |FROM customer a JOIN customer b ON b.c_custkey = a.c_custkey + 1""".stripMargin

  /** #54 skew-safe salted join: orders⋈customer with the fact side
    * salted 8 ways and the dim side replicated — the hot-key defence
    * for shuffle joins AQE's skew split doesn't cover (shuffled-hash
    * joins, a-priori-known hot keys). The dim side carries a
    * shuffle-hash hint so the salt actually exercises the shuffle path
    * instead of collapsing into a broadcast. Result is provably
    * identical to the unsalted join (the oracle is the plain join). */
  private def skewJoin(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val cust = t(s, dir, "customer").select("c_custkey", "c_mktsegment")
      .hint("shuffle_hash")
    SaltedJoin.inner(orders, cust, "o_custkey", "c_custkey",
        salt = 8, saltFrom = col("o_orderkey"))
      .groupBy("c_mktsegment")
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
  }

  private val skewJoinSql =
    """SELECT c.c_mktsegment, count(*) AS n_orders,
      |  CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      |GROUP BY 1""".stripMargin

  /** #60 Bloom-pruned semi-join: orders restricted to nation-3
    * customers. The Bloom filter over the small side's keys pre-filters
    * the fact scan (runtime-filter shape); the exact semi-join after it
    * removes false positives, so the oracle is the plain semi-join. */
  private def bloomPrune(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val cust = t(s, dir, "customer")
      .filter(col("c_nationkey") === 3)
      .select("c_custkey")
    BloomPrune.semiJoin(orders, cust, "o_custkey", "c_custkey",
        expectedItems = 100000L)
      .select("o_orderkey", "o_custkey", "o_totalprice")
  }

  private val bloomPruneSql =
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders o
      |WHERE EXISTS (SELECT 1 FROM customer c
      |              WHERE c.c_custkey = o.o_custkey AND c.c_nationkey = 3)""".stripMargin

  /** #61 order-independent table checksum per month — the anti-entropy
    * validation pass: md5 of the canonical row string folded to a
    * 55-bit fingerprint (the docFingerprint pattern), summed mod a
    * prime per group. Doubles canonicalize through fixed-point,
    * timestamps through epoch micros, so any engine recomputes the
    * same checksums (the oracle proves DuckDB does). */
  private def tableChecksum(s: SparkSession, dir: String): DataFrame =
    TableChecksum.checksumBy(t(s, dir, "orders"),
      Seq("month" -> date_format(col("o_orderdate"), "yyyy-MM")),
      Seq(col("o_orderkey").cast("string"),
        col("o_custkey").cast("string"),
        col("o_orderstatus"),
        floor(col("o_totalprice") * 100).cast("long").cast("string"),
        // NTZ → TZ cast is identity under the UTC session zone
        unix_micros(col("o_orderdate").cast("timestamp")).cast("string"),
        col("o_orderpriority")))

  private val tableChecksumSql =
    s"""WITH c AS (
       |  SELECT strftime(o_orderdate, '%Y-%m') AS month,
       |    list_reduce(
       |      list_prepend(CAST(0 AS BIGINT),
       |        list_transform(string_split_regex(md5(concat_ws(chr(1),
       |          CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR),
       |          o_orderstatus,
       |          CAST(CAST(floor(o_totalprice * 100) AS BIGINT) AS VARCHAR),
       |          CAST(epoch_us(o_orderdate) AS VARCHAR), o_orderpriority)), ''),
       |          x -> CAST(coalesce(ascii(x), 0) AS BIGINT))),
       |      (a, b) -> (a * 31 + b) % ${TextAnalysis.FingerprintMod}) AS fp
       |  FROM orders)
       |SELECT month, count(*) AS n_rows,
       |  CAST(sum(CAST(fp AS HUGEINT)) % ${TextAnalysis.FingerprintMod} AS BIGINT) AS checksum
       |FROM c GROUP BY 1""".stripMargin

  /** #70 mergeable quantile sketch — the incremental-family percentile:
    * the history partition (3/4 of orders) is pre-reduced to its
    * log-bucket histogram state (QuantileSketch, DDSketch-style); the
    * delta partition folds in by algebraic merge — no history rescan,
    * O(log range) state per key. The oracle carries the exact
    * interpolated percentiles (DistributedPercentiles ≡ DuckDB
    * quantile_cont, the q_percentiles-proven pairing) plus `sketch_ok`
    * pinned TRUE: the merged sketch must land within 3α relative of the
    * exact values (α for the bucket width + slack for nearest-rank vs
    * interpolated), so a sketch or merge regression breaks the hash. */
  private def quantileSketch(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val alpha = 0.01
    val hist = QuantileSketch.state(
      orders.filter(pmod(col("o_orderkey"), lit(4)) =!= 0),
      "o_orderpriority", "o_totalprice", alpha)
    val delta = QuantileSketch.state(
      orders.filter(pmod(col("o_orderkey"), lit(4)) === 0),
      "o_orderpriority", "o_totalprice", alpha)
    val est = QuantileSketch.quantiles(
      QuantileSketch.merge("o_orderpriority", hist, delta),
      "o_orderpriority", Seq("s50" -> 0.5, "s95" -> 0.95), alpha)
    DistributedPercentiles.exact(orders, "o_orderpriority", "o_totalprice",
        Seq("p50" -> 0.5, "p95" -> 0.95))
      .join(broadcast(est), Seq("o_orderpriority"))
      .select(col("o_orderpriority"),
        round(col("p50"), 6).as("p50"), round(col("p95"), 6).as("p95"),
        (abs(col("s50") - col("p50")) / col("p50") <= 0.03 &&
          abs(col("s95") - col("p95")) / col("p95") <= 0.03).as("sketch_ok"))
  }

  private val quantileSketchSql =
    """SELECT o_orderpriority,
      |  round(quantile_cont(o_totalprice, 0.5), 6) AS p50,
      |  round(quantile_cont(o_totalprice, 0.95), 6) AS p95,
      |  TRUE AS sketch_ok
      |FROM orders GROUP BY 1""".stripMargin

  /** #75 one-pass Pearson correlation matrix over lineitem's numeric
    * measures — the feature-covariance profile step of a dataset audit.
    * ALL first and second moments accumulate in ONE aggregate job as
    * EXACT decimal sums (map-side combinable, order-independent); the
    * non-associative double arithmetic happens only in the final
    * per-pair formula, evaluated once off the exact sums with the same
    * expression structure the oracle uses, so results are bit-stable
    * under any partitioning. The 3 output rows explode from the single
    * moment row — the scan runs once, not once per pair. */
  private def corrMatrix(s: SparkSession, dir: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
    val dec = (c: String) => col(c).cast("decimal(18,2)").as(c)
    val li = t(s, dir, "lineitem").select(cols.map(dec): _*)
    val moments = Seq(count(lit(1)).as("n")) ++
      cols.map(c => sum(col(c)).as(s"s__$c")) ++
      (for { i <- cols.indices; j <- i until cols.size } yield
        sum(col(cols(i)) * col(cols(j))).as(s"s__${cols(i)}__${cols(j)}"))
    val m = li.agg(moments.head, moments.tail: _*)
    val nD = col("n").cast("double")
    def sD(name: String) = col(name).cast("double")
    def variance(c: String) =
      nD * sD(s"s__${c}__$c") - sD(s"s__$c") * sD(s"s__$c")
    val pairs = for { i <- cols.indices; j <- (i + 1) until cols.size }
      yield (cols(i), cols(j))
    m.select(col("n").cast("long").as("n"),
        explode(array(pairs.map { case (x, y) =>
          struct(lit(x).as("col_x"), lit(y).as("col_y"),
            round((nD * sD(s"s__${x}__$y") - sD(s"s__$x") * sD(s"s__$y")) /
              sqrt(variance(x) * variance(y)), 6).as("corr"))
        }: _*)).as("p"))
      .select(col("p.col_x").as("col_x"), col("p.col_y").as("col_y"),
        col("n"), col("p.corr").as("corr"))
  }

  private val corrMatrixSql =
    """WITH d AS (
      |  SELECT CAST(l_quantity AS DECIMAL(18,2)) AS q,
      |         CAST(l_extendedprice AS DECIMAL(18,2)) AS p,
      |         CAST(l_discount AS DECIMAL(18,2)) AS dc
      |  FROM lineitem),
      |m AS (
      |  SELECT count(*) AS n,
      |    sum(q) AS sq, sum(p) AS sp, sum(dc) AS sd,
      |    sum(q*q) AS sqq, sum(q*p) AS sqp, sum(q*dc) AS sqd,
      |    sum(p*p) AS spp, sum(p*dc) AS spd, sum(dc*dc) AS sdd
      |  FROM d)
      |SELECT 'l_quantity' AS col_x, 'l_extendedprice' AS col_y,
      |  CAST(n AS BIGINT) AS n,
      |  round((CAST(n AS DOUBLE)*CAST(sqp AS DOUBLE) - CAST(sq AS DOUBLE)*CAST(sp AS DOUBLE)) /
      |    sqrt((CAST(n AS DOUBLE)*CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE)*CAST(sq AS DOUBLE)) *
      |         (CAST(n AS DOUBLE)*CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE)*CAST(sp AS DOUBLE))), 6) AS corr
      |FROM m
      |UNION ALL
      |SELECT 'l_quantity', 'l_discount', CAST(n AS BIGINT),
      |  round((CAST(n AS DOUBLE)*CAST(sqd AS DOUBLE) - CAST(sq AS DOUBLE)*CAST(sd AS DOUBLE)) /
      |    sqrt((CAST(n AS DOUBLE)*CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE)*CAST(sq AS DOUBLE)) *
      |         (CAST(n AS DOUBLE)*CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE)*CAST(sd AS DOUBLE))), 6)
      |FROM m
      |UNION ALL
      |SELECT 'l_extendedprice', 'l_discount', CAST(n AS BIGINT),
      |  round((CAST(n AS DOUBLE)*CAST(spd AS DOUBLE) - CAST(sp AS DOUBLE)*CAST(sd AS DOUBLE)) /
      |    sqrt((CAST(n AS DOUBLE)*CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE)*CAST(sp AS DOUBLE)) *
      |         (CAST(n AS DOUBLE)*CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE)*CAST(sd AS DOUBLE))), 6)
      |FROM m""".stripMargin

  private val lastBucketRoot =
    new java.util.concurrent.atomic.AtomicReference[java.io.File]()

  /** #78 co-located bucketed join: both fact tables land bucketed on
    * the join key (8 buckets, sorted), so the join runs with ZERO
    * shuffle exchange — the write-once/join-many contract for repeated
    * large-table joins at 100 TB (SURVEY §5; plan-audited both here —
    * the `require` fails the query if an Exchange appears — and in
    * BucketedJoinSpec). `hint("merge")` pins sort-merge so the plan
    * shape is bucket-driven, not stats-driven. bench=false: the query
    * measures fixture (re)writes, not the engine. */
  private def bucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val nb = 8
    val app = s.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "_")
    val ordersTbl = s"graft_b_orders_$app"
    val lineitemTbl = s"graft_b_lineitem_$app"
    val root = deleteAtExit(new java.io.File(sys.props("java.io.tmpdir"), s"graft_buckets_$app"))
    Option(lastBucketRoot.getAndSet(root)).filter(_ != root).foreach(rmTree)
    def writeBucketed(name: String, tbl: String, key: String): Unit = {
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      t(s, dir, name).write.mode("overwrite")
        .format("parquet")
        .option("path", new java.io.File(root, tbl).getAbsolutePath)
        .bucketBy(nb, key).sortBy(key)
        .saveAsTable(tbl)
    }
    writeBucketed("orders", ordersTbl, "o_orderkey")
    writeBucketed("lineitem", lineitemTbl, "l_orderkey")
    val dec = (c: Column) => c.cast("decimal(18,2)")
    val joined = s.table(lineitemTbl).hint("merge")
      .join(s.table(ordersTbl), col("l_orderkey") === col("o_orderkey"))
    val joinPlan = joined.queryExecution.executedPlan.toString
    require(!joinPlan.contains("Exchange"),
      s"bucketed join must not shuffle:\n$joinPlan")
    joined
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        sum(dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount")))
          .cast("double").as("revenue"))
  }

  private val bucketedJoinSql =
    """SELECT o.o_orderpriority, count(*) AS n_items,
      |  CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l.l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |GROUP BY 1""".stripMargin

  /** #79 snapshot reconciliation (table diff): added / removed /
    * changed rows between a base table and its next version — the
    * post-load validation a feeder needs (did the batch apply exactly?).
    * The "new" snapshot derives deterministically from base (keyed
    * price bumps, keyed deletes, keyed inserts at a shifted key range)
    * so both engines reconstruct it bit-identically. Shape: ONE
    * co-partitioned full-outer join on the key — no row hashing pass,
    * no broadcast of either snapshot (both sides are table-sized at
    * 100 TB); values compare as exact DECIMAL. */
  private def tableDiff(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "orders")
      .select(col("o_orderkey").as("k"),
        col("o_totalprice").cast("decimal(18,2)").as("price"),
        col("o_orderstatus").as("status"))
    val bumped = base.withColumn("price",
      when(col("k") % 13 === 0, col("price") + lit(10).cast("decimal(18,2)"))
        .otherwise(col("price")))
    // inserts clone to the NEGATIVE key range (-k − 1): base keys are
    // non-negative at every scale, so synthetic ids can never collide
    // with a real one (a fixed positive offset would, past its size)
    val newSnap = bumped.filter(col("k") % 97 =!= 0)
      .unionByName(base.filter(col("k") % 101 === 0)
        .withColumn("k", -col("k") - lit(1L)))
    base.as("b").join(newSnap.as("n"), col("b.k") === col("n.k"), "full_outer")
      .select(coalesce(col("b.k"), col("n.k")).as("o_orderkey"),
        when(col("b.k").isNull, "added")
          .when(col("n.k").isNull, "removed")
          .when(col("b.price") =!= col("n.price") ||
            col("b.status") =!= col("n.status"), "changed")
          .otherwise("unchanged").as("change_type"),
        col("b.price").cast("double").as("old_price"),
        col("n.price").cast("double").as("new_price"))
      .filter(col("change_type") =!= "unchanged")
  }

  private val tableDiffSql =
    """WITH base AS (
      |  SELECT o_orderkey AS k, CAST(o_totalprice AS DECIMAL(18,2)) AS price,
      |    o_orderstatus AS status
      |  FROM orders),
      |bumped AS (
      |  SELECT k,
      |    CASE WHEN k % 13 = 0 THEN price + CAST(10 AS DECIMAL(18,2)) ELSE price END AS price,
      |    status
      |  FROM base),
      |news AS (
      |  SELECT * FROM bumped WHERE k % 97 <> 0
      |  UNION ALL
      |  SELECT -k - 1, price, status FROM base WHERE k % 101 = 0),
      |d AS (
      |  SELECT coalesce(b.k, n.k) AS o_orderkey,
      |    CASE WHEN b.k IS NULL THEN 'added'
      |         WHEN n.k IS NULL THEN 'removed'
      |         WHEN b.price <> n.price OR b.status <> n.status THEN 'changed'
      |         ELSE 'unchanged' END AS change_type,
      |    CAST(b.price AS DOUBLE) AS old_price,
      |    CAST(n.price AS DOUBLE) AS new_price
      |  FROM base b FULL OUTER JOIN news n ON b.k = n.k)
      |SELECT * FROM d WHERE change_type <> 'unchanged'""".stripMargin

  /** #89 fuzzy (edit-distance) join — the record-linkage match a survey
    * feeder runs against dirty respondent identifiers: probes are the
    * customer names with ONE deterministic digit substitution, matched
    * back at edit distance ≤ 1. Candidate generation is SINGLE-POSITION
    * WILDCARD BLOCKING (the deletion-neighborhood shape): equal-length
    * strings within 1 substitution agree exactly on some variant with
    * that one position masked, so candidates come from an EQUI-join on
    * (masked-position, masked-string). Half-split pigeonhole blocking —
    * the textbook alternative — DEGENERATES here: every c_name shares
    * the constant "Customer#..." prefix, so one half has a single
    * mega-block and the join goes quadratic (measured: 65 s vs 0.3 s at
    * sf0.1). Masking fans out L=18 variants per row instead, but every
    * block is tiny whatever the value distribution — skew-proof by
    * construction. The levenshtein verify runs once per distinct
    * candidate pair. */
  private def fuzzyJoin(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer").select(col("c_custkey"), col("c_name"))
    val probes = cust.filter(col("c_custkey") % 10 === 0)
      .withColumn("pos", (lit(10) + col("c_custkey") % 8).cast("int"))
      .select(col("c_custkey").as("probe_id"),
        concat(expr("substr(c_name, 1, pos - 1)"),
          ((expr("CAST(substr(c_name, pos, 1) AS INT)") + 1) % 10).cast("string"),
          expr("substr(c_name, pos + 1)")).as("probe_name"))
    def masked(df: DataFrame, name: String): DataFrame = df
      .select(col("*"), explode(expr(
        s"transform(sequence(1, length($name)), k -> struct(k AS h," +
          s" concat(substr($name, 1, k - 1), '*', substr($name, k + 1)) AS seg))")).as("b"))
      .select(df.columns.toSeq.map(col) :+ col("b.h").as("h") :+ col("b.seg").as("seg"): _*)
    masked(probes, "probe_name")
      .join(masked(cust, "c_name"), Seq("h", "seg"))
      .select("probe_id", "probe_name", "c_custkey", "c_name").distinct()
      .filter(levenshtein(col("probe_name"), col("c_name")) <= 1)
      .select(col("probe_id"), col("c_custkey").as("matched_key"),
        levenshtein(col("probe_name"), col("c_name")).cast("int").as("dist"))
  }

  private val fuzzyJoinSql =
    """WITH p0 AS (
      |  SELECT c_custkey, c_name,
      |    CAST(10 + c_custkey % 8 AS INT) AS pos
      |  FROM customer WHERE c_custkey % 10 = 0),
      |probes AS (
      |  SELECT c_custkey AS probe_id,
      |    substr(c_name, 1, pos - 1) ||
      |    CAST((CAST(substr(c_name, pos, 1) AS INT) + 1) % 10 AS VARCHAR) ||
      |    substr(c_name, pos + 1) AS probe_name
      |  FROM p0),
      |ph0 AS (
      |  SELECT probe_id, probe_name,
      |    CAST(unnest(range(1, length(probe_name) + 1)) AS INT) AS h
      |  FROM probes),
      |ph AS (
      |  SELECT probe_id, probe_name, h,
      |    substr(probe_name, 1, h - 1) || '*' || substr(probe_name, h + 1) AS seg
      |  FROM ph0),
      |bh0 AS (
      |  SELECT c_custkey, c_name,
      |    CAST(unnest(range(1, length(c_name) + 1)) AS INT) AS h
      |  FROM customer),
      |bh AS (
      |  SELECT c_custkey, c_name, h,
      |    substr(c_name, 1, h - 1) || '*' || substr(c_name, h + 1) AS seg
      |  FROM bh0),
      |cand AS (
      |  SELECT DISTINCT probe_id, probe_name, c_custkey, c_name
      |  FROM ph JOIN bh USING (h, seg))
      |SELECT probe_id, c_custkey AS matched_key,
      |  CAST(levenshtein(probe_name, c_name) AS INT) AS dist
      |FROM cand WHERE levenshtein(probe_name, c_name) <= 1""".stripMargin

  /** #102 schema-evolution read — the long-lived-pipeline reality that
    * a 100-TB table is written by MANY job versions: a v1 snapshot
    * (3 columns) and a v2 snapshot (adds o_totalprice) land as separate
    * parquet directories, and ONE `mergeSchema` read reconciles them —
    * v1 rows surface NULL for the added column, no rewrite of old data,
    * no reader fork. The aggregate proves the merged view: per status,
    * total rows vs rows carrying the new column. The oracle recomputes
    * from the source table directly (the fixtures derive from `orders`
    * deterministically), so the gate verifies the round-trip. Fixture
    * writes use the per-appId scratch contract (`scratchDir`). */
  private def schemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val evoDir = scratchDir(s, "graft_schema_")
    val orders = t(s, dir, "orders").withColumn("wave", col("o_orderkey") % 10)
    orders.filter(col("wave") < 5)
      .select("o_orderkey", "o_custkey", "o_orderstatus")
      .write.mode("overwrite").parquet(s"$evoDir/v1")
    orders.filter(col("wave") >= 5)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .write.mode("overwrite").parquet(s"$evoDir/v2")
    s.read.option("mergeSchema", "true").parquet(s"$evoDir/v1", s"$evoDir/v2")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        count(col("o_totalprice")).as("n_with_price"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total_price"))
  }

  private val schemaEvolutionSql =
    """SELECT o_orderstatus, count(*) AS n,
      |  CAST(sum(CASE WHEN o_orderkey % 10 >= 5 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_with_price,
      |  CAST(sum(CASE WHEN o_orderkey % 10 >= 5
      |        THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE)
      |    AS total_price
      |FROM orders GROUP BY 1""".stripMargin

  /** #103 footer-only statistics via parquet AGGREGATE PUSHDOWN — at
    * 100 TB, `count/min/max` over a table should read FOOTERS, not
    * data: with `spark.sql.parquet.aggregatePushdown` the scan node
    * becomes `PushedAggregation: [COUNT(*), MIN(...), ...]` and I/O
    * drops from O(data) to O(files). Ungrouped and unfiltered by
    * design — those are the pushdown's preconditions (a residual
    * filter or GROUP BY forces the ordinary scan). The monitoring
    * "table heartbeat" every load cycle starts with. */
  private def statsPushdown(s: SparkSession, dir: String): DataFrame = {
    // aggregate pushdown lives in the V2 parquet reader, and parquet sits
    // on the V1 list by default — flip both on an ISOLATED session clone
    // (shared SparkContext, private conf) so no other query's plan shape
    // changes under it
    val iso = s.newSession()
    iso.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    iso.conf.set("spark.sql.sources.useV1SourceList", "")
    t(iso, dir, "orders")
      .agg(count(lit(1)).as("n"),
        min("o_totalprice").as("min_price"), max("o_totalprice").as("max_price"),
        min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"))
  }

  private val statsPushdownSql =
    """SELECT count(*) AS n,
      |  min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
      |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
      |FROM orders""".stripMargin

  /** #104 partition-pruned scan — the layout contract `WriteLayout`
    * writes for: the table lands partitioned by wave
    * (`partitionBy`), and a wave-filtered read touches ONLY that
    * wave's directory (plan shows `PartitionFilters`, zero data files
    * from other waves opened). At 100 TB this is the difference
    * between scanning 1/10th and scanning everything — pruning
    * happens at PLANNING time from directory names, before any I/O.
    * Fixture writes use the per-appId scratch contract. */
  private def partitionedScan(s: SparkSession, dir: String): DataFrame = {
    val scanDir = scratchDir(s, "graft_part_")
    t(s, dir, "orders").withColumn("wave", col("o_orderkey") % 10)
      .write.mode("overwrite").partitionBy("wave").parquet(scanDir.getAbsolutePath)
    s.read.parquet(scanDir.getAbsolutePath)
      .filter(col("wave") === 3)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total_price"))
  }

  private val partitionedScanSql =
    """SELECT o_orderstatus, count(*) AS n,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      |FROM orders WHERE o_orderkey % 10 = 3
      |GROUP BY 1""".stripMargin

  /** #105 CUBE aggregation — the full grouping lattice (status ×
    * priority, both rollups, grand total) in ONE pass: Spark expands
    * grouping sets map-side (each row feeds its 4 lattice cells) into
    * a single hash aggregate — four separate GROUP BYs would scan four
    * times. NULL in a group column marks the subtotal level (neither
    * source column is nullable, so the marker is unambiguous); the
    * sibling q_rollup_agg covers the hierarchical subset. */
  private def cubeAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total_price"))

  private val cubeAggSql =
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin

  /** #111 equi-depth histogram — B buckets with (near-)equal ROW counts
    * over `o_totalprice` (the complement of q_histogram's equi-WIDTH
    * bins; equi-depth is what query optimizers and drift monitors want
    * on skewed money-like columns where fixed-width bins leave most
    * cells empty). The global row rank comes from the distributed
    * two-phase prefix scan (`PrefixSum.withGlobalRank`: range-partition
    * + O(partitions) driver offsets + map-side counter — NEVER the
    * single-reducer `row_number() OVER (ORDER BY …)` window), then
    * `bucket = (rank−1)·B div n` is a map-only projection and the
    * per-bucket digest is one hash aggregate. The (value, key) composite
    * order key makes ranks — and so bucket edges — fully deterministic
    * under ties. */
  private def equidepthHist(s: SparkSession, dir: String): DataFrame = {
    val buckets = 8
    val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
    val ranked = PrefixSum.withGlobalRank(o, Seq("o_totalprice", "o_orderkey"), "__r")
    val n = ranked.agg(max("__r").as("__n"))
    ranked.crossJoin(broadcast(n))
      .withColumn("bucket", expr(s"((__r - 1) * $buckets) div __n"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("cnt"),
        min("o_totalprice").as("lo"), max("o_totalprice").as("hi"))
  }

  private val equidepthHistSql =
    """WITH r AS (
      |  SELECT o_totalprice,
      |    row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rk
      |  FROM orders),
      |n AS (SELECT count(*) AS n FROM orders)
      |SELECT CAST((rk - 1) * 8 // n AS BIGINT) AS bucket,
      |  count(*) AS cnt, min(o_totalprice) AS lo, max(o_totalprice) AS hi
      |FROM r CROSS JOIN n GROUP BY 1""".stripMargin

  /** #116 referential-integrity audit — the post-load validation a
    * feeder pipeline runs before publishing: for each FK edge, how many
    * fact rows reference a missing dimension key? The scenario is the
    * 100-TB reality of LATE-ARRIVING DIMENSIONS: the audit runs against
    * a dim snapshot that is deterministically missing every 97th
    * customer (a dim batch that hasn't landed), so orphans provably
    * exist and the gate is non-vacuous. Each edge is one left-anti
    * shape — expressed as a broadcast-dim join where the dim is the
    * small side (customer, nation) and a co-partitioned shuffle join
    * fact-to-fact (lineitem → orders); counts fold in the same job.
    * Output: one row per edge (n_rows, n_orphans, ok). */
  private def fkIntegrity(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val lineitem = t(s, dir, "lineitem")
    val customer = t(s, dir, "customer").filter(col("c_custkey") % 97 =!= 0)
    val nation = t(s, dir, "nation")
    def edge(name: String, fact: DataFrame, fkCol: String,
             dim: DataFrame, pkCol: String, broadcastDim: Boolean): DataFrame = {
      val d = dim.select(col(pkCol).as("__pk")).distinct()
      val side = if (broadcastDim) broadcast(d) else d
      fact.select(col(fkCol).as("__fk"))
        .join(side, col("__fk") === col("__pk"), "left")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("__pk").isNull, 1L).otherwise(0L)).as("n_orphans"))
        .select(lit(name).as("edge"), col("n_rows"), col("n_orphans"),
          (col("n_orphans") === 0L).as("ok"))
    }
    edge("orders->customer", orders, "o_custkey", customer, "c_custkey", broadcastDim = true)
      .unionAll(edge("lineitem->orders", lineitem, "l_orderkey", orders, "o_orderkey",
        broadcastDim = false))
      .unionAll(edge("customer->nation", customer, "c_nationkey", nation, "n_nationkey",
        broadcastDim = true))
  }

  private val fkIntegritySql =
    """WITH cust AS (SELECT * FROM customer WHERE c_custkey % 97 <> 0),
      |e1 AS (
      |  SELECT 'orders->customer' AS edge, count(*) AS n_rows,
      |    CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
      |  FROM orders o LEFT JOIN cust c ON o.o_custkey = c.c_custkey),
      |e2 AS (
      |  SELECT 'lineitem->orders' AS edge, count(*) AS n_rows,
      |    CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
      |  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey),
      |e3 AS (
      |  SELECT 'customer->nation' AS edge, count(*) AS n_rows,
      |    CAST(sum(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
      |  FROM cust c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey)
      |SELECT edge, n_rows, n_orphans, n_orphans = 0 AS ok
      |FROM (SELECT * FROM e1 UNION ALL SELECT * FROM e2 UNION ALL SELECT * FROM e3)""".stripMargin

  /** #118 Z-order (Morton) layout — multi-dimension data skipping: a
    * single interleaved-bit sort key clusters BOTH o_custkey and order
    * date, so file-level min/max stats prune scans filtered on EITHER
    * dimension (a linear sort clusters one and scatters the other —
    * ZorderSpec measures the contrast). The interleave is pure map-side
    * bit arithmetic (codegen'd shifts, engine-portable); the output
    * digests per 4096-cell Morton bucket — the file-grain a
    * `repartitionByRange(morton)` + `maxRecordsPerFile` write would
    * produce — with per-bucket ranges of both dimensions. Pairs with
    * q_write_layout (size-bounded files) and q_partitioned_scan
    * (directory pruning) as the third leg of the layout story. */
  private def zorder(s: SparkSession, dir: String): DataFrame = {
    val bits = 10
    val o = t(s, dir, "orders")
      .withColumn("__x", pmod(col("o_custkey"), lit(1024L)))
      .withColumn("__y",
        pmod(datediff(col("o_orderdate"), to_date(lit("1992-01-01"))).cast("long"),
          lit(1024L)))
    val morton = (0 until bits).map { i =>
      (shiftleft(shiftright(col("__x"), i).bitwiseAND(1L), 2 * i) +
        shiftleft(shiftright(col("__y"), i).bitwiseAND(1L), 2 * i + 1)): Column
    }.reduce(_ + _)
    o.withColumn("__m", morton)
      .groupBy((col("__m") / 4096L).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"),
        min("__x").as("x_lo"), max("__x").as("x_hi"),
        min("__y").as("y_lo"), max("__y").as("y_hi"))
  }

  private val zorderSql = {
    val bits = 10
    val morton = (0 until bits).map { i =>
      s"(((x >> $i) & 1) << ${2 * i}) + (((y >> $i) & 1) << ${2 * i + 1})"
    }.mkString(" + ")
    s"""WITH b AS (
       |  SELECT o_custkey % 1024 AS x,
       |    CAST(date_diff('day', DATE '1992-01-01', o_orderdate) AS BIGINT) % 1024 AS y
       |  FROM orders),
       |m AS (SELECT x, y, $morton AS m FROM b)
       |SELECT CAST(m // 4096 AS BIGINT) AS bucket, count(*) AS n,
       |  min(x) AS x_lo, max(x) AS x_hi, min(y) AS y_lo, max(y) AS y_hi
       |FROM m GROUP BY 1""".stripMargin
  }

  /** #119 HLL sketch store-and-merge — the mergeable-distinct contract
    * q_approx_distinct (one-shot estimate) and q_incremental_agg
    * (algebraic counters) both stop short of: per-wave Datasketches HLL
    * sketches materialize as BINARY columns (storeable to parquet like
    * any other state), and `hll_union_agg` over the stored sketches
    * reaches the global estimate WITHOUT rescanning history — the
    * incremental distinct-users-ever at 100 TB. The audit row pins
    * (a) merge consistency: union-of-wave-sketches estimate within 3%
    * of the whole-table sketch estimate (two ~1.6%-σ estimates whose
    * partial-merge trees differ — a 1% bound was luck-of-the-plan: the
    * r13 ObjectHashAggregate-fallback change shifted the partial
    * boundaries and pushed a borderline 1.07% diff over it; the direct
    * sketch is also aggregated APART from countDistinct, whose Expand
    * rewrite otherwise reroutes the sketch's input stream), and
    * (b) the union estimate within 5% of exact — both flags replayed as
    * pinned TRUE by the oracle (the q_approx_distinct pattern), the raw
    * estimates spec-bounded in SketchUnionSpec. */
  private def hllUnion(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val waves = orders.withColumn("wave", col("o_orderkey") % 10)
      .groupBy("wave").agg(hll_sketch_agg(col("o_custkey")).as("__sk"))
    val union = waves.agg(count(lit(1)).as("n_waves"),
      hll_sketch_estimate(hll_union_agg(col("__sk"))).as("__est_union"))
    val direct = orders.agg(
      hll_sketch_estimate(hll_sketch_agg(col("o_custkey"))).as("__est_direct"))
    val exact = orders.agg(
      countDistinct(col("o_custkey")).as("exact_customers"))
    union.crossJoin(broadcast(direct)).crossJoin(broadcast(exact))
      .select(col("n_waves"), col("exact_customers"),
        (abs(col("__est_union") - col("__est_direct")) /
          col("exact_customers").cast("double") <= 0.03).as("merge_consistent"),
        (abs(col("__est_union") - col("exact_customers")).cast("double") /
          col("exact_customers").cast("double") <= 0.05).as("union_ok"))
  }

  private val hllUnionSql =
    """SELECT CAST(count(DISTINCT o_orderkey % 10) AS BIGINT) AS n_waves,
      |  count(DISTINCT o_custkey) AS exact_customers,
      |  TRUE AS merge_consistent, TRUE AS union_ok
      |FROM orders""".stripMargin

  /** #123 UNPIVOT (melt) — wide metrics to long (metric, value) rows,
    * the inverse of q_pivot_status: `Dataset.unpivot` plans a map-side
    * `Expand` (each input row fans out to one row per value column) —
    * NO shuffle, no join, schema-driven. The long form is what metric
    * stores and drift monitors ingest; at 100 TB the zero-shuffle
    * property is the whole point (melting is free, pivoting costs an
    * aggregate). Oracle is the portable UNION ALL formulation. */
  private def unpivotMetrics(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(col("o_orderkey"),
        col("o_totalprice").cast("double").as("o_totalprice"),
        col("o_custkey").cast("double").as("o_custkey"))
      .unpivot(Array(col("o_orderkey")),
        Array(col("o_totalprice"), col("o_custkey")),
        "metric", "value")

  private val unpivotMetricsSql =
    """SELECT o_orderkey, 'o_totalprice' AS metric,
      |  CAST(o_totalprice AS DOUBLE) AS value FROM orders
      |UNION ALL
      |SELECT o_orderkey, 'o_custkey' AS metric,
      |  CAST(o_custkey AS DOUBLE) AS value FROM orders""".stripMargin

  /** #124 JSONL ingestion with corrupt-record routing — the reference's
    * JSON-API ingestion (feeder.py:22-47 pulls JSON pages) upgraded to
    * schema-on-read at scale: a JSONL fixture derived from `orders`
    * (with every 101st line deterministically truncated mid-object)
    * reads back under an EXPLICIT schema in PERMISSIVE mode, malformed
    * lines routing to `_corrupt_record` instead of failing the batch —
    * the source-level complement of q_dead_letter's semantic
    * validation. The aggregate proves the round-trip: per-status counts
    * with corrupt lines surfacing as their own `_corrupt` bucket,
    * recomputed by the oracle from the source table. Fixture writes use
    * the per-appId scratch contract (`scratchDir`). */
  private def jsonlIngest(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val jlDir = scratchDir(s, "graft_jsonl_")
    t(s, dir, "orders")
      .select(when(col("o_orderkey") % 101 === 0, lit("{\"o_orderkey\":"))
        .otherwise(to_json(struct(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice")))).as("value"))
      .write.mode("overwrite").text(jlDir.getAbsolutePath)
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType),
      StructField("_corrupt_record", StringType)))
    s.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(jlDir.getAbsolutePath)
      .groupBy(when(col("_corrupt_record").isNotNull, lit("_corrupt"))
        .otherwise(col("o_orderstatus")).as("status"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total_price"))
  }

  private val jsonlIngestSql =
    """SELECT CASE WHEN o_orderkey % 101 = 0 THEN '_corrupt'
      |            ELSE o_orderstatus END AS status,
      |  count(*) AS n,
      |  CAST(sum(CASE WHEN o_orderkey % 101 <> 0
      |        THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS total_price
      |FROM orders GROUP BY 1""".stripMargin

  /** #128 GROUPING SETS — the arbitrary-lattice member of the
    * grouping family (q_rollup_agg = hierarchy, q_cube = full lattice):
    * exactly the three requested cells ((status, priority), (status),
    * ()) expand map-side in ONE pass + one hash aggregate — vs three
    * separate scans; `grouping_id()` disambiguates the NULL-as-total
    * rows exactly as DuckDB's GROUPING_ID() does. */
  private def groupingSets(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupingSets(
        Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
          Seq(col("o_orderstatus")), Seq()),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"),
        grouping_id().cast("long").as("gid"))

  private val groupingSetsSql =
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
      |  CAST(GROUPING_ID(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())""".stripMargin

  /** #130 SCD2 point-in-time lookup — the READ side of q_upsert_scd2's
    * history build: each fact row joins the dimension VERSION valid at
    * its event date. The 100-TB shape is the whole point: an equi-join
    * on the dimension KEY (co-partitioned, AQE-planned) with the
    * validity range as a cheap residual predicate — never a range-only
    * join (which plans as a nested-loop product). Each key carries O(1)
    * versions, so the residual prunes within a tiny co-located group.
    * Validity windows are chosen inside the fact table's date span so
    * BOTH versions provably serve lookups. */
  private def scd2Lookup(s: SparkSession, dir: String): DataFrame = {
    val cut = "1995-06-01"
    val cust = t(s, dir, "customer")
    val changed = col("c_custkey") % 10 === 0
    val dim = cust.select(col("c_custkey"), col("c_acctbal"),
        lit("1992-01-01").as("valid_from"),
        when(changed, lit(cut)).otherwise(lit(null).cast("string")).as("valid_to"))
      .unionAll(cust.filter(changed)
        .select(col("c_custkey"), (col("c_acctbal") + 500.0).as("c_acctbal"),
          lit(cut).as("valid_from"), lit(null).cast("string").as("valid_to")))
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("__d"))
      .join(dim, col("o_custkey") === col("c_custkey") &&
        col("__d") >= col("valid_from") &&
        (col("valid_to").isNull || col("__d") < col("valid_to")))
      .select(col("o_orderkey"), col("o_custkey"),
        col("c_acctbal").as("acctbal_at_order"))
  }

  private val scd2LookupSql =
    """WITH dim AS (
      |  SELECT c_custkey, c_acctbal, '1992-01-01' AS valid_from,
      |    CASE WHEN c_custkey % 10 = 0 THEN '1995-06-01' END AS valid_to
      |  FROM customer
      |  UNION ALL
      |  SELECT c_custkey, c_acctbal + 500.0, '1995-06-01', NULL
      |  FROM customer WHERE c_custkey % 10 = 0)
      |SELECT o.o_orderkey, o.o_custkey, d.c_acctbal AS acctbal_at_order
      |FROM orders o JOIN dim d
      |  ON o.o_custkey = d.c_custkey
      | AND strftime(o.o_orderdate, '%Y-%m-%d') >= d.valid_from
      | AND (d.valid_to IS NULL OR strftime(o.o_orderdate, '%Y-%m-%d') < d.valid_to)""".stripMargin

  /** #132 bitmap membership index — bit-packed set representation for
    * fast predicate combination (the bitmap-join-index idea): per
    * (predicate, 63-key block) one BIGINT word ORs the member bits
    * (63-bit blocks keep the sign bit out of play on every engine), so
    * a block-aligned equi-join + bitwise AND answers conjunctions
    * without rescanning the fact table. Self-auditing: popcounts of
    * each bitmap and of the ANDed intersection are checked against
    * direct COUNT(*)s in the same output row. ~64× compression of the
    * membership set; words merge with OR, so bitmaps build
    * incrementally per batch. */
  private def bitmapIndex(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    def bits(pred: Column) = o.filter(pred)
      .groupBy((col("o_orderkey") / 63L).cast("long").as("__blk"))
      .agg(bit_or(expr("shiftleft(1L, CAST(pmod(o_orderkey, 63) AS INT))"))
        .as("__w"))
    // persisted: each ~64×-compressed bitmap is read by its own popcount
    // AND the conjunction join — without this the fact scan runs 4×
    val a = bits(col("o_orderstatus") === "F").persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val b = bits(col("o_orderpriority") === "1-URGENT").persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val popA = a.agg(sum(bit_count(col("__w")).cast("long")).as("c")).select(
      lit("status_F").as("tag"), col("c"))
    val popB = b.agg(sum(bit_count(col("__w")).cast("long")).as("c")).select(
      lit("prio_urgent").as("tag"), col("c"))
    val popAnd = a.join(b, Seq("__blk"))
      .select(a("__w").bitwiseAND(b("__w")).as("__and"))
      .agg(coalesce(sum(bit_count(col("__and")).cast("long")), lit(0L)).as("c"))
      .select(lit("status_F AND prio_urgent").as("tag"), col("c"))
    val direct = o.agg(
      sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("dA"),
      sum(when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)).as("dB"),
      sum(when(col("o_orderstatus") === "F" && col("o_orderpriority") === "1-URGENT",
        1L).otherwise(0L)).as("dAnd"))
    popA.unionAll(popB).unionAll(popAnd)
      .crossJoin(broadcast(direct))
      .select(col("tag"), col("c").as("bitmap_count"),
        when(col("tag") === "status_F", col("dA"))
          .when(col("tag") === "prio_urgent", col("dB"))
          .otherwise(col("dAnd")).as("direct_count"))
      .withColumn("consistent", col("bitmap_count") === col("direct_count"))
  }

  private val bitmapIndexSql =
    """WITH a AS (
      |  SELECT o_orderkey // 63 AS blk,
      |    bit_or(CAST(1 AS BIGINT) << CAST(o_orderkey % 63 AS INT)) AS w
      |  FROM orders WHERE o_orderstatus = 'F' GROUP BY 1),
      |b AS (
      |  SELECT o_orderkey // 63 AS blk,
      |    bit_or(CAST(1 AS BIGINT) << CAST(o_orderkey % 63 AS INT)) AS w
      |  FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY 1),
      |direct AS (
      |  SELECT
      |    CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS da,
      |    CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS db,
      |    CAST(sum(CASE WHEN o_orderstatus = 'F' AND o_orderpriority = '1-URGENT'
      |         THEN 1 ELSE 0 END) AS BIGINT) AS dand
      |  FROM orders),
      |pops AS (
      |  SELECT 'status_F' AS tag, CAST(sum(bit_count(w)) AS BIGINT) AS bitmap_count FROM a
      |  UNION ALL
      |  SELECT 'prio_urgent', CAST(sum(bit_count(w)) AS BIGINT) FROM b
      |  UNION ALL
      |  SELECT 'status_F AND prio_urgent',
      |    CAST(coalesce(sum(bit_count(a.w & b.w)), 0) AS BIGINT)
      |  FROM a JOIN b ON a.blk = b.blk)
      |SELECT p.tag, p.bitmap_count,
      |  CASE p.tag WHEN 'status_F' THEN d.da
      |             WHEN 'prio_urgent' THEN d.db
      |             ELSE d.dand END AS direct_count,
      |  p.bitmap_count = CASE p.tag WHEN 'status_F' THEN d.da
      |                              WHEN 'prio_urgent' THEN d.db
      |                              ELSE d.dand END AS consistent
      |FROM pops p CROSS JOIN direct d""".stripMargin

  /** #144 Benford first-digit audit of order totals — the
    * fabricated-data smell test (synthetic or hand-keyed financial
    * values drift from log-uniform leading digits). First digits come
    * from exact integer/string ops (floor → BIGINT → first char — no
    * log10 on the data path), ONE 9-row aggregate; expected shares are
    * 6dp literal constants CAST to double IDENTICALLY on both engines
    * (computing log10(1+1/d) live would race libm ulp differences
    * through the hash gate). The digit table is persisted (feeds its
    * own total + the final projection). */
  private def benford(s: SparkSession, dir: String): DataFrame = {
    val expShare = expr("""CAST(CASE digit
      WHEN 1 THEN 0.301030 WHEN 2 THEN 0.176091 WHEN 3 THEN 0.124939
      WHEN 4 THEN 0.096910 WHEN 5 THEN 0.079181 WHEN 6 THEN 0.066947
      WHEN 7 THEN 0.057992 WHEN 8 THEN 0.051153 ELSE 0.045757 END AS DOUBLE)""")
    val digits = t(s, dir, "orders")
      .filter(col("o_totalprice") >= 1.0)
      .select(substring(floor(col("o_totalprice")).cast("long").cast("string"), 1, 1)
        .cast("long").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tot = digits.agg(sum("n").as("__tot"))
    digits.crossJoin(broadcast(tot))
      .select(col("digit"), col("n"),
        round(col("n").cast("double") / col("__tot").cast("double"), 6).as("obs_share"),
        round(expShare, 6).as("exp_share"),
        round(col("n").cast("double") / col("__tot").cast("double") - expShare, 6)
          .as("excess"))
  }

  private val benfordSql =
    """WITH d AS (
      |  SELECT CAST(left(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1) AS BIGINT) AS digit
      |  FROM orders WHERE o_totalprice >= 1.0),
      |g AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1),
      |t AS (SELECT sum(n) AS tot FROM g),
      |e AS (SELECT g.digit, g.n,
      |        CAST(CASE g.digit
      |          WHEN 1 THEN 0.301030 WHEN 2 THEN 0.176091 WHEN 3 THEN 0.124939
      |          WHEN 4 THEN 0.096910 WHEN 5 THEN 0.079181 WHEN 6 THEN 0.066947
      |          WHEN 7 THEN 0.057992 WHEN 8 THEN 0.051153 ELSE 0.045757 END AS DOUBLE) AS exp_d,
      |        CAST(g.n AS DOUBLE) / CAST(t.tot AS DOUBLE) AS obs_d
      |      FROM g, t)
      |SELECT digit, n, round(obs_d, 6) AS obs_share, round(exp_d, 6) AS exp_share,
      |  round(obs_d - exp_d, 6) AS excess
      |FROM e""".stripMargin

  /** #155 RFM customer segmentation (recency / frequency / monetary) —
    * the classic lifecycle-marketing cut of the order fact. Each metric
    * is scored 1-5 by EXACT INTEGER rank banding (score = 1 +
    * ⌊5·(rank−1)/n⌋) over `PrefixSum.withGlobalRank` — the two-phase
    * distributed rank scan, never a single-reducer `row_number()`
    * window, and never quantile interpolation (whose last-ulp doubles
    * can flip a boundary customer between engines; integer ranks
    * cannot). Rank keys append the customer id so ties are total and
    * placement-independent. The customer dimension is orders-of-
    * magnitude smaller than the fact it summarizes, so three rank
    * scans over it are cheap at any scale; segments fold to exact
    * integer sums. */
  private def rfm(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val gmax = o.agg(max(col("o_orderdate")).as("gmax"))
    val cust = o.groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("cmax"),
        count(lit(1)).as("freq"),
        sum((col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
          .as("cents"))
      .crossJoin(broadcast(gmax))
      .select(col("o_custkey"),
        datediff(col("gmax"), col("cmax")).cast("long").as("rec_days"),
        col("freq"), col("cents"))
      // persisted: the three rank scans below each re-walk their whole
      // lineage (two passes each) — without this the orders groupBy
      // recomputes six times
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = cust.agg(count(lit(1)).as("n"))
    // rank 1 = most stale / fewest orders / lowest spend → score 1
    val r = PrefixSum.withGlobalRank(
      cust.withColumn("__neg", -col("rec_days")),
      Seq("__neg", "o_custkey"), "r_rank").drop("__neg")
    val f = PrefixSum.withGlobalRank(r, Seq("freq", "o_custkey"), "f_rank")
    val m = PrefixSum.withGlobalRank(f, Seq("cents", "o_custkey"), "m_rank")
    def band(rankCol: String): Column =
      (lit(1) + expr(s"(($rankCol - 1) * 5) div n")).cast("int")
    m.crossJoin(broadcast(n))
      .select(col("o_custkey"), col("rec_days"), col("cents"),
        band("r_rank").as("r_score"),
        band("f_rank").as("f_score"),
        band("m_rank").as("m_score"))
      .withColumn("segment",
        when(col("r_score") >= 4 && col("f_score") >= 4 && col("m_score") >= 4,
          "champion")
          .when(col("r_score") <= 2 && col("f_score") >= 4, "at_risk_loyal")
          .when(col("m_score") === 5, "big_spender")
          .when(col("r_score") >= 4, "recent")
          .when(col("r_score") <= 2, "dormant")
          .otherwise("mid"))
      .groupBy("segment")
      .agg(count(lit(1)).as("n_customers"),
        sum(col("cents")).as("sum_cents"),
        sum(col("rec_days")).as("sum_rec_days"))
  }

  private val rfmSql =
    """WITH g AS (SELECT max(o_orderdate) AS gmax FROM orders),
      |c AS (
      |  SELECT o_custkey,
      |    CAST(date_diff('day', max(o_orderdate), (SELECT gmax FROM g)) AS BIGINT)
      |      AS rec_days,
      |    CAST(count(*) AS BIGINT) AS freq,
      |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
      |         AS BIGINT) AS cents
      |  FROM orders GROUP BY 1),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM c),
      |r AS (
      |  SELECT o_custkey, rec_days, cents,
      |    row_number() OVER (ORDER BY -rec_days, o_custkey) AS r_rank,
      |    row_number() OVER (ORDER BY freq, o_custkey) AS f_rank,
      |    row_number() OVER (ORDER BY cents, o_custkey) AS m_rank
      |  FROM c),
      |sc AS (
      |  SELECT o_custkey, rec_days, cents,
      |    CAST(1 + (CAST(r_rank - 1 AS HUGEINT) * 5) // (SELECT n FROM n) AS INT)
      |      AS r_score,
      |    CAST(1 + (CAST(f_rank - 1 AS HUGEINT) * 5) // (SELECT n FROM n) AS INT)
      |      AS f_score,
      |    CAST(1 + (CAST(m_rank - 1 AS HUGEINT) * 5) // (SELECT n FROM n) AS INT)
      |      AS m_score
      |  FROM r)
      |SELECT CASE
      |    WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4 THEN 'champion'
      |    WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk_loyal'
      |    WHEN m_score = 5 THEN 'big_spender'
      |    WHEN r_score >= 4 THEN 'recent'
      |    WHEN r_score <= 2 THEN 'dormant'
      |    ELSE 'mid' END AS segment,
      |  CAST(count(*) AS BIGINT) AS n_customers,
      |  CAST(sum(cents) AS BIGINT) AS sum_cents,
      |  CAST(sum(rec_days) AS BIGINT) AS sum_rec_days
      |FROM sc GROUP BY 1""".stripMargin

  /** #156 ORC round-trip with predicate pushdown — format breadth for
    * the interchange reality that a 100-TB lakehouse rarely speaks one
    * format: a curated slice lands as ORC (Spark's built-in second
    * columnar format), is read back through the ORC reader with the
    * filter PUSHED to the scan (the spec asserts `PushedFilters`; ORC
    * row-group statistics skip non-matching stripes exactly like
    * parquet row groups), and the aggregate proves the round-trip
    * byte-for-byte. The oracle recomputes from the SOURCE table — the
    * gate verifies write→read fidelity, not a replay of the same scan.
    * Fixture writes use the per-appId scratch contract
    * (`scratchDir`). */
  private def orcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val orcDir = scratchDir(s, "graft_orc_")
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), year(col("o_orderdate")).as("yr"))
      .write.mode("overwrite").orc(orcDir.getAbsolutePath)
    s.read.orc(orcDir.getAbsolutePath)
      .filter(col("o_totalprice") > 150000.0)
      .groupBy("o_orderstatus", "yr")
      .agg(count(lit(1)).as("n"),
        sum((col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
          .as("sum_cents"))
  }

  private val orcRoundtripSql =
    """SELECT o_orderstatus, CAST(year(o_orderdate) AS INT) AS yr,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
      |       AS BIGINT) AS sum_cents
      |FROM orders WHERE o_totalprice > 150000.0
      |GROUP BY 1, 2""".stripMargin

  /** #164 raking (iterative proportional fitting) — the survey
    * post-stratification weighting at the heart of CATI analytics
    * (reference: the feeder's wave/questionnaire domain,
    * feeder.py:16-259): fit per-cell weights so the weighted customer
    * sample reproduces the ORDER-volume margins over nation ×
    * market segment. Determinism is absolute: weights live in ppm
    * FIXED POINT, each half-step rescales by the exact integer
    * rational (margin·1e6/weighted-sum) with round-half-up expressed
    * as `(2·num + den) div (2·den)` — no floating point anywhere in
    * the iteration, so both engines walk the identical integer state
    * through all 5 double-steps (oracle: unrolled MATERIALIZED CTEs).
    * Scale shape: the fact collapses DISTRIBUTED to O(cells) rows and
    * O(dims) margins — both bounded by the DIMENSION cardinalities
    * (nations × segments), not the data — then the IPF loop runs on
    * the driver over exact BigInt state (the k-means-centroid
    * pattern: iterating 10 half-steps as Spark jobs over a 125-row
    * frame is pure scheduler overhead at any scale; the fact is
    * touched exactly twice, here and in the margins). */
  private def raking(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
    val ord = t(s, dir, "orders")
    // both margins from ONE distributed pass: orders⋈customer collapsed
    // to O(cells) rows; row/column sums folded on the driver
    val ocCells: Array[(Long, String, BigInt)] = ord
      .join(cust.select(col("c_custkey"), col("c_nationkey"),
        col("c_mktsegment")), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nk"), col("c_mktsegment").as("seg"))
      .agg(count(lit(1)).as("cnt")).collect()
      .map(r => (r.getAs[Number]("nk").longValue, r.getString(1),
        BigInt(r.getLong(2))))
    val rt: Map[Long, BigInt] =
      ocCells.groupBy(_._1).map { case (k, xs) => k -> xs.map(_._3).sum }
    val ct: Map[String, BigInt] =
      ocCells.groupBy(_._2).map { case (k, xs) => k -> xs.map(_._3).sum }
    // driver-side IPF over the collected cell table; a cell whose
    // nation (resp. segment) has no orders drops at its first
    // half-step, AFTER contributing to that step's weighted sum —
    // textually faithful to the unrolled oracle's inner joins
    var state: Seq[(Long, String, Long, BigInt)] =
      cust.groupBy(col("c_nationkey").as("nk"), col("c_mktsegment").as("seg"))
        .agg(count(lit(1)).as("n")).collect()
        .map(r => (r.getAs[Number]("nk").longValue, r.getString(1),
          r.getLong(2), BigInt(1000000))).toSeq
    for (_ <- 1 to 5) {
      val rs = state.groupBy(_._1).map { case (k, xs) =>
        k -> xs.map(x => BigInt(x._3) * x._4).sum }
      state = state.flatMap { case (nk, seg, n, w) =>
        rt.get(nk).map(r => (nk, seg, n,
          (2 * w * r * 1000000 + rs(nk)) / (2 * rs(nk))))
      }
      val cs = state.groupBy(_._2).map { case (k, xs) =>
        k -> xs.map(x => BigInt(x._3) * x._4).sum }
      state = state.flatMap { case (nk, seg, n, w) =>
        ct.get(seg).map(c => (nk, seg, n,
          (2 * w * c * 1000000 + cs(seg)) / (2 * cs(seg))))
      }
    }
    import s.implicits._
    state.map { case (nk, seg, n, w) => (nk, seg, n, w.toLong) }
      .toDF("nk", "seg", "n", "w")
      .select(col("nk").as("nationkey"), col("seg").as("segment"),
        col("n").as("n_cust"), col("w").as("w_ppm"),
        round(expr("CAST(n AS DECIMAL(38,0)) * w") / 1e6, 6).as("weighted_cust"))
  }

  private val rakingSql: String = {
    val base =
      """WITH cells0 AS MATERIALIZED (
        |  SELECT c_nationkey AS nk, c_mktsegment AS seg,
        |    CAST(count(*) AS BIGINT) AS n, CAST(1000000 AS BIGINT) AS w
        |  FROM customer GROUP BY 1, 2),
        |oc AS MATERIALIZED (
        |  SELECT c_nationkey AS nk, c_mktsegment AS seg
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |rt AS MATERIALIZED (SELECT nk, CAST(count(*) AS BIGINT) AS rt FROM oc GROUP BY 1),
        |ct AS MATERIALIZED (SELECT seg, CAST(count(*) AS BIGINT) AS ct FROM oc GROUP BY 1)"""
        .stripMargin
    val rounds = (1 to 5).map { i =>
      val (prev, ri, ci) = (if (i == 1) "cells0" else s"cells${i - 1}", s"r$i", s"cells$i")
      s"""$ri AS MATERIALIZED (
         |  SELECT p.nk, p.seg, p.n,
         |    CAST((2 * CAST(p.w AS HUGEINT) * rt.rt * 1000000 + rs.rs)
         |         // (2 * CAST(rs.rs AS HUGEINT)) AS BIGINT) AS w
         |  FROM $prev p
         |  JOIN (SELECT nk, sum(CAST(n AS HUGEINT) * w) AS rs FROM $prev GROUP BY 1) rs
         |    ON rs.nk = p.nk
         |  JOIN rt ON rt.nk = p.nk),
         |$ci AS MATERIALIZED (
         |  SELECT p.nk, p.seg, p.n,
         |    CAST((2 * CAST(p.w AS HUGEINT) * ct.ct * 1000000 + cs.cs)
         |         // (2 * CAST(cs.cs AS HUGEINT)) AS BIGINT) AS w
         |  FROM $ri p
         |  JOIN (SELECT seg, sum(CAST(n AS HUGEINT) * w) AS cs FROM $ri GROUP BY 1) cs
         |    ON cs.seg = p.seg
         |  JOIN ct ON ct.seg = p.seg)""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$rounds
       |SELECT CAST(nk AS BIGINT) AS nationkey, seg AS segment, n AS n_cust,
       |  w AS w_ppm, round(CAST(CAST(n AS HUGEINT) * w AS DOUBLE) / 1e6, 6)
       |    AS weighted_cust
       |FROM cells5""".stripMargin
  }

  /** #171 CSV round-trip ingestion — the last mainstream interchange
    * format (parquet, ORC, zipped-CSV/XLSX, JSONL are ops 1/156/3/124):
    * a curated slice lands as HEADERED CSV (deterministic formatting:
    * totalprice serialized as exact integer cents so no float-text
    * round-trip ambiguity exists), reads back through Spark's CSV
    * reader with an EXPLICIT schema (no inference pass — at 100 TB
    * schema inference is a full extra scan), and the aggregate proves
    * the round-trip. Oracle recomputes from the SOURCE table. Fixture
    * writes use the per-appId scratch contract. */
  private def csvIngest(s: SparkSession, dir: String): DataFrame = {
    val csvDir = scratchDir(s, "graft_csv_")
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("d"))
      .write.mode("overwrite").option("header", "true")
      .csv(csvDir.getAbsolutePath)
    s.read.schema("o_orderkey LONG, o_custkey LONG, o_orderstatus STRING, " +
        "cents LONG, d STRING")
      .option("header", "true")
      .csv(csvDir.getAbsolutePath)
      .filter(col("o_orderstatus") =!= "P")
      .groupBy(col("o_orderstatus"), substring(col("d"), 1, 4).as("yr"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
  }

  private val csvIngestSql =
    """SELECT o_orderstatus, substr(strftime(o_orderdate, '%Y-%m-%d'), 1, 4) AS yr,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
      |       AS BIGINT) AS sum_cents
      |FROM orders WHERE o_orderstatus <> 'P'
      |GROUP BY 1, 2""".stripMargin

  /** #172 k-anonymity audit (k=5) — the privacy gate a training-data
    * release pipeline runs before publishing: equivalence classes over
    * the quasi-identifiers (nation, market segment, account-balance
    * band), classes smaller than k are re-identification risks. One
    * distributed groupBy (class count bounded by the QI-domain product,
    * not the data); totals fold to one broadcast row. The band uses
    * `floor` before the cast on BOTH engines (DuckDB CAST rounds, Spark
    * truncates — floor makes the value integral first; IEEE division by
    * 1000.0 is bit-identical cross-engine). */
  private def kAnonymity(s: SparkSession, dir: String): DataFrame = {
    val cls = t(s, dir, "customer")
      .groupBy(col("c_nationkey").cast("long").as("nationkey"),
        col("c_mktsegment").as("segment"),
        floor(col("c_acctbal") / 1000.0).cast("long").as("bal_band"))
      .agg(count(lit(1)).as("class_n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tot = cls.agg(count(lit(1)).as("n_classes"),
      coalesce(sum(when(col("class_n") < 5, col("class_n"))), lit(0L))
        .as("rows_at_risk"))
    cls.filter(col("class_n") < 5)
      .crossJoin(broadcast(tot))
      .select(col("nationkey"), col("segment"), col("bal_band"),
        col("class_n"), col("n_classes"), col("rows_at_risk"))
  }

  private val kAnonymitySql =
    """WITH cls AS (
      |  SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
      |    c_mktsegment AS segment,
      |    CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
      |    CAST(count(*) AS BIGINT) AS class_n
      |  FROM customer GROUP BY 1, 2, 3),
      |tot AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_classes,
      |    CAST(coalesce(sum(class_n) FILTER (WHERE class_n < 5), 0) AS BIGINT)
      |      AS rows_at_risk
      |  FROM cls)
      |SELECT nationkey, segment, bal_band, class_n, n_classes, rows_at_risk
      |FROM cls, tot WHERE class_n < 5""".stripMargin

  /** #180 compaction planner — bin-pack small "files" into
    * target-size output groups (the 100-TB small-files remedy that
    * pairs with q_write_layout's producer side). File stats collapse
    * to O(files) rows first (distributed aggregate); the contiguous
    * cumulative-sum binning — bin = (cumsum − 1) div target, so a
    * chunk straddling a boundary lands with its cumulative END — runs
    * on the distributed two-phase scan (`PrefixSum.runningTotal`),
    * never an unpartitioned window: at 100 TB "files" is millions of
    * rows and a single-reducer ORDER BY cumsum is exactly the shape
    * this repo's PrefixSum exists to avoid. Binning stays map-side.
    * Chunks stand in for files (orderkey div 512); rows stand in for
    * bytes: the PLAN shape is what's exercised. */
  private def compactionPlan(s: SparkSession, dir: String): DataFrame = {
    val target = 8192L
    val files = t(s, dir, "lineitem")
      .groupBy(expr("l_orderkey div 512").as("chunk"))
      .agg(count(lit(1)).as("n_rows"))
    PrefixSum.runningTotal(files, "chunk", "n_rows")
      .withColumn("bin", expr(s"(running_total - 1) div $target"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_files"), sum(col("n_rows")).as("total_rows"))
  }

  private val compactionPlanSql =
    """WITH f AS (
      |  SELECT l_orderkey // 512 AS chunk, CAST(count(*) AS BIGINT) AS n_rows
      |  FROM lineitem GROUP BY 1),
      |c AS (
      |  SELECT chunk, n_rows,
      |    sum(n_rows) OVER (ORDER BY chunk
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM f)
      |SELECT CAST((cum - 1) // 8192 AS BIGINT) AS bin,
      |  CAST(count(*) AS BIGINT) AS n_files,
      |  CAST(sum(n_rows) AS BIGINT) AS total_rows
      |FROM c GROUP BY 1""".stripMargin

  /** #184 zone-map pruning audit — "how much would min/max file stats
    * skip for this predicate?", the planning complement of
    * q_write_layout / q_zorder / q_compaction_plan. Audited under TWO
    * layouts, because the comparison IS the lesson: `arrival` chunks
    * (orderkey div 512 — shipdate uncorrelated, so min/max spans the
    * whole calendar and NOTHING skips; the old single-layout form
    * reported n_skipped = 0 at every SF and never exercised the skip
    * path — r9 vacuity audit) vs `ship_month` partitions (the layout
    * a date-partitioned/Z-ordered write produces — most chunks fall
    * wholly outside the 6-month predicate and skip). Each layout folds
    * in one partial-aggregated pass (per-chunk min/max/count plus the
    * in-range count — no second scan of candidate chunks); skip
    * decisions and totals are O(chunks). 2-row output. */
  private def zonemapPrune(s: SparkSession, dir: String): DataFrame = {
    val lo = lit("1995-01-01 00:00:00").cast("timestamp")
    val hi = lit("1995-07-01 00:00:00").cast("timestamp")
    val li = t(s, dir, "lineitem")
      .select(expr("l_orderkey div 512").as("ca"),
        expr("CAST(year(CAST(l_shipdate AS TIMESTAMP)) * 12" +
          " + month(CAST(l_shipdate AS TIMESTAMP)) AS BIGINT)").as("cm"),
        col("l_shipdate").cast("timestamp").as("sd"))
    def fold(chunkCol: String, layout: String): DataFrame = {
      val zm = li.groupBy(col(chunkCol).as("chunk"))
        .agg(min("sd").as("mn"), max("sd").as("mx"), count(lit(1)).as("n"),
          sum(when(col("sd") >= lo && col("sd") < hi, 1L).otherwise(0L))
            .as("n_match"))
        .withColumn("skip", col("mx") < lo || col("mn") >= hi)
      zm.agg(count(lit(1)).as("n_chunks"),
          sum(col("skip").cast("long")).as("n_skipped"),
          sum("n").as("rows_total"),
          sum(when(!col("skip"), col("n")).otherwise(0L)).as("rows_scanned"),
          sum("n_match").as("rows_matched"))
        .withColumn("prune_ppm", expr("(n_skipped * 1000000) div n_chunks"))
        .select(lit(layout).as("layout"), col("n_chunks"), col("n_skipped"),
          col("rows_total"), col("rows_scanned"), col("rows_matched"),
          col("prune_ppm"))
    }
    fold("ca", "arrival").unionAll(fold("cm", "ship_month"))
  }

  private val zonemapPruneSql = {
    def fold(chunkExpr: String, layout: String): String =
      s"""SELECT '$layout' AS layout, CAST(count(*) AS BIGINT) AS n_chunks,
         |  CAST(sum(CASE WHEN skip THEN 1 ELSE 0 END) AS BIGINT) AS n_skipped,
         |  CAST(sum(n) AS BIGINT) AS rows_total,
         |  CAST(sum(CASE WHEN skip THEN 0 ELSE n END) AS BIGINT) AS rows_scanned,
         |  CAST(sum(n_match) AS BIGINT) AS rows_matched,
         |  CAST(sum(CASE WHEN skip THEN 1 ELSE 0 END) * 1000000 // count(*)
         |    AS BIGINT) AS prune_ppm
         |FROM (
         |  SELECT *, (mx < TIMESTAMP '1995-01-01'
         |             OR mn >= TIMESTAMP '1995-07-01') AS skip
         |  FROM (
         |    SELECT $chunkExpr AS chunk,
         |      min(l_shipdate) AS mn, max(l_shipdate) AS mx,
         |      CAST(count(*) AS BIGINT) AS n,
         |      CAST(sum(CASE WHEN l_shipdate >= TIMESTAMP '1995-01-01'
         |                      AND l_shipdate < TIMESTAMP '1995-07-01'
         |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_match
         |    FROM lineitem GROUP BY 1))""".stripMargin
    fold("l_orderkey // 512", "arrival") + "\nUNION ALL\n" +
      fold("CAST(year(l_shipdate) * 12 + month(l_shipdate) AS BIGINT)",
        "ship_month")
  }

  private[graft] def multHash2Expr(c: String): String =
    s"CAST(pmod(CAST($c AS DECIMAL(38,0)) * $HashMult2, ${TextAnalysis.FingerprintMod}) AS BIGINT)"

  private[graft] def multHash2Duck(c: String): String =
    s"CAST((CAST($c AS HUGEINT) * $HashMult2) % ${TextAnalysis.FingerprintMod} AS BIGINT)"

  /** #192 join-skew audit — the pre-flight key-distribution profile
    * run before any big join: per-key row counts (one partial
    * aggregate), then max / mean / exact p99 over the COUNTS frame
    * (O(keys), orders of magnitude below the fact) — the p99 via the
    * distributed two-phase rank scan, never a single-reducer
    * percentile window. `skew_ratio_ppm` (max/mean) and the derived
    * salt factor are what q_skew_join's salting consumes; exact
    * integer arithmetic throughout. */
  private def joinSkewAudit(s: SparkSession, dir: String): DataFrame = {
    val counts = t(s, dir, "lineitem")
      .groupBy(col("l_suppkey").as("k")).agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tot = counts.agg(count(lit(1)).as("__nk"), sum("c").as("__nr"),
      max("c").as("__mx"))
    val ranked = PrefixSum.withGlobalRank(counts, Seq("c", "k"), "__r")
    val p99 = ranked.crossJoin(broadcast(tot))
      .filter(col("__r") === expr("(__nk * 99 + 99) div 100"))
      .select(col("c").as("__p99"))
    tot.crossJoin(broadcast(p99))
      .select(col("__nk").as("n_keys"), col("__nr").as("n_rows"),
        col("__mx").as("max_rows"),
        expr("__nr div __nk").as("mean_rows"), col("__p99").as("p99_rows"),
        expr("(__mx * 1000000) div (__nr div __nk)").as("skew_ratio_ppm"),
        greatest(lit(1L), expr("__mx div (4 * (__nr div __nk))"))
          .as("salt_factor"))
  }

  private val joinSkewAuditSql =
    """WITH c AS (
      |  SELECT l_suppkey AS k, CAST(count(*) AS BIGINT) AS c
      |  FROM lineitem GROUP BY 1),
      |t AS (
      |  SELECT CAST(count(*) AS BIGINT) AS nk, CAST(sum(c) AS BIGINT) AS nr,
      |    CAST(max(c) AS BIGINT) AS mx
      |  FROM c),
      |r AS (
      |  SELECT c, CAST(row_number() OVER (ORDER BY c, k) AS BIGINT) AS rn
      |  FROM c),
      |p AS (
      |  SELECT r.c AS p99 FROM r, t WHERE r.rn = (t.nk * 99 + 99) // 100)
      |SELECT t.nk AS n_keys, t.nr AS n_rows, t.mx AS max_rows,
      |  CAST(t.nr // t.nk AS BIGINT) AS mean_rows,
      |  p.p99 AS p99_rows,
      |  CAST((t.mx * 1000000) // (t.nr // t.nk) AS BIGINT) AS skew_ratio_ppm,
      |  CAST(greatest(1, t.mx // (4 * (t.nr // t.nk))) AS BIGINT)
      |    AS salt_factor
      |FROM t, p""".stripMargin

  /** #198 functional-dependency audit — "does X determine Y?" for
    * declared candidate FDs, the schema-inference/data-contract check
    * a profiler runs before trusting a key. Each FD is ONE
    * partial-aggregated groupBy on the determinant plus an O(keys)
    * fold — never a self-join; holding AND failing candidates are
    * included so the gate is non-vacuous both ways. */
  private def fdAudit(s: SparkSession, dir: String): DataFrame = {
    def fd(name: String, df: DataFrame, lhs: String, rhs: String): DataFrame =
      df.groupBy(col(lhs)).agg(countDistinct(col(rhs)).as("__d"))
        .agg(count(lit(1)).as("n_keys"),
          sum(when(col("__d") > 1, 1L).otherwise(0L)).as("n_violating"),
          max("__d").as("max_distinct"))
        .select(lit(name).as("fd"), col("n_keys"), col("n_violating"),
          col("max_distinct"), (col("n_violating") === 0L).as("holds"))
    fd("customer: c_custkey -> c_name", t(s, dir, "customer"),
        "c_custkey", "c_name")
      .unionAll(fd("nation: n_nationkey -> n_regionkey", t(s, dir, "nation"),
        "n_nationkey", "n_regionkey"))
      .unionAll(fd("orders: o_custkey -> o_orderstatus", t(s, dir, "orders"),
        "o_custkey", "o_orderstatus"))
      .unionAll(fd("lineitem: l_orderkey -> l_suppkey", t(s, dir, "lineitem"),
        "l_orderkey", "l_suppkey"))
  }

  private val fdAuditSql =
    """WITH f1 AS (
      |  SELECT 'customer: c_custkey -> c_name' AS fd,
      |    CAST(count(*) AS BIGINT) AS n_keys,
      |    CAST(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
      |    CAST(max(d) AS BIGINT) AS max_distinct
      |  FROM (SELECT c_custkey, count(DISTINCT c_name) AS d
      |        FROM customer GROUP BY 1)),
      |f2 AS (
      |  SELECT 'nation: n_nationkey -> n_regionkey' AS fd,
      |    CAST(count(*) AS BIGINT), CAST(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT),
      |    CAST(max(d) AS BIGINT)
      |  FROM (SELECT n_nationkey, count(DISTINCT n_regionkey) AS d
      |        FROM nation GROUP BY 1)),
      |f3 AS (
      |  SELECT 'orders: o_custkey -> o_orderstatus' AS fd,
      |    CAST(count(*) AS BIGINT), CAST(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT),
      |    CAST(max(d) AS BIGINT)
      |  FROM (SELECT o_custkey, count(DISTINCT o_orderstatus) AS d
      |        FROM orders GROUP BY 1)),
      |f4 AS (
      |  SELECT 'lineitem: l_orderkey -> l_suppkey' AS fd,
      |    CAST(count(*) AS BIGINT), CAST(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT),
      |    CAST(max(d) AS BIGINT)
      |  FROM (SELECT l_orderkey, count(DISTINCT l_suppkey) AS d
      |        FROM lineitem GROUP BY 1)),
      |u AS (SELECT * FROM f1 UNION ALL SELECT * FROM f2
      |      UNION ALL SELECT * FROM f3 UNION ALL SELECT * FROM f4)
      |SELECT fd, n_keys, n_violating, max_distinct,
      |  n_violating = 0 AS holds
      |FROM u""".stripMargin

  /** #205 negative sampling — deterministic non-purchased candidates
    * per customer (the recommender-training counterpart of
    * q_train_split's hash draws: negatives must be REPRODUCIBLE across
    * runs and engines, so the draw is the multiplicative hash, never
    * rand()). Eight hash candidates per sampled customer fan out
    * map-side off a 1-row part-count broadcast; the already-purchased
    * filter is one anti-join against the distinct purchase fact; the
    * ≤4 cut is a row_number window over the ≤8-row per-customer frame
    * — bounded fan-out everywhere, no corpus-scale window. */
  private def negativeSampling(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders").filter(col("o_custkey") % 50 === 0)
    val cust = orders.select("o_custkey").distinct()
    val np = t(s, dir, "part").agg(count(lit(1)).as("__np"))
    val cand = cust.crossJoin(broadcast(np))
      .select(col("o_custkey"), explode(sequence(lit(0), lit(7))).as("i"),
        col("__np"))
      .select(col("o_custkey"), col("i"),
        // +1: partkey domain is 1..np, so pmod alone would emit a
        // nonexistent part 0 (never filterable by the anti-join) and
        // never sample part np
        expr(s"pmod(${multHashExpr("o_custkey * 8 + i")}, __np) + 1")
          .as("part_key"))
      .groupBy("o_custkey", "part_key").agg(min("i").as("i"))
    val purchased = orders.select("o_custkey", "o_orderkey")
      .join(t(s, dir, "lineitem").select("l_orderkey", "l_partkey"),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_partkey").as("part_key"))
      .distinct()
    val w = Window.partitionBy("o_custkey").orderBy("i", "part_key")
    cand.join(purchased, Seq("o_custkey", "part_key"), "left_anti")
      .withColumn("neg_rank", row_number().over(w).cast("int"))
      .filter(col("neg_rank") <= 4)
      .select(col("o_custkey"), col("neg_rank"), col("part_key"))
  }

  private val negativeSamplingSql =
    s"""WITH cust AS (
       |  SELECT DISTINCT o_custkey FROM orders WHERE o_custkey % 50 = 0),
       |p AS (SELECT CAST(count(*) AS BIGINT) AS np FROM part),
       |cand AS (
       |  SELECT c.o_custkey, u.i,
       |    ${multHashDuck("c.o_custkey * 8 + u.i")} % p.np + 1 AS part_key
       |  FROM cust c, (SELECT unnest(range(0, 8)) AS i) u, p),
       |ded AS (
       |  SELECT o_custkey, part_key, min(i) AS i
       |  FROM cand GROUP BY 1, 2),
       |pur AS (
       |  SELECT DISTINCT o.o_custkey, l.l_partkey
       |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
       |  WHERE o.o_custkey % 50 = 0),
       |neg AS (
       |  SELECT d.o_custkey, d.part_key, d.i
       |  FROM ded d LEFT JOIN pur
       |    ON pur.o_custkey = d.o_custkey AND pur.l_partkey = d.part_key
       |  WHERE pur.o_custkey IS NULL),
       |r AS (
       |  SELECT o_custkey, part_key,
       |    CAST(row_number() OVER (PARTITION BY o_custkey
       |                            ORDER BY i, part_key) AS INT) AS neg_rank
       |  FROM neg)
       |SELECT o_custkey, neg_rank, part_key FROM r WHERE neg_rank <= 4""".stripMargin

  /** #206 binary media-file ingest — the FILE-SOURCE leg of the
    * multimodal path (q_multimodal_meta decodes an in-table binary
    * COLUMN; this ingests media as FILES): a deterministic PNG fixture
    * set on disk, read through Spark's `binaryFile` source (whole
    * files distribute to executors — the ZippedTabular discipline),
    * header-decoded partition-locally via the same stdlib IHDR parse.
    * Fixture dimensions and sizes derive from the file index, so the
    * oracle recomputes every decoded value arithmetically from
    * `range()` without touching the filesystem — a decode regression
    * on any file breaks the hash compare. bench=false: measures
    * fixture IO, not the engine. */
  private def binaryIngest(s: SparkSession, dir: String): DataFrame = {
    val scratch = scratchDir(s, "graft_binimg_")
    // sentinel-gated build: a crash mid-write leaves no _DONE marker,
    // so the next call REBUILDS instead of serving a partial fixture
    // set forever (which would fail the oracle with a confusing
    // row-count mismatch far from the broken build site). The whole
    // check-then-act runs under the per-path JVM lock — without it two
    // concurrent callers (parallel suites on one session) can interleave
    // rm/mkdirs/writes and one reads a half-built dir bearing the marker.
    val done = new java.io.File(scratch, "_DONE")
    buildLock(scratch.getAbsolutePath).synchronized {
      if (!done.exists()) {
        rmTree(scratch)
        scratch.mkdirs()
        (0 until 40).foreach { i =>
          val payload = ("px" * (i + 1)).getBytes("US-ASCII")
          val png = Multimodal.pngWrap(payload, 16 + (i % 7) * 3, 9 + (i % 5) * 2)
          java.nio.file.Files.write(
            new java.io.File(scratch, f"img_$i%03d.png").toPath, png)
        }
        java.nio.file.Files.write(done.toPath, Array.emptyByteArray)
      }
    }
    val media = s.read.format("binaryFile")
      .load(scratch.getAbsolutePath + "/*.png")
      .select(
        regexp_extract(col("path"), "img_(\\d+)\\.png", 1).cast("long")
          .as("doc_id"),
        col("content").as("media"), lit("image/png").as("media_type"))
    Multimodal.extractFeatures(media)
      .select(col("doc_id").as("img_idx"), col("n_bytes"),
        col("width"), col("height"), col("header_decoded"))
  }

  private val binaryIngestSql =
    """SELECT CAST(i AS BIGINT) AS img_idx,
      |  CAST(2 * (i + 1) + 57 AS INT) AS n_bytes,
      |  CAST(16 + (i % 7) * 3 AS INT) AS width,
      |  CAST(9 + (i % 5) * 2 AS INT) AS height,
      |  TRUE AS header_decoded
      |FROM (SELECT unnest(range(0, 40)) AS i)""".stripMargin

  /** #210 join-cardinality estimate from KMV sketches — the
    * optimizer-style statistics primitive: estimate |keys(orders) ∩
    * keys(lineitem)| from two k-minimum-values sketches (k=256) WITHOUT
    * the join, then audit against the exact answer. The bottom-k of the
    * tagged hash UNION gives both the union estimate ((k−1)·M/h(k), the
    * #185 estimator) and the Jaccard estimate (the share ρ of the
    * bottom-k present in BOTH sides), so intersection ≈ ρ·|A∪B| — in
    * exact integer arithmetic: (k_both · est_union) div k_used, which
    * degrades gracefully to the exact value when the union fits inside
    * the sketch. Shapes: per-side distinct is a partial-aggregated
    * groupBy; the bottom-k cut is TakeOrderedAndProject; DECIMAL(38,0)
    * until the final bounded cast (the #185 ANSI-overflow rule). */
  private def joinCardEst(s: SparkSession, dir: String): DataFrame = {
    val k = 256
    val m = TextAnalysis.FingerprintMod
    val a = t(s, dir, "orders").select(col("o_orderkey").as("key")).distinct()
      .select(expr(multHashExpr("key")).as("h"),
        lit(1L).as("__a"), lit(0L).as("__b"))
    val b = t(s, dir, "lineitem").select(col("l_orderkey").as("key")).distinct()
      .select(expr(multHashExpr("key")).as("h"),
        lit(0L).as("__a"), lit(1L).as("__b"))
    val tagged = a.unionAll(b).groupBy("h")
      .agg(max("__a").as("ia"), max("__b").as("ib"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sk = tagged.orderBy("h").limit(k)
      .agg(count(lit(1)).as("k_used"), max(col("h")).as("__kth"),
        sum(expr("ia * ib")).cast("long").as("k_both"))
    val exact = tagged.agg(count(lit(1)).as("exact_union"),
      sum(expr("ia * ib")).cast("long").as("exact_intersection"))
    sk.crossJoin(broadcast(exact))
      .withColumn("est_union",
        when(col("k_used") < k, col("k_used"))
          .otherwise(expr(s"((k_used - 1) * CAST($m AS DECIMAL(38,0))) div __kth")
            .cast("long")))
      .withColumn("est_intersection",
        expr("((CAST(k_both AS DECIMAL(38,0)) * est_union) div k_used)").cast("long"))
      .withColumn("err_ppm", expr(
        """CAST(least((abs(CAST(est_intersection AS DECIMAL(38,0))
          |  - exact_intersection) * 1000000) div exact_intersection,
          |  CAST(1000000000000 AS DECIMAL(38,0))) AS BIGINT)"""
          .stripMargin.replace("\n", " ")))
      .select("k_used", "k_both", "exact_union", "exact_intersection",
        "est_union", "est_intersection", "err_ppm")
  }

  private val joinCardEstSql =
    s"""WITH ha AS (
       |  SELECT DISTINCT ${multHashDuck("o_orderkey")} AS h FROM orders),
       |hb AS (
       |  SELECT DISTINCT ${multHashDuck("l_orderkey")} AS h FROM lineitem),
       |tg AS (
       |  SELECT h, max(ia) AS ia, max(ib) AS ib FROM (
       |    SELECT h, 1 AS ia, 0 AS ib FROM ha
       |    UNION ALL SELECT h, 0, 1 FROM hb) GROUP BY 1),
       |sk AS (
       |  SELECT CAST(count(*) AS BIGINT) AS k_used, max(h) AS kth,
       |    CAST(sum(ia * ib) AS BIGINT) AS k_both
       |  FROM (SELECT * FROM tg ORDER BY h LIMIT 256)),
       |ex AS (
       |  SELECT CAST(count(*) AS BIGINT) AS exact_union,
       |    CAST(sum(ia * ib) AS BIGINT) AS exact_intersection FROM tg),
       |est AS (
       |  SELECT k_used, k_both, exact_union, exact_intersection,
       |    CASE WHEN k_used < 256 THEN k_used
       |         ELSE CAST(((k_used - 1) *
       |           CAST(${TextAnalysis.FingerprintMod} AS HUGEINT)) // kth
       |           AS BIGINT) END AS est_union
       |  FROM sk, ex)
       |SELECT k_used, k_both, exact_union, exact_intersection, est_union,
       |  CAST((CAST(k_both AS HUGEINT) * est_union) // k_used AS BIGINT)
       |    AS est_intersection,
       |  CAST(least((abs(CAST((CAST(k_both AS HUGEINT) * est_union) // k_used
       |    AS HUGEINT) - exact_intersection) * 1000000) // exact_intersection,
       |    1000000000000) AS BIGINT) AS err_ppm
       |FROM est""".stripMargin

  /** #225 calibration bins (ECE decomposition) — bucket a propensity
    * score into 10 equal-width bins and compare mean predicted
    * confidence vs observed rate per bin: the reliability-diagram
    * table behind Expected Calibration Error, run before trusting any
    * model-scored filter. The deterministic stand-in score is the
    * order's price as a share of the global max (ppm); the outcome is
    * fulfilment (`o_orderstatus = 'F'`). Everything is exact-integer:
    * conf is an integer ppm mean (DECIMAL-folded sum), acc an integer
    * ppm rate, and the per-bin ECE contribution `|acc−conf|·n` an
    * exact product — Σ gap_w / N is the user's one-division ECE. */
  private def calibrationEce(s: SparkSession, dir: String): DataFrame = {
    val o = parallelize(s, t(s, dir, "orders"))
      .select((col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
          .as("__c"),
        (col("o_orderstatus") === "F").cast("long").as("__pos"))
    val mx = o.agg(max("__c").as("__mx"))
    o.crossJoin(broadcast(mx))
      .select(
        expr("CAST((CAST(__c AS DECIMAL(38,0)) * 1000000) div __mx AS BIGINT)")
          .as("__score"), col("__pos"))
      .select(expr("CAST(least(__score div 100000, 9) AS INT)").as("bin"),
        col("__score"), col("__pos"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum("__pos").as("n_pos"),
        sum(col("__score").cast("decimal(38,0)")).as("__ss"))
      .select(col("bin"), col("n"), col("n_pos"),
        expr("CAST(__ss div n AS BIGINT)").as("conf_ppm"),
        expr("(n_pos * 1000000) div n").as("acc_ppm"))
      .withColumn("gap_w",
        expr("abs(acc_ppm - conf_ppm) * n"))
  }

  private val calibrationEceSql =
    """WITH o AS (
      |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
      |    CAST(o_orderstatus = 'F' AS BIGINT) AS pos
      |  FROM orders),
      |mx AS (SELECT max(c) AS mx FROM o),
      |sc AS (
      |  SELECT CAST((CAST(c AS HUGEINT) * 1000000) // mx AS BIGINT) AS score, pos
      |  FROM o, mx),
      |b AS (
      |  SELECT CAST(least(score // 100000, 9) AS INT) AS bin,
      |    CAST(count(*) AS BIGINT) AS n, CAST(sum(pos) AS BIGINT) AS n_pos,
      |    CAST(sum(CAST(score AS HUGEINT)) // count(*) AS BIGINT) AS conf_ppm
      |  FROM sc GROUP BY 1)
      |SELECT bin, n, n_pos, conf_ppm,
      |  CAST((n_pos * 1000000) // n AS BIGINT) AS acc_ppm,
      |  CAST(abs((n_pos * 1000000) // n - conf_ppm) * n AS BIGINT) AS gap_w
      |FROM b""".stripMargin

  /** #227 weight-of-evidence encoding — the credit-scoring/feature-
    * engineering encoder: per market segment, WOE = ln of (good share /
    * bad share) with +1 Laplace smoothing (bad = unfulfilled orders),
    * plus the Information-Value contribution. The log-of-ratio folds
    * as a DIFFERENCE of the four quantized integer logs —
    * ln(a/b) = ln a − ln b term-by-term on counts, never an FP ratio —
    * and shares are exact integer ppm, so the IV product is an exact
    * long. One fact-dim join + one O(segments) aggregate. */
  private def woeEncode(s: SparkSession, dir: String): DataFrame = {
    val seg = t(s, dir, "orders")
      .join(t(s, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(sum(when(col("o_orderstatus") =!= "F", 1L).otherwise(0L)).as("n_good"),
        sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("n_bad"))
    val tot = seg.agg(sum(expr("n_good + 1")).as("__gt"),
      sum(expr("n_bad + 1")).as("__bt"))
    seg.crossJoin(broadcast(tot))
      .withColumn("woe_q6",
        expr(s"(${lnQ6("n_good + 1")} - ${lnQ6("__gt")})" +
          s" - (${lnQ6("n_bad + 1")} - ${lnQ6("__bt")})"))
      .withColumn("iv_contrib_q",
        expr("(((n_good + 1) * 1000000) div __gt" +
          " - ((n_bad + 1) * 1000000) div __bt) * woe_q6"))
      .select("segment", "n_good", "n_bad", "woe_q6", "iv_contrib_q")
  }

  private val woeEncodeSql =
    s"""WITH seg AS (
       |  SELECT c_mktsegment AS segment,
       |    CAST(sum(CASE WHEN o_orderstatus <> 'F' THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_good,
       |    CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_bad
       |  FROM orders JOIN customer ON o_custkey = c_custkey
       |  GROUP BY 1),
       |t AS (SELECT sum(n_good + 1) AS gt, sum(n_bad + 1) AS bt FROM seg)
       |SELECT segment, n_good, n_bad,
       |  CAST((${lnQ6("n_good + 1")} - ${lnQ6("gt")})
       |    - (${lnQ6("n_bad + 1")} - ${lnQ6("bt")}) AS BIGINT) AS woe_q6,
       |  CAST((((n_good + 1) * 1000000) // gt - ((n_bad + 1) * 1000000) // bt)
       |    * ((${lnQ6("n_good + 1")} - ${lnQ6("gt")})
       |       - (${lnQ6("n_bad + 1")} - ${lnQ6("bt")})) AS BIGINT)
       |    AS iv_contrib_q
       |FROM seg, t""".stripMargin

  /** #228 frequent brand triples — the 3-itemset step of market-basket
    * mining over co-purchase baskets (q_copurchase covers pairs).
    * Baskets collapse to DISTINCT (order, brand) first — the 25-brand
    * domain keeps triples per basket C(m,3)-bounded by the basket's
    * brand count (≤13 observed, TPC-H line counts), so candidate
    * generation is two co-partitioned self-equi-joins on the order key
    * with ordered-brand predicates (no de-dup pass, no factorial
    * blow-up), the same degree-bounded discipline as q_triangle.
    * The support floor is CORPUS-RELATIVE (orders/300) so the prune
    * stays meaningful — non-vacuous in both directions — at every
    * scale. */
  private def brandTriples(s: SparkSession, dir: String): DataFrame = {
    val minsup = t(s, dir, "orders").agg((count(lit(1)) / 300L).cast("long")
      .as("__minsup"))
    // triples generate MAP-SIDE from each order's bounded sorted
    // distinct-brand set (≤ 25 brands → ≤ C(25,3) rows per order): ONE
    // groupBy shuffle + one native C(n,3) fan-out replaces the 3-way
    // self-equi-join of the distinct (order, brand) table, which
    // re-shuffled it on `o` three times and materialized the pair
    // fan-out as a join intermediate (the copurchaseEdges discipline,
    // one combinatorial order up). collect_set dedups exactly like the
    // old .distinct(); sort_array gives the ascending orientation the
    // joins' b1 < b2 < b3 filters selected — same triples, same counts.
    t(s, dir, "lineitem")
      .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("o"), col("p_brand").as("b"))
      .groupBy("o").agg(sort_array(collect_set(col("b"))).as("bs"))
      .select(explode(graft.functions.NativeVec.sorted_triples(col("bs"))).as("t"))
      .select(col("t.a").as("brand1"), col("t.b").as("brand2"),
        col("t.c").as("brand3"))
      .groupBy("brand1", "brand2", "brand3")
      .agg(count(lit(1)).as("support"))
      .crossJoin(broadcast(minsup))
      .filter(col("support") >= col("__minsup"))
      .select("brand1", "brand2", "brand3", "support")
  }

  private val brandTriplesSql =
    """WITH ob AS (
      |  SELECT DISTINCT l_orderkey AS o, p_brand AS b
      |  FROM lineitem JOIN part ON l_partkey = p_partkey),
      |ms AS (SELECT count(*) // 300 AS minsup FROM orders)
      |SELECT brand1, brand2, brand3, support FROM (
      |  SELECT a.b AS brand1, bb.b AS brand2, c.b AS brand3,
      |    CAST(count(*) AS BIGINT) AS support
      |  FROM ob a
      |  JOIN ob bb ON a.o = bb.o AND a.b < bb.b
      |  JOIN ob c ON bb.o = c.o AND bb.b < c.b
      |  GROUP BY 1, 2, 3), ms
      |WHERE support >= minsup""".stripMargin

  /** #237 information-gain feature screen — MI(order status; feature)
    * for three candidate features (market segment, order priority,
    * order month), one row per feature: the ranking a feature-selection
    * pass produces before training anything. Each feature is one
    * O(|x|×|y|)-bounded contingency groupBy folded with #203's exact
    * ppb arithmetic (⌊ln·1e9⌋ of identical double ratios, DECIMAL
    * weighted sum); the per-feature frames union to O(features) rows. */
  private def infoGain(s: SparkSession, dir: String): DataFrame = {
    def mi(name: String, df: DataFrame): DataFrame = {
      val cells = df.toDF("__x", "__y")
        .groupBy("__x", "__y").agg(count(lit(1)).as("nij"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val ri = cells.groupBy("__x").agg(sum("nij").as("ni"))
      val cj = cells.groupBy("__y").agg(sum("nij").as("nj"))
      val tot = cells.agg(sum("nij").as("__N"))
      cells.join(broadcast(ri), Seq("__x"))
        .join(broadcast(cj), Seq("__y"))
        .crossJoin(broadcast(tot))
        .select(col("nij"), col("__N"),
          floor(log(col("nij").cast("double") * col("__N").cast("double")
            / (col("ni").cast("double") * col("nj").cast("double"))) * 1e9)
            .cast("long").as("t"))
        .agg(max("__N").as("n_rows"),
          expr("CAST(sum(CAST(nij AS DECIMAL(38,0)) * t) div max(__N) AS BIGINT)")
            .as("mi_ppb"))
        .select(lit(name).as("feature"), col("n_rows"), col("mi_ppb"))
    }
    val o = t(s, dir, "orders")
    val seg = o.join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"), col("o_orderstatus"))
    val pri = o.select(col("o_orderpriority"), col("o_orderstatus"))
    val mon = o.select(date_format(col("o_orderdate"), "MM"), col("o_orderstatus"))
    mi("mktsegment", seg).unionAll(mi("orderpriority", pri))
      .unionAll(mi("order_month", mon))
  }

  private val infoGainSql = {
    def mi(name: String, src: String): String =
      s"""SELECT '$name' AS feature, max(N) AS n_rows,
         |  CAST(sum(CAST(nij AS HUGEINT) * lt) // max(N) AS BIGINT) AS mi_ppb
         |FROM (
         |  SELECT c.nij, t.N,
         |    CAST(floor(ln(CAST(c.nij AS DOUBLE) * CAST(t.N AS DOUBLE)
         |      / (CAST(ri.ni AS DOUBLE) * CAST(cj.nj AS DOUBLE))) * 1e9)
         |      AS BIGINT) AS lt
         |  FROM ($src) c
         |  JOIN (SELECT x, CAST(sum(nij) AS BIGINT) AS ni
         |        FROM ($src) GROUP BY 1) ri USING (x)
         |  JOIN (SELECT y, CAST(sum(nij) AS BIGINT) AS nj
         |        FROM ($src) GROUP BY 1) cj USING (y),
         |       (SELECT CAST(sum(nij) AS BIGINT) AS N FROM ($src)) t)""".stripMargin
    val seg = """SELECT c_mktsegment AS x, o_orderstatus AS y,
                | CAST(count(*) AS BIGINT) AS nij
                |FROM orders JOIN customer ON o_custkey = c_custkey
                |GROUP BY 1, 2""".stripMargin
    val pri = """SELECT o_orderpriority AS x, o_orderstatus AS y,
                | CAST(count(*) AS BIGINT) AS nij
                |FROM orders GROUP BY 1, 2""".stripMargin
    val mon = """SELECT strftime(o_orderdate, '%m') AS x, o_orderstatus AS y,
                | CAST(count(*) AS BIGINT) AS nij
                |FROM orders GROUP BY 1, 2""".stripMargin
    s"""${mi("mktsegment", seg)}
       |UNION ALL ${mi("orderpriority", pri)}
       |UNION ALL ${mi("order_month", mon)}""".stripMargin
  }

  /** #238 m-estimate target encoding — the mean-target categorical
    * encoder with additive smoothing toward the global mean (m=100
    * virtual rows), companion to #227's WOE on a CONTINUOUS target
    * (order price in cents): enc = (Σ_i + m·ȳ) div (n_i + m), all in
    * exact integer cents (sums through DECIMAL — a 100-TB fact's cent
    * sum overflows BIGINT), with the shrink weight m/(n+m) in ppm so
    * the consumer can see how far each category was pulled. One
    * fact-dim join, one O(categories) aggregate, scalar broadcast. */
  private def targetEncode(s: SparkSession, dir: String): DataFrame = {
    val oc = t(s, dir, "orders")
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("segment"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("__c"))
    val seg = oc.groupBy("segment")
      .agg(count(lit(1)).as("n"), sum(col("__c").cast("decimal(38,0)")).as("__s"))
    val tot = seg.agg(sum("n").as("__N"), sum("__s").as("__S"))
      .select(col("__N"), expr("CAST(__S div __N AS BIGINT)").as("__gmean"))
    seg.crossJoin(broadcast(tot))
      .select(col("segment"), col("n"),
        expr("CAST(__s div n AS BIGINT)").as("raw_mean_cents"),
        expr("CAST((__s + 100 * CAST(__gmean AS DECIMAL(38,0))) div (n + 100)" +
          " AS BIGINT)").as("enc_cents"),
        expr("(100 * 1000000) div (n + 100)").as("shrink_ppm"))
  }

  private val targetEncodeSql =
    """WITH oc AS (
      |  SELECT c_mktsegment AS segment,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |seg AS (
      |  SELECT segment, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CAST(c AS HUGEINT)) AS HUGEINT) AS s
      |  FROM oc GROUP BY 1),
      |t AS (SELECT CAST(sum(s) // sum(n) AS BIGINT) AS gmean FROM seg)
      |SELECT segment, n,
      |  CAST(s // n AS BIGINT) AS raw_mean_cents,
      |  CAST((s + 100 * CAST(gmean AS HUGEINT)) // (n + 100) AS BIGINT)
      |    AS enc_cents,
      |  CAST((100 * 1000000) // (n + 100) AS BIGINT) AS shrink_ppm
      |FROM seg, t""".stripMargin

  /** #239 lift / cumulative-gains table — the ranking-quality view of
    * #225's score (calibration says "are the probabilities right";
    * lift says "does sorting by score concentrate the positives"):
    * per descending score bin, cumulative rows and positives captured
    * and the cumulative lift vs the base rate in ppm. The bin
    * aggregate is the #225 pass; the cumulative sums run over the
    * O(10) bin axis (bounded frame), and the lift ratio folds in
    * DECIMAL — exact at any row count. */
  private def liftCurve(s: SparkSession, dir: String): DataFrame = {
    val o = parallelize(s, t(s, dir, "orders"))
      .select((col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
          .as("__c"),
        (col("o_orderstatus") === "F").cast("long").as("__pos"))
    val mx = o.agg(max("__c").as("__mx"))
    val bins = o.crossJoin(broadcast(mx))
      .select(
        expr("CAST(least((CAST(__c AS DECIMAL(38,0)) * 1000000 div __mx)" +
          " div 100000, 9) AS INT)").as("bin"), col("__pos"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum("__pos").as("n_pos"))
    val tot = bins.agg(sum("n").as("__N"), sum("n_pos").as("__P"))
    val wCum = Window.orderBy(desc("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bins.withColumn("cum_n", sum("n").over(wCum))
      .withColumn("cum_pos", sum("n_pos").over(wCum))
      .crossJoin(broadcast(tot))
      .select(col("bin"), col("n"), col("n_pos"), col("cum_n"), col("cum_pos"),
        expr("CAST((CAST(cum_pos AS DECIMAL(38,0)) * __N * 1000000)" +
          " div (CAST(cum_n AS DECIMAL(38,0)) * __P) AS BIGINT)")
          .as("lift_ppm"))
  }

  private val liftCurveSql =
    """WITH o AS (
      |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
      |    CAST(o_orderstatus = 'F' AS BIGINT) AS pos
      |  FROM orders),
      |mx AS (SELECT max(c) AS mx FROM o),
      |b AS (
      |  SELECT CAST(least((CAST(c AS HUGEINT) * 1000000 // mx) // 100000, 9)
      |      AS INT) AS bin,
      |    CAST(count(*) AS BIGINT) AS n, CAST(sum(pos) AS BIGINT) AS n_pos
      |  FROM o, mx GROUP BY 1),
      |t AS (SELECT sum(n) AS tot_n, sum(n_pos) AS tot_p FROM b),
      |c AS (
      |  SELECT bin, n, n_pos,
      |    CAST(sum(n) OVER (ORDER BY bin DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum_n,
      |    CAST(sum(n_pos) OVER (ORDER BY bin DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum_pos
      |  FROM b)
      |SELECT bin, c.n, c.n_pos, cum_n, cum_pos,
      |  CAST((CAST(cum_pos AS HUGEINT) * t.tot_n * 1000000)
      |    // (CAST(cum_n AS HUGEINT) * t.tot_p) AS BIGINT) AS lift_ppm
      |FROM c, t""".stripMargin

  /** #242 exact ROC-AUC — the threshold-free ranking metric closing the
    * eval triptych (#225 calibration, #239 lift): AUC of the price
    * score against fulfilment as P(score⁺>score⁻) + ½P(=), computed
    * EXACTLY from the value-level contingency: group by score value,
    * distributed prefix-sum of negatives below each value
    * (`PrefixSum.runningTotal` — never a single-reducer window), then
    * one DECIMAL fold of p_v·(2·negBelow + n_v) half-units. Ties get
    * their exact ½ credit — no rank approximation, no FP anywhere. */
  private def aucExact(s: SparkSession, dir: String): DataFrame = {
    val vals = parallelize(s, t(s, dir, "orders"))
      .select((col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
          .as("v"),
        (col("o_orderstatus") === "F").cast("long").as("__pos"))
      .groupBy("v")
      .agg(sum("__pos").as("p_v"), sum(expr("1 - __pos")).as("n_v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val below = PrefixSum.runningTotal(vals, "v", "n_v")
      .select(col("v"), (col("running_total") - col("n_v")).as("__neg_below"))
    vals.join(below, Seq("v"))
      .agg(sum("p_v").as("n_pos"), sum("n_v").as("n_neg"),
        sum(expr("CAST(p_v AS DECIMAL(38,0)) * (2 * __neg_below + n_v)"))
          .as("__num2"))
      .select(col("n_pos"), col("n_neg"),
        expr("CAST((__num2 * 1000000) div (2 * CAST(n_pos AS DECIMAL(38,0))" +
          " * n_neg) AS BIGINT)").as("auc_ppm"))
  }

  private val aucExactSql =
    """WITH o AS (
      |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
      |    CAST(o_orderstatus = 'F' AS BIGINT) AS pos
      |  FROM orders),
      |g AS (
      |  SELECT v, CAST(sum(pos) AS BIGINT) AS p_v,
      |    CAST(count(*) - sum(pos) AS BIGINT) AS n_v
      |  FROM o GROUP BY 1),
      |c AS (
      |  SELECT v, p_v, n_v,
      |    CAST(sum(n_v) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_v AS BIGINT)
      |      AS neg_below
      |  FROM g)
      |SELECT CAST(sum(p_v) AS BIGINT) AS n_pos,
      |  CAST(sum(n_v) AS BIGINT) AS n_neg,
      |  CAST((sum(CAST(p_v AS HUGEINT) * (2 * neg_below + n_v)) * 1000000)
      |    // (2 * CAST(sum(p_v) AS HUGEINT) * sum(n_v)) AS BIGINT) AS auc_ppm
      |FROM c""".stripMargin

  /** #243 precision/recall curve — per descending score bin, cumulative
    * precision, recall, and F1 in exact integer ppm (#239's bin pass;
    * the F1 harmonic mean folds as (2·p·r) div (p+r) on the ppm
    * integers). The operating-point table a threshold choice reads. */
  private def prCurve(s: SparkSession, dir: String): DataFrame = {
    val o = parallelize(s, t(s, dir, "orders"))
      .select((col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
          .as("__c"),
        (col("o_orderstatus") === "F").cast("long").as("__pos"))
    val mx = o.agg(max("__c").as("__mx"))
    val bins = o.crossJoin(broadcast(mx))
      .select(
        expr("CAST(least((CAST(__c AS DECIMAL(38,0)) * 1000000 div __mx)" +
          " div 100000, 9) AS INT)").as("bin"), col("__pos"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum("__pos").as("n_pos"))
    val tot = bins.agg(sum("n_pos").as("__P"))
    val wCum = Window.orderBy(desc("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bins.withColumn("cum_n", sum("n").over(wCum))
      .withColumn("cum_pos", sum("n_pos").over(wCum))
      .crossJoin(broadcast(tot))
      .withColumn("precision_ppm", expr("(cum_pos * 1000000) div cum_n"))
      .withColumn("recall_ppm", expr("(cum_pos * 1000000) div __P"))
      .select(col("bin"), col("cum_n"), col("cum_pos"),
        col("precision_ppm"), col("recall_ppm"),
        expr("CAST(CASE WHEN precision_ppm + recall_ppm = 0 THEN 0" +
          " ELSE (2 * CAST(precision_ppm AS DECIMAL(38,0)) * recall_ppm)" +
          " div (precision_ppm + recall_ppm) END AS BIGINT)").as("f1_ppm"))
  }

  private val prCurveSql =
    """WITH o AS (
      |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
      |    CAST(o_orderstatus = 'F' AS BIGINT) AS pos
      |  FROM orders),
      |mx AS (SELECT max(c) AS mx FROM o),
      |b AS (
      |  SELECT CAST(least((CAST(c AS HUGEINT) * 1000000 // mx) // 100000, 9)
      |      AS INT) AS bin,
      |    CAST(count(*) AS BIGINT) AS n, CAST(sum(pos) AS BIGINT) AS n_pos
      |  FROM o, mx GROUP BY 1),
      |t AS (SELECT sum(n_pos) AS tp FROM b),
      |c AS (
      |  SELECT bin,
      |    CAST(sum(n) OVER w AS BIGINT) AS cum_n,
      |    CAST(sum(n_pos) OVER w AS BIGINT) AS cum_pos
      |  FROM b
      |  WINDOW w AS (ORDER BY bin DESC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |pr AS (
      |  SELECT bin, cum_n, cum_pos,
      |    CAST((cum_pos * 1000000) // cum_n AS BIGINT) AS precision_ppm,
      |    CAST((cum_pos * 1000000) // t.tp AS BIGINT) AS recall_ppm
      |  FROM c, t)
      |SELECT bin, cum_n, cum_pos, precision_ppm, recall_ppm,
      |  CAST(CASE WHEN precision_ppm + recall_ppm = 0 THEN 0
      |    ELSE (2 * CAST(precision_ppm AS HUGEINT) * recall_ppm)
      |      // (precision_ppm + recall_ppm) END AS BIGINT) AS f1_ppm
      |FROM pr""".stripMargin

  /** #259 response-bias table — the nonresponse audit every survey
    * report opens with: per market segment, population vs respondent
    * counts (a respondent = a customer with ≥1 fulfilled order),
    * response rate, and the representation index (respondent share
    * over population share, ppm — 1e6 means the segment responds at
    * par). Two partial-aggregated groupBys (the respondent one after a
    * custkey-shuffled semi-join shape), 1-row totals broadcast, O(5)
    * output. */
  private def responseBias(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment").as("segment"))
    val pop = cust.groupBy("segment").agg(count(lit(1)).as("n_pop"))
    val resp = parallelize(s, t(s, dir, "orders"))
      .filter(col("o_orderstatus") === "F")
      .select(col("o_custkey").as("c_custkey")).distinct()
      .join(cust, Seq("c_custkey"))
      .groupBy("segment").agg(count(lit(1)).as("n_resp"))
    val tot = pop.agg(sum("n_pop").as("__np"))
      .crossJoin(broadcast(resp.agg(sum("n_resp").as("__nr"))))
    pop.join(resp, Seq("segment"), "left")
      .crossJoin(broadcast(tot))
      .select(col("segment"), col("n_pop"),
        coalesce(col("n_resp"), lit(0L)).as("n_resp"), col("__np"),
        col("__nr"))
      .withColumn("response_rate_ppm", expr("(n_resp * 1000000) div n_pop"))
      .withColumn("repr_index_ppm",
        expr("CAST((CAST(n_resp AS DECIMAL(38,0)) * __np * 1000000)" +
          " div (CAST(n_pop AS DECIMAL(38,0)) * __nr) AS BIGINT)"))
      .drop("__np", "__nr")
  }

  private val responseBiasSql =
    """WITH c AS (SELECT c_custkey, c_mktsegment AS segment FROM customer),
      |pop AS (SELECT segment, CAST(count(*) AS BIGINT) AS n_pop
      |        FROM c GROUP BY 1),
      |r AS (
      |  SELECT c.segment, CAST(count(*) AS BIGINT) AS n_resp
      |  FROM (SELECT DISTINCT o_custkey FROM orders
      |        WHERE o_orderstatus = 'F') o
      |  JOIN c ON c.c_custkey = o.o_custkey GROUP BY 1),
      |t AS (SELECT (SELECT sum(n_pop) FROM pop) AS np,
      |             (SELECT sum(n_resp) FROM r) AS nr)
      |SELECT pop.segment, pop.n_pop,
      |  CAST(coalesce(r.n_resp, 0) AS BIGINT) AS n_resp,
      |  CAST((coalesce(r.n_resp, 0) * 1000000) // pop.n_pop AS BIGINT)
      |    AS response_rate_ppm,
      |  CAST((CAST(coalesce(r.n_resp, 0) AS HUGEINT) * t.np * 1000000)
      |    // (CAST(pop.n_pop AS HUGEINT) * t.nr) AS BIGINT)
      |    AS repr_index_ppm
      |FROM pop
      |LEFT JOIN r ON r.segment = pop.segment
      |CROSS JOIN t""".stripMargin

  /** #260 design effect — the Kish DEFF of post-stratification
    * weighting over nation×segment cells, with standard 10×-mean
    * weight trimming, plus the effective sample size: the "how much
    * did weighting cost us" number a survey statistician reads before
    * trusting any weighted estimate. The fold is scale-invariant, so
    * weights RENORMALIZE to relative ppm BEFORE squaring — that is
    * what keeps every intermediate ≤ ~1e26 at a trillion respondents
    * (naively squaring raw ppm weights overflows DECIMAL(38) at
    * n·Σrw²·1e6 ≈ 1e45). Cell tables are O(125) after two
    * partial-aggregated groupBys; every fold beyond them is
    * driver-free column arithmetic on 1-row broadcasts. */
  private def designEffect(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey").cast("long").as("nk"),
        col("c_mktsegment").as("seg"))
    val pop = cust.groupBy("nk", "seg").agg(count(lit(1)).as("pop"))
    val resp = parallelize(s, t(s, dir, "orders"))
      .filter(col("o_orderstatus") === "F")
      .select(col("o_custkey").as("c_custkey")).distinct()
      .join(cust, Seq("c_custkey"))
      .groupBy("nk", "seg").agg(count(lit(1)).as("resp"))
    val tot = pop.agg(sum("pop").as("__N"))
      .crossJoin(broadcast(resp.agg(sum("resp").as("__R"))))
    val cells = pop.join(resp, Seq("nk", "seg")) // resp ⊆ pop: inner
      .crossJoin(broadcast(tot))
      .withColumn("__w", // post-strat weight, trimmed at 10x mean
        expr("least((CAST(pop AS DECIMAL(38,0)) * __R * 1000000)" +
          " div (CAST(resp AS DECIMAL(38,0)) * __N), 10000000)"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sw = cells.agg(sum(expr("CAST(resp AS DECIMAL(38,0)) * __w"))
      .as("__S"))
    cells.crossJoin(broadcast(sw))
      .withColumn("__v", // relative weight in ppm of the mean
        expr("(CAST(__w AS DECIMAL(38,0)) * __R * 1000000) div __S"))
      .agg(max("__N").as("n_pop"), max("__R").as("n_resp"),
        count(lit(1)).as("n_cells"), max("__w").cast("long").as("w_max_ppm"),
        sum(expr("CAST(resp AS DECIMAL(38,0)) * __v * __v")).as("__svv"))
      .select(col("n_pop"), col("n_resp"), col("n_cells"), col("w_max_ppm"),
        expr("CAST(__svv div (CAST(n_resp AS DECIMAL(38,0)) * 1000000)" +
          " AS BIGINT)").as("deff_ppm"))
      .withColumn("n_eff",
        expr("(n_resp * 1000000) div greatest(deff_ppm, 1)"))
  }

  // Oracle fold stays in BIGINT end to end (the §5 output-cast rule:
  // DuckDB's HUGEINT division/cast chain has measured environment-
  // dependent behavior — round 8's only driver-gate hash miss was this
  // query's HUGEINT fold, cell-exact locally). Every sum() is cast to
  // BIGINT immediately and every product is BIGINT-bounded at the gate
  // scale factors: w ≤ 1e7, v ≤ ~2e7, Σresp·v ≈ R·1e6, so
  // Σresp·v² ≤ v_max·Σresp·v ≈ 2e13·R — under 2^63 while R < ~4.5e5
  // (≈ sf5). The `t` CTE gates that bound EXPLICITLY: a future SF bump
  // fails with a named message, not a bare out-of-range error mid-fold
  // (r9 ADVICE). The Spark side folds in DECIMAL(38,0) and has no such
  // ceiling.
  private val designEffectSql =
    """WITH c AS (SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS nk,
      |    c_mktsegment AS seg FROM customer),
      |pop AS (SELECT nk, seg, CAST(count(*) AS BIGINT) AS pop
      |        FROM c GROUP BY 1, 2),
      |r AS (
      |  SELECT c.nk, c.seg, CAST(count(*) AS BIGINT) AS resp
      |  FROM (SELECT DISTINCT o_custkey FROM orders
      |        WHERE o_orderstatus = 'F') o
      |  JOIN c ON c.c_custkey = o.o_custkey GROUP BY 1, 2),
      |t AS (SELECT CAST((SELECT sum(pop) FROM pop) AS BIGINT) AS N,
      |             CAST(CASE WHEN (SELECT sum(resp) FROM r) > 400000
      |               THEN error('q_design_effect oracle: BIGINT fold bounded to n_resp <= 4e5 (~sf5); sum(resp*v*v) would overflow BIGINT beyond it')
      |               ELSE (SELECT sum(resp) FROM r) END AS BIGINT) AS R),
      |cells AS (
      |  SELECT pop.pop, r.resp,
      |    least((pop.pop * t.R * 1000000) // (r.resp * t.N),
      |          CAST(10000000 AS BIGINT)) AS w
      |  FROM pop JOIN r ON r.nk = pop.nk AND r.seg = pop.seg
      |  CROSS JOIN t),
      |s AS (SELECT CAST(sum(resp * w) AS BIGINT) AS S FROM cells),
      |v AS (SELECT resp, (w * t.R * 1000000) // s.S AS v
      |      FROM cells, s, t),
      |sv AS (SELECT CAST(sum(resp * v * v) AS BIGINT) AS svv FROM v)
      |SELECT t.N AS n_pop, t.R AS n_resp,
      |  CAST((SELECT count(*) FROM cells) AS BIGINT) AS n_cells,
      |  CAST((SELECT max(w) FROM cells) AS BIGINT) AS w_max_ppm,
      |  sv.svv // (t.R * 1000000) AS deff_ppm,
      |  (t.R * 1000000) // greatest(sv.svv // (t.R * 1000000), 1) AS n_eff
      |FROM sv, t""".stripMargin

  /** #263 Horvitz–Thompson stratum estimator — the design-based total
    * every weighted survey publishes: strata = nation × segment,
    * respondents = customers with ≥1 fulfilled order, inclusion
    * probability π_h = resp_h/pop_h, HT total = Σ y_i/π_h
    * = (pop_h · Σ resp cents) div resp_h in exact cents fixed point.
    * The possibly-NEGATIVE respondent balance sum is divided
    * SIGN-SPLIT (sign · (pop·|sum|) div resp) so Spark's
    * truncate-toward-zero `div` and DuckDB's floor `//` agree (§5
    * division discipline). Uncovered strata (resp = 0) stay in the
    * output with covered = 0 and a zero estimate rather than
    * vanishing. Two partial-aggregated groupBys over customer + the
    * distinct-respondent semi-join shape; O(nations × segments)
    * output. */
  private def horvitzThompson(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer").select(col("c_custkey"),
      col("c_nationkey").cast("long").as("nk"),
      col("c_mktsegment").as("segment"),
      (col("c_acctbal").cast("decimal(18,2)") * 100).cast("long").as("__cents"))
    val pop = cust.groupBy("nk", "segment")
      .agg(count(lit(1)).as("pop"), sum("__cents").as("true_cents"))
    val rs = parallelize(s, t(s, dir, "orders"))
      .filter(col("o_orderstatus") === "F")
      .select(col("o_custkey").as("c_custkey")).distinct()
      .join(cust, Seq("c_custkey"))
      .groupBy("nk", "segment")
      .agg(count(lit(1)).as("resp"), sum("__cents").as("__rc"))
    pop.join(rs, Seq("nk", "segment"), "left")
      .join(broadcast(t(s, dir, "nation")
        .select(col("n_nationkey").cast("long").as("nk"), col("n_name"))),
        Seq("nk"))
      .select(col("n_name"), col("segment"), col("pop"),
        coalesce(col("resp"), lit(0L)).as("resp"), col("true_cents"),
        coalesce(expr(
          "CASE WHEN __rc >= 0" +
            " THEN (CAST(pop AS DECIMAL(38,0)) * __rc) div resp" +
            " ELSE -((CAST(pop AS DECIMAL(38,0)) * (-__rc)) div resp)" +
            " END").cast("long"), lit(0L)).as("ht_cents"),
        (col("resp").isNotNull).cast("int").as("covered"))
      .withColumn("diff_cents",
        expr("CASE WHEN covered = 1 THEN ht_cents - true_cents" +
          " ELSE 0 END"))
  }

  private val horvitzThompsonSql =
    """WITH c AS (SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS nk,
      |    c_mktsegment AS segment,
      |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM customer),
      |pop AS (SELECT nk, segment, CAST(count(*) AS BIGINT) AS pop,
      |    CAST(sum(cents) AS BIGINT) AS true_cents
      |  FROM c GROUP BY 1, 2),
      |r AS (
      |  SELECT c.nk, c.segment, CAST(count(*) AS BIGINT) AS resp,
      |    CAST(sum(c.cents) AS BIGINT) AS rc
      |  FROM (SELECT DISTINCT o_custkey FROM orders
      |        WHERE o_orderstatus = 'F') o
      |  JOIN c ON c.c_custkey = o.o_custkey GROUP BY 1, 2)
      |SELECT n.n_name, pop.segment, pop.pop,
      |  CAST(coalesce(r.resp, 0) AS BIGINT) AS resp, pop.true_cents,
      |  CAST(coalesce(CASE WHEN r.rc >= 0
      |    THEN (CAST(pop.pop AS HUGEINT) * r.rc) // r.resp
      |    ELSE -((CAST(pop.pop AS HUGEINT) * (-r.rc)) // r.resp)
      |    END, 0) AS BIGINT) AS ht_cents,
      |  CAST(CASE WHEN r.resp IS NOT NULL THEN 1 ELSE 0 END AS INT)
      |    AS covered,
      |  CAST(CASE WHEN r.resp IS NOT NULL
      |    THEN coalesce(CASE WHEN r.rc >= 0
      |      THEN (CAST(pop.pop AS HUGEINT) * r.rc) // r.resp
      |      ELSE -((CAST(pop.pop AS HUGEINT) * (-r.rc)) // r.resp)
      |      END, 0) - pop.true_cents
      |    ELSE 0 END AS BIGINT) AS diff_cents
      |FROM pop
      |LEFT JOIN r ON r.nk = pop.nk AND r.segment = pop.segment
      |JOIN nation n ON n.n_nationkey = pop.nk""".stripMargin

  /** #264 stratum proportion variance with FPC — the margin-of-error
    * input (variance, not its square root — the fold stays exact
    * integer): per nation stratum, p̂ = share of respondents who are
    * repeat buyers (≥2 fulfilled orders), sampling variance
    * p̂(1−p̂)/n scaled by the finite-population correction
    * (N−n)/(N−1). p_ppm, var and var·FPC in ppm² units (q12), all
    * nonnegative integer div. The per-customer order count comes from
    * ONE fact-side aggregate joined left to the frame; strata with no
    * respondents are dropped (variance of an empty sample is
    * undefined, not zero). */
  private def stratumVariance(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey").cast("long").as("nk"))
    val perCust = parallelize(s, t(s, dir, "orders"))
      .filter(col("o_orderstatus") === "F")
      .groupBy(col("o_custkey").as("c_custkey"))
      .agg(count(lit(1)).as("__n"))
    cust.join(perCust, Seq("c_custkey"), "left")
      .select(col("nk"), col("__n").isNotNull.cast("long").as("__r"),
        (coalesce(col("__n"), lit(0L)) >= 2).cast("long").as("__y"))
      .groupBy("nk")
      .agg(count(lit(1)).as("pop"), sum("__r").as("resp"),
        sum("__y").as("n_repeat"))
      .filter(col("resp") > 0)
      .join(broadcast(t(s, dir, "nation")
        .select(col("n_nationkey").cast("long").as("nk"), col("n_name"))),
        Seq("nk"))
      .select(col("n_name"), col("pop"), col("resp"), col("n_repeat"),
        expr("(n_repeat * 1000000) div resp").as("p_ppm"))
      .withColumn("var_q12", expr("(p_ppm * (1000000 - p_ppm)) div resp"))
      .withColumn("var_fpc_q12",
        expr("CASE WHEN pop > 1" +
          " THEN (var_q12 * (pop - resp)) div (pop - 1) ELSE 0 END"))
  }

  private val stratumVarianceSql =
    """WITH pc AS (
      |  SELECT o_custkey AS c_custkey, CAST(count(*) AS BIGINT) AS n
      |  FROM orders WHERE o_orderstatus = 'F' GROUP BY 1),
      |f AS (
      |  SELECT CAST(c.c_nationkey AS BIGINT) AS nk,
      |    CASE WHEN pc.n IS NOT NULL THEN 1 ELSE 0 END AS r,
      |    CASE WHEN coalesce(pc.n, 0) >= 2 THEN 1 ELSE 0 END AS y
      |  FROM customer c LEFT JOIN pc ON pc.c_custkey = c.c_custkey),
      |a AS (
      |  SELECT nk, CAST(count(*) AS BIGINT) AS pop,
      |    CAST(sum(r) AS BIGINT) AS resp,
      |    CAST(sum(y) AS BIGINT) AS n_repeat
      |  FROM f GROUP BY 1),
      |b AS (
      |  SELECT nk, pop, resp, n_repeat,
      |    (n_repeat * 1000000) // resp AS p_ppm
      |  FROM a WHERE resp > 0),
      |v AS (
      |  SELECT nk, pop, resp, n_repeat, p_ppm,
      |    (p_ppm * (1000000 - p_ppm)) // resp AS var_q12
      |  FROM b)
      |SELECT n.n_name, v.pop, v.resp, v.n_repeat,
      |  CAST(v.p_ppm AS BIGINT) AS p_ppm,
      |  CAST(v.var_q12 AS BIGINT) AS var_q12,
      |  CAST(CASE WHEN v.pop > 1
      |    THEN (v.var_q12 * (v.pop - v.resp)) // (v.pop - 1)
      |    ELSE 0 END AS BIGINT) AS var_fpc_q12
      |FROM v JOIN nation n ON n.n_nationkey = v.nk""".stripMargin

  /** #266 intra-cluster correlation (one-way ANOVA ICC) — the number
    * that justifies q_design_effect's cluster penalty (deff =
    * 1+(m−1)·ICC): how correlated are order values WITHIN a customer?
    * Balanced m=2 design — each ≥2-order customer's first two orders
    * by (o_orderdate, o_orderkey) — keeps the ANOVA fold EXACT
    * integer: with per-cluster sums S_j, squares Q_j (cents, cents²),
    * k clusters, A=ΣQ, B=ΣS², T=ΣS, the m=2 identity gives
    *   ICC = (kB − T² − (k−1)(2A−B)) / (kB − T² + (k−1)(2A−B))
    * in one sign-split ppm division — no per-cluster S²/n fraction
    * ever materializes (a float Σ S²/n would be summation-order
    * dependent across engines). DECIMAL(38) headroom: T² < 1e38 up to
    * ~1e12 clusters of 1e7-cent orders. One per-customer window
    * (partitioned, no global sort) + one aggregate. */
  private def iccAnova(s: SparkSession, dir: String): DataFrame = {
    val byCust = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val first2 = parallelize(s, t(s, dir, "orders"))
      .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
          .as("__cents"))
      .withColumn("__rn", row_number().over(byCust))
      .filter(col("__rn") <= 2)
    val clusters = first2.groupBy("o_custkey")
      .agg(count(lit(1)).as("__m"), sum("__cents").as("__s"),
        sum(expr("CAST(__cents AS DECIMAL(38,0)) * __cents")).as("__q"))
      .filter(col("__m") === 2)
    clusters.agg(
        count(lit(1)).as("k"),
        sum("__q").cast("decimal(38,0)").as("__a"),
        sum(expr("CAST(__s AS DECIMAL(38,0)) * __s")).cast("decimal(38,0)")
          .as("__b"),
        sum("__s").cast("decimal(38,0)").as("__t"))
      .select(col("k"), (col("k") * 2).as("n_obs"),
        expr("""CAST(CASE
          WHEN k * __b - __t * __t - (k - 1) * (2 * __a - __b) >= 0
          THEN ((k * __b - __t * __t - (k - 1) * (2 * __a - __b)) * 1000000)
               div (k * __b - __t * __t + (k - 1) * (2 * __a - __b))
          ELSE -(((__t * __t + (k - 1) * (2 * __a - __b) - k * __b) * 1000000)
               div (k * __b - __t * __t + (k - 1) * (2 * __a - __b)))
          END AS BIGINT)""").as("icc_ppm"))
  }

  private val iccAnovaSql =
    """WITH o AS (
      |  SELECT o_custkey,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
      |    row_number() OVER (PARTITION BY o_custkey
      |                       ORDER BY o_orderdate, o_orderkey) AS rn
      |  FROM orders),
      |c AS (
      |  SELECT o_custkey, count(*) AS m,
      |    sum(cents) AS s, sum(CAST(cents AS HUGEINT) * cents) AS q
      |  FROM o WHERE rn <= 2 GROUP BY 1),
      |f AS (
      |  SELECT CAST(count(*) AS BIGINT) AS k,
      |    CAST(sum(q) AS HUGEINT) AS a,
      |    CAST(sum(CAST(s AS HUGEINT) * s) AS HUGEINT) AS b,
      |    CAST(sum(s) AS HUGEINT) AS t
      |  FROM c WHERE m = 2)
      |SELECT k, CAST(k * 2 AS BIGINT) AS n_obs,
      |  CAST(CASE
      |    WHEN k * b - t * t - (k - 1) * (2 * a - b) >= 0
      |    THEN ((k * b - t * t - (k - 1) * (2 * a - b)) * 1000000)
      |         // (k * b - t * t + (k - 1) * (2 * a - b))
      |    ELSE -(((t * t + (k - 1) * (2 * a - b) - k * b) * 1000000)
      |         // (k * b - t * t + (k - 1) * (2 * a - b)))
      |    END AS BIGINT) AS icc_ppm
      |FROM f""".stripMargin

  /** #267 NPS table — the survey world's headline score, derived from
    * a deterministic 0–10 rating: each customer's rating is its
    * account-balance rank band within the market segment
    * (((rank−1)·11) div n, ranks on (cents, custkey) so ties are
    * broken totally — no engine-dependent tie order). Promoters 9–10,
    * passives 7–8, detractors 0–6; NPS = (prom − det)/n sign-split to
    * ppm. The rank window partitions by segment — at 100 TB the
    * per-segment sort is the documented cost of exact rank banding
    * (the #157 RFM precedent); everything after is one O(segments)
    * aggregate. */
  private def npsTable(s: SparkSession, dir: String): DataFrame = {
    val bySeg = Window.partitionBy("segment")
      .orderBy(col("__cents"), col("c_custkey"))
    val rated = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment").as("segment"),
        (col("c_acctbal").cast("decimal(18,2)") * 100).cast("long")
          .as("__cents"))
      .withColumn("__rk", row_number().over(bySeg).cast("long"))
    val n = Window.partitionBy("segment")
    rated
      .withColumn("__n", count(lit(1)).over(n))
      .withColumn("score", expr("((__rk - 1) * 11) div __n"))
      .groupBy("segment")
      .agg(count(lit(1)).as("n_resp"),
        sum((col("score") >= 9).cast("long")).as("n_promoter"),
        sum((col("score").between(7, 8)).cast("long")).as("n_passive"),
        sum((col("score") <= 6).cast("long")).as("n_detractor"))
      .withColumn("nps_ppm",
        expr("""CASE WHEN n_promoter - n_detractor >= 0
          THEN ((n_promoter - n_detractor) * 1000000) div n_resp
          ELSE -(((n_detractor - n_promoter) * 1000000) div n_resp)
          END"""))
  }

  private val npsTableSql =
    """WITH r AS (
      |  SELECT c_mktsegment AS segment,
      |    CAST(row_number() OVER (PARTITION BY c_mktsegment
      |      ORDER BY CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT),
      |               c_custkey) AS BIGINT) AS rk,
      |    CAST(count(*) OVER (PARTITION BY c_mktsegment) AS BIGINT) AS n
      |  FROM customer),
      |sc AS (SELECT segment, ((rk - 1) * 11) // n AS score FROM r),
      |a AS (
      |  SELECT segment, CAST(count(*) AS BIGINT) AS n_resp,
      |    CAST(sum(CASE WHEN score >= 9 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_promoter,
      |    CAST(sum(CASE WHEN score BETWEEN 7 AND 8 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_passive,
      |    CAST(sum(CASE WHEN score <= 6 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_detractor
      |  FROM sc GROUP BY 1)
      |SELECT segment, n_resp, n_promoter, n_passive, n_detractor,
      |  CAST(CASE WHEN n_promoter - n_detractor >= 0
      |    THEN ((n_promoter - n_detractor) * 1000000) // n_resp
      |    ELSE -(((n_detractor - n_promoter) * 1000000) // n_resp)
      |    END AS BIGINT) AS nps_ppm
      |FROM a""".stripMargin

  /** #268 Wilson score interval — the 95% CI a survey report prints
    * next to every proportion (Wilson 1927; the interval that behaves
    * at small n and extreme p̂ where Wald fails): per segment,
    * conversion = share of customers with ≥1 fulfilled order. Counts
    * are exact integers; the interval itself follows the repo's
    * test-statistic discipline (#168 Welch, #173 runs test): ONE
    * double expression written with identical text and operation
    * order on both engines, rounded to 6 dp — IEEE doubles make
    * sqrt/÷ correctly rounded, so identical expressions agree
    * bit-for-bit. z = 1.96, z² = 3.8416. */
  private def wilsonCi(s: SparkSession, dir: String): DataFrame = {
    val conv = parallelize(s, t(s, dir, "orders"))
      .filter(col("o_orderstatus") === "F")
      .select(col("o_custkey").as("c_custkey")).distinct()
      .withColumn("__c", lit(1L))
    t(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment").as("segment"))
      .join(conv, Seq("c_custkey"), "left")
      .groupBy("segment")
      .agg(count(lit(1)).as("n"),
        sum(coalesce(col("__c"), lit(0L))).as("k"))
      .withColumn("p_hat",
        expr("round(CAST(k AS DOUBLE) / CAST(n AS DOUBLE), 6)"))
      .withColumn("wilson_lo", expr(
        """round((CAST(k AS DOUBLE) + 1.9208) / (CAST(n AS DOUBLE) + 3.8416)
          - 1.96 * sqrt(CAST(k AS DOUBLE) * CAST(n - k AS DOUBLE)
              / CAST(n AS DOUBLE) + 0.9604)
            / (CAST(n AS DOUBLE) + 3.8416), 6)"""))
      .withColumn("wilson_hi", expr(
        """round((CAST(k AS DOUBLE) + 1.9208) / (CAST(n AS DOUBLE) + 3.8416)
          + 1.96 * sqrt(CAST(k AS DOUBLE) * CAST(n - k AS DOUBLE)
              / CAST(n AS DOUBLE) + 0.9604)
            / (CAST(n AS DOUBLE) + 3.8416), 6)"""))
  }

  private val wilsonCiSql =
    """WITH conv AS (
      |  SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'),
      |a AS (
      |  SELECT c.c_mktsegment AS segment, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CASE WHEN conv.o_custkey IS NOT NULL THEN 1 ELSE 0 END)
      |      AS BIGINT) AS k
      |  FROM customer c LEFT JOIN conv ON conv.o_custkey = c.c_custkey
      |  GROUP BY 1)
      |SELECT segment, n, k,
      |  round(CAST(k AS DOUBLE) / CAST(n AS DOUBLE), 6) AS p_hat,
      |  round((CAST(k AS DOUBLE) + 1.9208) / (CAST(n AS DOUBLE) + 3.8416)
      |    - 1.96 * sqrt(CAST(k AS DOUBLE) * CAST(n - k AS DOUBLE)
      |        / CAST(n AS DOUBLE) + 0.9604)
      |      / (CAST(n AS DOUBLE) + 3.8416), 6) AS wilson_lo,
      |  round((CAST(k AS DOUBLE) + 1.9208) / (CAST(n AS DOUBLE) + 3.8416)
      |    + 1.96 * sqrt(CAST(k AS DOUBLE) * CAST(n - k AS DOUBLE)
      |        / CAST(n AS DOUBLE) + 0.9604)
      |      / (CAST(n AS DOUBLE) + 3.8416), 6) AS wilson_hi
      |FROM a""".stripMargin

  /** #270 exact weighted median — the robust per-group location
    * statistic (median price weighted by shipped quantity, per return
    * flag): compress first (groupBy (flag, cents) summing integer
    * quantity — the window then runs over the DISTINCT-PRICE domain,
    * not the row count, so the per-flag sort is bounded by price
    * cardinality at any data scale), cumulative weight per flag, pick
    * the smallest price where 2·cum ≥ total (the lower weighted
    * median — deterministic, no interpolation). Exact integers
    * end-to-end. */
  private def weightedMedian(s: SparkSession, dir: String): DataFrame = {
    val compressed = parallelize(s, t(s, dir, "lineitem"))
      .select(col("l_returnflag").as("flag"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"),
        col("l_quantity").cast("long").as("__w"))
      .groupBy("flag", "cents").agg(sum("__w").as("__w"))
    val byFlag = Window.partitionBy("flag").orderBy("cents")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    compressed
      .withColumn("__cum", sum("__w").over(byFlag))
      .withColumn("__tot",
        sum("__w").over(Window.partitionBy("flag")))
      .filter(col("__cum") * 2 >= col("__tot"))
      .groupBy("flag")
      .agg(min("cents").as("median_cents"), max("__tot").as("total_weight"))
  }

  private val weightedMedianSql =
    """WITH c AS (
      |  SELECT l_returnflag AS flag,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS cents,
      |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
      |  FROM lineitem GROUP BY 1, 2),
      |s AS (
      |  SELECT flag, cents,
      |    sum(w) OVER (PARTITION BY flag ORDER BY cents
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    sum(w) OVER (PARTITION BY flag) AS tot
      |  FROM c)
      |SELECT flag, CAST(min(cents) AS BIGINT) AS median_cents,
      |  CAST(max(tot) AS BIGINT) AS total_weight
      |FROM s WHERE cum * 2 >= tot GROUP BY 1""".stripMargin

  /** #271 jackknife variance (JK1, delete-one-group) — the survey
    * world's workhorse replication-variance estimator (Quenouille/
    * Tukey; AAPOR practice): θ = mean fulfilled-order value in cents
    * (ratio of two totals), groups = the 25 nations via the ordering
    * customer. Leave-one-out replicates θ_j = (Ty−y_j) div (Tn−n_j)
    * are integer cents; the replicate spread folds EXACTLY via
    * Σ(θ_j−θ̄)² = (kΣθ² − (Σθ)²)/k, so jk_var = (k−1)(kΣθ²−S²) div k²
    * never materializes a float mean. One fact-side aggregate
    * (orders⋈customer co-partitioned on custkey), one O(k) fold with
    * the 1-row totals broadcast. */
  private def jackknife(s: SparkSession, dir: String): DataFrame = {
    val perNation = parallelize(s, t(s, dir, "orders"))
      .filter(col("o_orderstatus") === "F")
      .select(col("o_custkey").as("c_custkey"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
          .as("__cents"))
      .join(t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey").cast("long").as("nk")),
        Seq("c_custkey"))
      .groupBy("nk")
      .agg(sum("__cents").as("__y"), count(lit(1)).as("__n"))
    val tot = perNation.agg(sum("__y").as("__ty"), sum("__n").as("__tn"),
      count(lit(1)).as("k"))
    val reps = perNation.crossJoin(broadcast(tot))
      .filter(col("__tn") > col("__n"))
      .select(col("k"),
        expr("(__ty - __y) div (__tn - __n)").as("__theta"),
        expr("__ty div __tn").as("theta_full_cents"))
    reps.groupBy("k", "theta_full_cents")
      .agg(count(lit(1)).as("k_used"),
        sum(expr("CAST(__theta AS DECIMAL(38,0)) * __theta")).as("__qq"),
        sum("__theta").cast("decimal(38,0)").as("__s"))
      .select(col("k"), col("k_used"), col("theta_full_cents"),
        expr("""CAST(((k_used - 1) * (k_used * __qq - __s * __s))
          div (CAST(k_used AS DECIMAL(38,0)) * k_used) AS BIGINT)""")
          .as("jk_var_cents2"))
  }

  private val jackknifeSql =
    """WITH pn AS (
      |  SELECT CAST(c.c_nationkey AS BIGINT) AS nk,
      |    CAST(sum(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
      |      AS BIGINT)) AS BIGINT) AS y,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      |  WHERE o.o_orderstatus = 'F' GROUP BY 1),
      |tot AS (SELECT CAST(sum(y) AS BIGINT) AS ty,
      |        CAST(sum(n) AS BIGINT) AS tn,
      |        CAST(count(*) AS BIGINT) AS k FROM pn),
      |reps AS (
      |  SELECT t.k, (t.ty - pn.y) // (t.tn - pn.n) AS theta,
      |    t.ty // t.tn AS theta_full
      |  FROM pn, tot t WHERE t.tn > pn.n)
      |SELECT k, CAST(count(*) AS BIGINT) AS k_used,
      |  CAST(theta_full AS BIGINT) AS theta_full_cents,
      |  CAST(((count(*) - 1)
      |      * (count(*) * sum(CAST(theta AS HUGEINT) * theta)
      |         - sum(CAST(theta AS HUGEINT)) * sum(CAST(theta AS HUGEINT))))
      |    // (CAST(count(*) AS HUGEINT) * count(*)) AS BIGINT)
      |    AS jk_var_cents2
      |FROM reps GROUP BY k, theta_full""".stripMargin

  /** #272 ratio estimator — the auxiliary-variable expansion estimator
    * (Cochran ch. 6): estimate each nation's FULFILLED spend from a
    * deterministic 1-in-5 customer sample (custkey mod 5 = 0), using
    * total spend (all statuses) as the auxiliary x known for the whole
    * frame. Ŷ = X_pop · (y_s/x_s) folds as (X_pop·y_s) div x_s in
    * exact cents (all quantities ≥ 0 — no sign split needed); the
    * error column is the estimator's measured bias vs the true total.
    * ONE per-customer aggregate feeds both the frame totals and the
    * sample ratio — the fact table is scanned once. */
  private def ratioEstimator(s: SparkSession, dir: String): DataFrame = {
    val perCust = parallelize(s, t(s, dir, "orders"))
      .select(col("o_custkey").as("c_custkey"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
          .as("__x"),
        when(col("o_orderstatus") === "F",
          (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
          .otherwise(0L).as("__y"))
      .groupBy("c_custkey")
      .agg(sum("__x").as("__x"), sum("__y").as("__y"))
      .join(t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey").cast("long").as("nk")),
        Seq("c_custkey"))
    perCust.groupBy("nk")
      .agg(sum("__x").as("x_pop"), sum("__y").as("y_true"),
        sum(when(pmod(col("c_custkey"), lit(5)) === 0, col("__x"))
          .otherwise(0L)).as("x_sample"),
        sum(when(pmod(col("c_custkey"), lit(5)) === 0, col("__y"))
          .otherwise(0L)).as("y_sample"))
      .filter(col("x_sample") > 0)
      .join(broadcast(t(s, dir, "nation")
        .select(col("n_nationkey").cast("long").as("nk"), col("n_name"))),
        Seq("nk"))
      .select(col("n_name"), col("x_pop"), col("x_sample"), col("y_sample"),
        col("y_true"),
        expr("CAST((CAST(x_pop AS DECIMAL(38,0)) * y_sample) div x_sample" +
          " AS BIGINT)").as("y_ratio_cents"))
      .withColumn("bias_cents", expr("y_ratio_cents - y_true"))
  }

  private val ratioEstimatorSql =
    """WITH pc AS (
      |  SELECT o_custkey AS c_custkey,
      |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
      |      AS BIGINT)) AS BIGINT) AS x,
      |    CAST(sum(CASE WHEN o_orderstatus = 'F'
      |      THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      ELSE 0 END) AS BIGINT) AS y
      |  FROM orders GROUP BY 1),
      |a AS (
      |  SELECT CAST(c.c_nationkey AS BIGINT) AS nk,
      |    CAST(sum(pc.x) AS BIGINT) AS x_pop,
      |    CAST(sum(pc.y) AS BIGINT) AS y_true,
      |    CAST(sum(CASE WHEN pc.c_custkey % 5 = 0 THEN pc.x ELSE 0 END)
      |      AS BIGINT) AS x_sample,
      |    CAST(sum(CASE WHEN pc.c_custkey % 5 = 0 THEN pc.y ELSE 0 END)
      |      AS BIGINT) AS y_sample
      |  FROM pc JOIN customer c ON c.c_custkey = pc.c_custkey
      |  GROUP BY 1)
      |SELECT n.n_name, a.x_pop, a.x_sample, a.y_sample, a.y_true,
      |  CAST((CAST(a.x_pop AS HUGEINT) * a.y_sample) // a.x_sample
      |    AS BIGINT) AS y_ratio_cents,
      |  CAST((CAST(a.x_pop AS HUGEINT) * a.y_sample) // a.x_sample - a.y_true
      |    AS BIGINT) AS bias_cents
      |FROM a JOIN nation n ON n.n_nationkey = a.nk
      |WHERE a.x_sample > 0""".stripMargin

  /** #274 hot-deck imputation — the item-nonresponse repair every
    * survey pipeline runs before estimation: balances of a
    * deterministic 1-in-7 of customers (custkey mod 7 = 3) are treated
    * as item-missing; each imputation cell (nation × segment) donates
    * its highest-custkey OBSERVED balance (max_by — custkey is unique,
    * so the donor is total-order deterministic in both engines).
    * Output per cell: missing count, donor value, and the imputation
    * bias (n_missing·donor − true missing total, exact cents). Cells
    * with no donor drop (nothing to impute FROM — surfaced by
    * n_cells vs the frame, not faked). One groupBy over the frame;
    * O(cells) output. */
  private def hotDeck(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey").cast("long").as("nk"),
        col("c_mktsegment").as("segment"),
        (col("c_acctbal").cast("decimal(18,2)") * 100).cast("long")
          .as("__cents"),
        (pmod(col("c_custkey"), lit(7)) === 3).cast("long").as("__miss"))
      .groupBy("nk", "segment")
      .agg(count(lit(1)).as("n_total"), sum("__miss").as("n_missing"),
        max_by(when(col("__miss") === 0, col("__cents")),
          when(col("__miss") === 0, col("c_custkey"))).as("donor_cents"),
        sum(when(col("__miss") === 1, col("__cents")).otherwise(0L))
          .as("true_missing_cents"))
      .filter(col("donor_cents").isNotNull)
      .join(broadcast(t(s, dir, "nation")
        .select(col("n_nationkey").cast("long").as("nk"), col("n_name"))),
        Seq("nk"))
      .select(col("n_name"), col("segment"), col("n_total"),
        col("n_missing"), col("donor_cents"), col("true_missing_cents"),
        expr("n_missing * donor_cents - true_missing_cents")
          .as("bias_cents"))

  private val hotDeckSql =
    """WITH c AS (
      |  SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS nk,
      |    c_mktsegment AS segment,
      |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
      |    CASE WHEN c_custkey % 7 = 3 THEN 1 ELSE 0 END AS miss
      |  FROM customer),
      |a AS (
      |  SELECT nk, segment, CAST(count(*) AS BIGINT) AS n_total,
      |    CAST(sum(miss) AS BIGINT) AS n_missing,
      |    arg_max(CASE WHEN miss = 0 THEN cents END,
      |            CASE WHEN miss = 0 THEN c_custkey END) AS donor_cents,
      |    CAST(sum(CASE WHEN miss = 1 THEN cents ELSE 0 END) AS BIGINT)
      |      AS true_missing_cents
      |  FROM c GROUP BY 1, 2)
      |SELECT n.n_name, a.segment, a.n_total, a.n_missing,
      |  CAST(a.donor_cents AS BIGINT) AS donor_cents, a.true_missing_cents,
      |  CAST(a.n_missing * a.donor_cents - a.true_missing_cents AS BIGINT)
      |    AS bias_cents
      |FROM a JOIN nation n ON n.n_nationkey = a.nk
      |WHERE a.donor_cents IS NOT NULL""".stripMargin

  /** #277 Cochran–Armitage trend test — does a binary outcome TREND
    * across ordered dose groups (Cochran 1954, Armitage 1955; the
    * survey analyst's "does fulfillment fall with priority level?"
    * gate, stricter than the unordered χ²)? Groups are the five order
    * priorities scored w = 1..5, outcome = fulfilled. ONE
    * partial-aggregated groupBy produces the O(5) (w, n_w, x_w)
    * table; the counts and weighted sums fold exactly as BIGINTs, and
    * the statistic follows the test-statistic double discipline
    * (#168/#268): z divides EARLY (p̄, w̄ ≤ 25 — every double operand
    * is small-scale or an exact BIGINT < 2^53), one identical
    * expression text on both engines, rounded to 6 dp. Degenerate
    * trends (all success / all failure / one group) emit z = 0. */
  private def cochranArmitage(s: SparkSession, dir: String): DataFrame = {
    val g = parallelize(s, t(s, dir, "orders"))
      .select(substring(col("o_orderpriority"), 1, 1).cast("long").as("__w"),
        (col("o_orderstatus") === "F").cast("long").as("__y"))
      .groupBy("__w").agg(count(lit(1)).as("__n"), sum("__y").as("__x"))
    g.agg(count(lit(1)).as("k"), sum("__n").as("n"), sum("__x").as("x"),
        sum(expr("__w * __n")).as("sw"),
        sum(expr("__w * __w * __n")).as("sww"),
        sum(expr("__w * __x")).as("sx"))
      .withColumn("z_trend", expr(CochranZExpr))
  }

  /** The trend-z fold over columns (k, n, x, sw, sww, sx) — shared
    * with the oracle verbatim. Dividing by n FIRST keeps every
    * intermediate small-scale (p̄ ≤ 1, w̄ ≤ 9, variances ≤ 81), so
    * round(·, 6) is legitimate under the §5 output-cast discipline;
    * the casts route BIGINT→DOUBLE only. */
  private[graft] val CochranZExpr: String =
    """round(CASE
      WHEN x > 0 AND x < n AND k > 1
       AND CAST(sww AS DOUBLE) / CAST(n AS DOUBLE)
           - (CAST(sw AS DOUBLE) / CAST(n AS DOUBLE))
             * (CAST(sw AS DOUBLE) / CAST(n AS DOUBLE)) > 0
      THEN (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)
            - (CAST(x AS DOUBLE) / CAST(n AS DOUBLE))
              * (CAST(sw AS DOUBLE) / CAST(n AS DOUBLE)))
           * sqrt(CAST(n AS DOUBLE))
           / sqrt((CAST(x AS DOUBLE) / CAST(n AS DOUBLE))
                  * (1.0 - CAST(x AS DOUBLE) / CAST(n AS DOUBLE))
                  * (CAST(sww AS DOUBLE) / CAST(n AS DOUBLE)
                     - (CAST(sw AS DOUBLE) / CAST(n AS DOUBLE))
                       * (CAST(sw AS DOUBLE) / CAST(n AS DOUBLE))))
      ELSE 0.0 END, 6)"""

  private lazy val cochranArmitageSql =
    s"""WITH g AS (
       |  SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS w,
       |    CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS x
       |  FROM orders GROUP BY 1),
       |f AS (
       |  SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n) AS BIGINT) AS n,
       |    CAST(sum(x) AS BIGINT) AS x, CAST(sum(w * n) AS BIGINT) AS sw,
       |    CAST(sum(w * w * n) AS BIGINT) AS sww,
       |    CAST(sum(w * x) AS BIGINT) AS sx
       |  FROM g)
       |SELECT k, n, x, sw, sww, sx,
       |  ${CochranZExpr.replace("\n", " ")} AS z_trend
       |FROM f""".stripMargin

  /** #279 GREG (regression/calibration) estimator — the
    * model-assisted generalization of #272's ratio estimator
    * (Deville & Särndal 1992, Cochran ch. 7): per nation, estimate
    * the fulfilled spend of the FULL frame from the deterministic
    * 1-in-5 customer sample, calibrated on total spend as the
    * auxiliary with an intercept: Ŷ = N·ȳ_s + B̂(X_pop − N·x̄_s),
    * B̂ = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²). Unlike the ratio form, GREG
    * survives a nonzero intercept in the y-x relation. The whole
    * fold is EXACT staged-integer: the moment sums are DECIMAL(38)
    * folds off ONE per-customer aggregate (the fact table is scanned
    * once, same as #272), B̂ lands as sign-split ppm, and the
    * adjustment divides b_ppm·(n·X_pop − N·Σx) by n·1e6 — every
    * intermediate ≤ ~1e31 at sf100, no doubles anywhere. Zero
    * x-variance cells fall back to the expansion estimator (b=0). */
  private def gregEstimator(s: SparkSession, dir: String): DataFrame = {
    val perCust = parallelize(s, t(s, dir, "orders"))
      .select(col("o_custkey").as("c_custkey"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
          .as("__x"),
        when(col("o_orderstatus") === "F",
          (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
          .otherwise(0L).as("__y"))
      .groupBy("c_custkey")
      .agg(sum("__x").as("__x"), sum("__y").as("__y"))
      .join(t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey").cast("long").as("nk")),
        Seq("c_custkey"))
    perCust.groupBy("nk")
      .agg(count(lit(1)).as("n_frame"),
        sum("__x").as("x_pop"), sum("__y").as("y_true"),
        sum(when(pmod(col("c_custkey"), lit(5)) === 0, 1L).otherwise(0L))
          .as("n_sample"),
        sum(when(pmod(col("c_custkey"), lit(5)) === 0, col("__x"))
          .otherwise(0L)).as("sx"),
        sum(when(pmod(col("c_custkey"), lit(5)) === 0, col("__y"))
          .otherwise(0L)).as("sy"),
        sum(when(pmod(col("c_custkey"), lit(5)) === 0,
          expr("CAST(__x AS DECIMAL(38,0)) * __x")).otherwise(lit(0)))
          .cast("decimal(38,0)").as("__sxx"),
        sum(when(pmod(col("c_custkey"), lit(5)) === 0,
          expr("CAST(__x AS DECIMAL(38,0)) * __y")).otherwise(lit(0)))
          .cast("decimal(38,0)").as("__sxy"))
      .filter(col("n_sample") > 0)
      .join(broadcast(t(s, dir, "nation")
        .select(col("n_nationkey").cast("long").as("nk"), col("n_name"))),
        Seq("nk"))
      .withColumn("__dx", expr(
        "n_sample * __sxx - CAST(sx AS DECIMAL(38,0)) * sx"))
      .withColumn("__bn", expr(
        "n_sample * __sxy - CAST(sx AS DECIMAL(38,0)) * sy"))
      .withColumn("b_ppm", expr(
        """CAST(CASE WHEN __dx <= 0 THEN 0
          WHEN __bn >= 0 THEN (__bn * 1000000) div __dx
          ELSE -((-__bn * 1000000) div __dx) END AS BIGINT)"""))
      .withColumn("__u", expr(
        "n_sample * CAST(x_pop AS DECIMAL(38,0)) - n_frame * CAST(sx AS DECIMAL(38,0))"))
      .withColumn("y_greg_cents", expr(
        """CAST((n_frame * CAST(sy AS DECIMAL(38,0))) div n_sample
          + CASE WHEN b_ppm * __u >= 0
            THEN (b_ppm * __u) div (n_sample * CAST(1000000 AS DECIMAL(38,0)))
            ELSE -((-(b_ppm * __u))
                   div (n_sample * CAST(1000000 AS DECIMAL(38,0))))
            END AS BIGINT)"""))
      .select(col("n_name"), col("n_frame"), col("n_sample"), col("x_pop"),
        col("y_true"), col("b_ppm"), col("y_greg_cents"),
        expr("y_greg_cents - y_true").as("bias_cents"))
  }

  private val gregEstimatorSql =
    """WITH pc AS (
      |  SELECT o_custkey AS c_custkey,
      |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
      |      AS BIGINT)) AS BIGINT) AS x,
      |    CAST(sum(CASE WHEN o_orderstatus = 'F'
      |      THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      ELSE 0 END) AS BIGINT) AS y
      |  FROM orders GROUP BY 1),
      |a AS (
      |  SELECT CAST(c.c_nationkey AS BIGINT) AS nk,
      |    CAST(count(*) AS BIGINT) AS n_frame,
      |    CAST(sum(pc.x) AS BIGINT) AS x_pop,
      |    CAST(sum(pc.y) AS BIGINT) AS y_true,
      |    CAST(sum(CASE WHEN pc.c_custkey % 5 = 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_sample,
      |    CAST(sum(CASE WHEN pc.c_custkey % 5 = 0 THEN pc.x ELSE 0 END)
      |      AS BIGINT) AS sx,
      |    CAST(sum(CASE WHEN pc.c_custkey % 5 = 0 THEN pc.y ELSE 0 END)
      |      AS BIGINT) AS sy,
      |    coalesce(sum(CASE WHEN pc.c_custkey % 5 = 0
      |      THEN CAST(pc.x AS HUGEINT) * pc.x END), 0) AS sxx,
      |    coalesce(sum(CASE WHEN pc.c_custkey % 5 = 0
      |      THEN CAST(pc.x AS HUGEINT) * pc.y END), 0) AS sxy
      |  FROM pc JOIN customer c ON c.c_custkey = pc.c_custkey
      |  GROUP BY 1),
      |b AS (
      |  SELECT a.*,
      |    a.n_sample * a.sxx - CAST(a.sx AS HUGEINT) * a.sx AS dx,
      |    a.n_sample * a.sxy - CAST(a.sx AS HUGEINT) * a.sy AS bn,
      |    a.n_sample * CAST(a.x_pop AS HUGEINT)
      |      - a.n_frame * CAST(a.sx AS HUGEINT) AS u
      |  FROM a WHERE a.n_sample > 0),
      |c AS (
      |  SELECT b.*,
      |    CAST(CASE WHEN b.dx <= 0 THEN 0
      |      WHEN b.bn >= 0 THEN (b.bn * 1000000) // b.dx
      |      ELSE -((-b.bn * 1000000) // b.dx) END AS HUGEINT) AS b_ppm
      |  FROM b)
      |SELECT n.n_name, c.n_frame, c.n_sample, c.x_pop, c.y_true,
      |  CAST(c.b_ppm AS BIGINT) AS b_ppm,
      |  CAST((c.n_frame * CAST(c.sy AS HUGEINT)) // c.n_sample
      |    + CASE WHEN c.b_ppm * c.u >= 0
      |      THEN (c.b_ppm * c.u) // (c.n_sample * CAST(1000000 AS HUGEINT))
      |      ELSE -((-(c.b_ppm * c.u))
      |             // (c.n_sample * CAST(1000000 AS HUGEINT)))
      |      END AS BIGINT) AS y_greg_cents,
      |  CAST((c.n_frame * CAST(c.sy AS HUGEINT)) // c.n_sample
      |    + CASE WHEN c.b_ppm * c.u >= 0
      |      THEN (c.b_ppm * c.u) // (c.n_sample * CAST(1000000 AS HUGEINT))
      |      ELSE -((-(c.b_ppm * c.u))
      |             // (c.n_sample * CAST(1000000 AS HUGEINT)))
      |      END - c.y_true AS BIGINT) AS bias_cents
      |FROM c JOIN nation n ON n.n_nationkey = c.nk""".stripMargin

  /** #280 Cramér's V — effect-size for a nominal×nominal crosstab
    * (Cramér 1946): order priority × market segment over the full
    * order frame, the "is fieldwork outcome associated with segment?"
    * table a survey report prints with its χ². The crosstab is built
    * on the FULL k_r×k_c grid (distinct-priority × distinct-segment
    * cross join, observed counts left-joined — zero cells contribute
    * e_ij = r·c/N exactly like the textbook sum). χ² folds per cell
    * as ((o·N − r·c)²·1e6) div (N·r·c) — each term an exact
    * DECIMAL(38) integer division, then an integer SUM (deterministic
    * under any aggregation order, unlike a float Σ). V itself is a
    * small-scale double (χ²/(N·m) ≤ 1), so round(·,6) is legitimate
    * under §5. One fact-side groupBy; everything after runs on the
    * O(25) cell table. */
  private def cramersV(s: SparkSession, dir: String): DataFrame = {
    val base = parallelize(s, t(s, dir, "orders"))
      .select(substring(col("o_orderpriority"), 1, 1).as("__w"),
        col("o_custkey").as("c_custkey"))
      .join(t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment").as("__s")),
        Seq("c_custkey"))
    val cells = base.groupBy("__w", "__s").agg(count(lit(1)).as("__o"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rows = cells.groupBy("__w").agg(sum("__o").as("__r"))
    val cols = cells.groupBy("__s").agg(sum("__o").as("__k"))
    val tot = cells.agg(sum("__o").as("n"),
      count_distinct(col("__w")).as("k_r"),
      count_distinct(col("__s")).as("k_c"))
    // both sides are O(k) post-aggregation rows — broadcast keeps the
    // grid build off CartesianProduct (the EXPLAINS hygiene invariant)
    val grid = rows.crossJoin(broadcast(cols))
      .join(broadcast(cells), Seq("__w", "__s"), "left")
      .withColumn("__o", coalesce(col("__o"), lit(0L)))
    val chi2 = grid.crossJoin(broadcast(tot))
      .select(expr(
        """((CAST(__o AS DECIMAL(38,0)) * n - CAST(__r AS DECIMAL(38,0)) * __k)
          * (CAST(__o AS DECIMAL(38,0)) * n - CAST(__r AS DECIMAL(38,0)) * __k)
          * 1000000)
          div (CAST(n AS DECIMAL(38,0)) * __r * __k)""").as("__term"))
      .agg(sum("__term").cast("decimal(38,0)").as("__chi2q6"))
    tot.crossJoin(broadcast(chi2))
      .select(col("n"), col("k_r"), col("k_c"),
        col("__chi2q6").cast("long").as("chi2_q6"))
      .withColumn("cramers_v", expr(CramersVExpr))
  }

  /** V fold over (chi2_q6, n, k_r, k_c) — shared with the oracle;
    * chi2_q6/1e6/n/m ≤ 1, so the double stays small-scale. */
  private[graft] val CramersVExpr: String =
    """round(CASE
      WHEN n > 0 AND least(k_r, k_c) > 1
      THEN sqrt(CAST(chi2_q6 AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE)
                / CAST(least(k_r, k_c) - 1 AS DOUBLE))
      ELSE 0.0 END, 6)"""

  private lazy val cramersVSql =
    s"""WITH base AS (
       |  SELECT substr(o.o_orderpriority, 1, 1) AS w, c.c_mktsegment AS s
       |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
       |cells AS (SELECT w, s, CAST(count(*) AS BIGINT) AS o
       |          FROM base GROUP BY 1, 2),
       |r AS (SELECT w, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY 1),
       |k AS (SELECT s, CAST(sum(o) AS BIGINT) AS k FROM cells GROUP BY 1),
       |tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
       |  CAST(count(DISTINCT w) AS BIGINT) AS k_r,
       |  CAST(count(DISTINCT s) AS BIGINT) AS k_c FROM cells),
       |grid AS (
       |  SELECT r.w, k.s, r.r, k.k, coalesce(cells.o, 0) AS o
       |  FROM r CROSS JOIN k
       |  LEFT JOIN cells ON cells.w = r.w AND cells.s = k.s),
       |chi AS (
       |  SELECT CAST(sum(
       |    ((CAST(g.o AS HUGEINT) * t.n - CAST(g.r AS HUGEINT) * g.k)
       |     * (CAST(g.o AS HUGEINT) * t.n - CAST(g.r AS HUGEINT) * g.k)
       |     * 1000000)
       |    // (CAST(t.n AS HUGEINT) * g.r * g.k)) AS HUGEINT) AS chi2q6
       |  FROM grid g, tot t)
       |SELECT t.n, t.k_r, t.k_c, CAST(chi.chi2q6 AS BIGINT) AS chi2_q6,
       |  ${CramersVExpr.replace("\n", " ")} AS cramers_v
       |FROM tot t, chi""".stripMargin

  /** #282 one-way ANOVA — does mean order value differ across the five
    * order priorities? The five groups are a FIXED vocabulary, so the
    * per-group exact moments (n, Σ dollars, Σ dollars²) pivot into ONE
    * row of fixed-order columns and the F fold is a single deterministic
    * double expression — no cross-row double summation whose order an
    * engine could choose (the #278 fixed-order-fold discipline). Upstream
    * is one map-side-combinable groupBy; dollars are exact integer
    * truncations of the DECIMAL price, so every operand entering the
    * double fold is integer-exact in both engines. */
  private def anova(s: SparkSession, dir: String): DataFrame = {
    val g = parallelize(s, t(s, dir, "orders"))
      .select(substring(col("o_orderpriority"), 1, 1).as("__g"),
        // dollars via exact integral divide (DuckDB CAST(decimal AS
        // BIGINT) ROUNDS — the cents div 100 form floors in both)
        expr("CAST(CAST(o_totalprice * 100 AS DECIMAL(18,0)) div 100 AS BIGINT)")
          .as("__x"))
    val cells = g.groupBy("__g").agg(count(lit(1)).as("n"),
      sum("__x").as("s"), sum(col("__x") * col("__x")).as("q"))
    val pivotCols = (1 to 5).flatMap { i =>
      Seq(coalesce(sum(when(col("__g") === i.toString, col("n"))), lit(0L))
            .as(s"n$i"),
        coalesce(sum(when(col("__g") === i.toString, col("s"))), lit(0L))
          .as(s"s$i"),
        coalesce(sum(when(col("__g") === i.toString, col("q"))), lit(0L))
          .as(s"q$i"))
    }
    val one = cells.agg(pivotCols.head, pivotCols.tail: _*)
    one.withColumn("n", expr("n1 + n2 + n3 + n4 + n5"))
      .withColumn("k", expr(
        "CAST((CASE WHEN n1 > 0 THEN 1 ELSE 0 END) + (CASE WHEN n2 > 0 THEN 1 ELSE 0 END) + (CASE WHEN n3 > 0 THEN 1 ELSE 0 END) + (CASE WHEN n4 > 0 THEN 1 ELSE 0 END) + (CASE WHEN n5 > 0 THEN 1 ELSE 0 END) AS BIGINT)"))
      .withColumn("f_stat", expr(AnovaFExpr))
      .withColumn("eta2", expr(AnovaEtaExpr))
      .select("n", "k", "f_stat", "eta2")
  }

  /** Fixed-order ANOVA folds shared verbatim with the oracle. Group
    * terms enter left-to-right in priority order; every double derives
    * from an exact BIGINT by the same conversion in both engines. */
  private[graft] val AnovaGrandExpr: String =
    "(CAST(s1+s2+s3+s4+s5 AS DOUBLE) / CAST(n1+n2+n3+n4+n5 AS DOUBLE))"

  private def anovaSsb: String =
    (1 to 5).map(i =>
      s"(CASE WHEN n$i > 0 THEN CAST(n$i AS DOUBLE) * (CAST(s$i AS DOUBLE)/CAST(n$i AS DOUBLE) - $AnovaGrandExpr) * (CAST(s$i AS DOUBLE)/CAST(n$i AS DOUBLE) - $AnovaGrandExpr) ELSE 0.0 END)")
      .mkString(" + ")

  private def anovaSsw: String =
    (1 to 5).map(i =>
      s"(CASE WHEN n$i > 0 THEN CAST(q$i AS DOUBLE) - CAST(s$i AS DOUBLE)*CAST(s$i AS DOUBLE)/CAST(n$i AS DOUBLE) ELSE 0.0 END)")
      .mkString(" + ")

  private[graft] lazy val AnovaFExpr: String =
    s"""round(CASE WHEN k > 1 AND n > k AND ($anovaSsw) > 0.0
      THEN (($anovaSsb) / CAST(k - 1 AS DOUBLE))
           / (($anovaSsw) / CAST(n - k AS DOUBLE))
      ELSE 0.0 END, 6)"""

  private[graft] lazy val AnovaEtaExpr: String =
    s"""round(CASE WHEN ($anovaSsb) + ($anovaSsw) > 0.0
      THEN ($anovaSsb) / (($anovaSsb) + ($anovaSsw))
      ELSE 0.0 END, 6)"""

  private lazy val anovaSql = {
    val cols = (1 to 5).flatMap { i =>
      Seq(
        s"CAST(coalesce(sum(CASE WHEN g = '$i' THEN n END), 0) AS BIGINT) AS n$i",
        s"CAST(coalesce(sum(CASE WHEN g = '$i' THEN s END), 0) AS BIGINT) AS s$i",
        s"CAST(coalesce(sum(CASE WHEN g = '$i' THEN q END), 0) AS BIGINT) AS q$i")
    }.mkString(",\n  ")
    s"""WITH b AS (
       |  SELECT substr(o_orderpriority, 1, 1) AS g,
       |    CAST(CAST(o_totalprice * 100 AS BIGINT) // 100 AS BIGINT) AS x
       |  FROM orders),
       |c AS (SELECT g, CAST(count(*) AS BIGINT) AS n, sum(x) AS s,
       |        sum(x * x) AS q FROM b GROUP BY 1),
       |one AS (SELECT $cols FROM c),
       |f AS (SELECT *, n1+n2+n3+n4+n5 AS n,
       |  CAST((CASE WHEN n1 > 0 THEN 1 ELSE 0 END) + (CASE WHEN n2 > 0 THEN 1 ELSE 0 END) + (CASE WHEN n3 > 0 THEN 1 ELSE 0 END) + (CASE WHEN n4 > 0 THEN 1 ELSE 0 END) + (CASE WHEN n5 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS k
       |  FROM one)
       |SELECT n, k, ${AnovaFExpr.replace("\n", " ")} AS f_stat,
       |  ${AnovaEtaExpr.replace("\n", " ")} AS eta2
       |FROM f""".stripMargin
  }

  /** #283 two-regressor OLS — l_extendedprice on (quantity, discount):
    * the normal equations solved from EXACT integer moment sums (one
    * map-side-combinable aggregate over the fact table; Σy² folds in
    * DECIMAL(38) — cents² overflows BIGINT past sf1). The 2×2 centered
    * solve runs in ONE fixed-order double expression over the nine
    * exact moments (the #282 discipline): both engines evaluate the
    * identical IEEE expression tree on identical integers, so the
    * rounded coefficients hash-match without any cross-engine division
    * semantics in play. Extends #135's single-regressor fit. */
  private def ols2(s: SparkSession, dir: String): DataFrame =
    parallelize(s, t(s, dir, "lineitem"))
      .select((col("l_extendedprice").cast("decimal(18,2)") * 100)
          .cast("long").as("__y"),
        col("l_quantity").cast("decimal(18,2)").cast("long").as("__x1"),
        (col("l_discount").cast("decimal(18,2)") * 100).cast("long").as("__x2"))
      .agg(count(lit(1)).as("n"),
        sum("__x1").as("sx1"), sum("__x2").as("sx2"),
        sum(col("__x1") * col("__x1")).as("sx11"),
        sum(col("__x2") * col("__x2")).as("sx22"),
        sum(col("__x1") * col("__x2")).as("sx12"),
        sum(col("__y")).as("sy"),
        sum(col("__x1") * col("__y")).as("sx1y"),
        sum(col("__x2") * col("__y")).as("sx2y"),
        sum(col("__y").cast("decimal(38,0)") * col("__y")).as("syy"))
      .withColumn("b1", expr(Ols2B1Expr))
      .withColumn("b2", expr(Ols2B2Expr))
      .withColumn("intercept", expr(Ols2InterceptExpr))
      .withColumn("r2", expr(Ols2R2Expr))
      .select("n", "b1", "b2", "intercept", "r2")

  // Centered second moments (exact BIGINT/DECIMAL in, double out; the
  // n-scaled identity n·Σab − Σa·Σb avoids any pre-division).
  private def ols2Cm(sab: String, sa: String, sb: String): String =
    s"(CAST(n AS DOUBLE)*CAST($sab AS DOUBLE) - CAST($sa AS DOUBLE)*CAST($sb AS DOUBLE))"

  private lazy val ols2C11 = ols2Cm("sx11", "sx1", "sx1")

  private lazy val ols2C22 = ols2Cm("sx22", "sx2", "sx2")

  private lazy val ols2C12 = ols2Cm("sx12", "sx1", "sx2")

  private lazy val ols2C1y = ols2Cm("sx1y", "sx1", "sy")

  private lazy val ols2C2y = ols2Cm("sx2y", "sx2", "sy")

  private lazy val ols2Cyy = ols2Cm("syy", "sy", "sy")

  private lazy val ols2Det = s"($ols2C11 * $ols2C22 - $ols2C12 * $ols2C12)"

  private lazy val Ols2B1RawExpr: String =
    s"""CASE WHEN $ols2Det <> 0.0
      THEN ($ols2C22 * $ols2C1y - $ols2C12 * $ols2C2y) / $ols2Det
      ELSE 0.0 END"""

  private lazy val Ols2B2RawExpr: String =
    s"""CASE WHEN $ols2Det <> 0.0
      THEN ($ols2C11 * $ols2C2y - $ols2C12 * $ols2C1y) / $ols2Det
      ELSE 0.0 END"""

  private[graft] lazy val Ols2B1Expr: String = s"round($Ols2B1RawExpr, 6)"

  private[graft] lazy val Ols2B2Expr: String = s"round($Ols2B2RawExpr, 6)"

  private[graft] lazy val Ols2InterceptExpr: String =
    s"""round((CAST(sy AS DOUBLE) - ($Ols2B1RawExpr) * CAST(sx1 AS DOUBLE)
      - ($Ols2B2RawExpr) * CAST(sx2 AS DOUBLE)) / CAST(n AS DOUBLE), 6)"""

  private[graft] lazy val Ols2R2Expr: String =
    s"""round(CASE WHEN $ols2Cyy > 0.0
      THEN (($Ols2B1RawExpr) * $ols2C1y + ($Ols2B2RawExpr) * $ols2C2y)
           / $ols2Cyy
      ELSE 0.0 END, 6)"""

  private lazy val ols2Sql =
    s"""WITH b AS (
       |  SELECT CAST(l_extendedprice * 100 AS BIGINT) AS y,
       |    CAST(l_quantity AS BIGINT) AS x1,
       |    CAST(l_discount * 100 AS BIGINT) AS x2
       |  FROM lineitem),
       |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(x1) AS BIGINT) AS sx1, CAST(sum(x2) AS BIGINT) AS sx2,
       |  CAST(sum(x1 * x1) AS BIGINT) AS sx11,
       |  CAST(sum(x2 * x2) AS BIGINT) AS sx22,
       |  CAST(sum(x1 * x2) AS BIGINT) AS sx12,
       |  CAST(sum(y) AS BIGINT) AS sy,
       |  CAST(sum(x1 * y) AS BIGINT) AS sx1y,
       |  CAST(sum(x2 * y) AS BIGINT) AS sx2y,
       |  sum(CAST(y AS HUGEINT) * y) AS syy
       |  FROM b)
       |SELECT n, ${Ols2B1Expr.replace("\n", " ")} AS b1,
       |  ${Ols2B2Expr.replace("\n", " ")} AS b2,
       |  ${Ols2InterceptExpr.replace("\n", " ")} AS intercept,
       |  ${Ols2R2Expr.replace("\n", " ")} AS r2
       |FROM m""".stripMargin

  /** #285 CUSUM drift scan — the classic mean-shift detector over the
    * daily revenue series, DIVISION-FREE: the cumulative deviation
    * Σ_{i≤k}(x_i − μ) is rescaled by D (days) so S*_k = D·Σ_{i≤k}x_i −
    * k·Σx is an exact BIGINT at any SF (cents·days ≈ 3e16 at sf100).
    * The running prefix is a calendar-bounded O(days) window (documented
    * single-partition frame, the #137 EWMA precedent); the argmax day —
    * the estimated change point — falls out of one max-over-all
    * comparison on exact integers. Complements #122's segmented-fit
    * changepoint with the sequential-detection formulation. */
  private def cusumDetect(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "orders")
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
        .as("__x"))
    val w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    val all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    daily
      .withColumn("__dd", count(lit(1)).over(all))
      .withColumn("__tot", sum("__x").over(all))
      .withColumn("__k", row_number().over(Window.orderBy("day")).cast("long"))
      .withColumn("cusum_scaled",
        col("__dd") * sum("__x").over(w) - col("__k") * col("__tot"))
      .withColumn("is_peak",
        abs(col("cusum_scaled")) === max(abs(col("cusum_scaled"))).over(all))
      .select("day", "cusum_scaled", "is_peak")
  }

  private val cusumDetectSql =
    """WITH d AS (
      |  SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
      |    CAST(sum(CAST(o_totalprice * 100 AS BIGINT)) AS BIGINT) AS x
      |  FROM orders GROUP BY 1),
      |c AS (SELECT day, x,
      |    count(*) OVER () AS dd, sum(x) OVER () AS tot,
      |    row_number() OVER (ORDER BY day) AS k,
      |    sum(x) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
      |                 AND CURRENT ROW) AS pre
      |  FROM d)
      |SELECT day, CAST(dd * pre - k * tot AS BIGINT) AS cusum_scaled,
      |  abs(dd * pre - k * tot) = max(abs(dd * pre - k * tot)) OVER ()
      |    AS is_peak
      |FROM c""".stripMargin

  /** #287 l-diversity audit — the release-hardening companion to
    * #172's k-anonymity: a quasi-identifier class can be large (k-safe)
    * yet still leak if every member shares one sensitive value. Over
    * (priority, order-year) QI classes the sensitive attribute is
    * order status; l = exact distinct statuses per class (the status
    * vocabulary is tiny, so count_distinct partial-aggregates cleanly).
    * Flags classes below l=2 plus each class's dominant-value share in
    * ppm (a homogeneity-attack bound). O(QI classes) output. */
  private def lDiversity(s: SparkSession, dir: String): DataFrame = {
    // one PLANTED homogeneous class (every member shares the sensitive
    // value): the natural (priority, year) classes are l≥2 at every
    // shipped SF, so the at_risk detector never fired and a broken
    // flag was indistinguishable from a safe corpus (r10 vacuity
    // audit) — the qualityGate planted-probe device
    val planted = s.range(5).select(lit("Z-PLANTED").as("priority"),
      lit(1990L).as("order_year"), lit("F").as("__s"))
    val cls = parallelize(s, t(s, dir, "orders"))
      .select(col("o_orderpriority").as("priority"),
        year(col("o_orderdate")).cast("long").as("order_year"),
        col("o_orderstatus").as("__s"))
      .unionAll(planted)
      .groupBy("priority", "order_year", "__s")
      .agg(count(lit(1)).as("__n"))
    cls.groupBy("priority", "order_year")
      .agg(sum("__n").as("class_n"),
        count(lit(1)).as("l_distinct"),
        max("__n").as("__mx"))
      .withColumn("dominant_ppm", expr("(__mx * 1000000) div class_n"))
      .withColumn("at_risk", col("l_distinct") < 2)
      .select("priority", "order_year", "class_n", "l_distinct",
        "dominant_ppm", "at_risk")
  }

  private val lDiversitySql =
    """WITH rows AS (
      |  SELECT o_orderpriority AS priority,
      |    CAST(year(o_orderdate) AS BIGINT) AS order_year,
      |    o_orderstatus AS s
      |  FROM orders
      |  UNION ALL
      |  SELECT 'Z-PLANTED', 1990, 'F' FROM range(5)),
      |c AS (
      |  SELECT priority, order_year, s, CAST(count(*) AS BIGINT) AS n
      |  FROM rows GROUP BY 1, 2, 3),
      |g AS (SELECT priority, order_year, CAST(sum(n) AS BIGINT) AS class_n,
      |        CAST(count(*) AS BIGINT) AS l_distinct,
      |        CAST(max(n) AS BIGINT) AS mx
      |      FROM c GROUP BY 1, 2)
      |SELECT priority, order_year, class_n, l_distinct,
      |  CAST((mx * 1000000) // class_n AS BIGINT) AS dominant_ppm,
      |  l_distinct < 2 AS at_risk
      |FROM g""".stripMargin

  /** #293 Wilcoxon signed-rank — the paired nonparametric companion to
    * #174's Mann–Whitney: daily revenue vs the SAME day one year later
    * (364 days — same weekday), is the YoY shift systematic? Average
    * ranks stay integral as 2·rank = 2·#(<) + #(=) + 1 off the O(days)
    * distinct-|diff| table (#174's rank-offset shape); W⁺, the tie
    * correction Σ(t³−t), and n are exact BIGINTs; z is one shared
    * double expression. Zero diffs drop per the standard procedure. */
  private def wilcoxon(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("__day"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
        .as("__x"))
    val pairs = daily.as("a")
      .join(daily.as("b"),
        col("b.__day") === date_add(col("a.__day"), 364))
      .select((col("b.__x") - col("a.__x")).as("__diff"))
      .filter(col("__diff") =!= 0L)
      .withColumn("__absd", abs(col("__diff")))
    val groups = pairs.groupBy("__absd")
      .agg(count(lit(1)).as("__t"),
        sum(when(col("__diff") > 0, 1L).otherwise(0L)).as("__pos"))
    val w = Window.orderBy("__absd").rowsBetween(Window.unboundedPreceding, -1)
    groups
      .withColumn("__lt", coalesce(sum("__t").over(w), lit(0L)))
      .agg(sum(col("__t")).as("n_pairs"),
        sum(col("__pos") * (lit(2) * col("__lt") + col("__t") + 1))
          .as("w_plus_x2"),
        sum(col("__t") * col("__t") * col("__t") - col("__t")).as("__ties"))
      .withColumn("z", expr(WilcoxonZExpr))
      .select("n_pairs", "w_plus_x2", "z")
  }

  /** z fold over (n_pairs, w_plus_x2, __ties) — shared verbatim. */
  private[graft] val WilcoxonZExpr: String =
    """round(CASE
      WHEN n_pairs > 0 AND
           (CAST(n_pairs AS DOUBLE) * (n_pairs + 1) * (2 * n_pairs + 1) / 24.0
            - CAST(__ties AS DOUBLE) / 48.0) > 0.0
      THEN (CAST(w_plus_x2 AS DOUBLE) / 2.0
            - CAST(n_pairs AS DOUBLE) * (n_pairs + 1) / 4.0)
           / sqrt(CAST(n_pairs AS DOUBLE) * (n_pairs + 1) * (2 * n_pairs + 1) / 24.0
                  - CAST(__ties AS DOUBLE) / 48.0)
      ELSE 0.0 END, 6)"""

  private lazy val wilcoxonSql =
    s"""WITH d AS (
       |  SELECT CAST(o_orderdate AS DATE) AS day,
       |    CAST(sum(CAST(o_totalprice * 100 AS BIGINT)) AS BIGINT) AS x
       |  FROM orders GROUP BY 1),
       |p AS (SELECT b.x - a.x AS diff, abs(b.x - a.x) AS absd
       |      FROM d a JOIN d b ON b.day = a.day + 364
       |      WHERE b.x <> a.x),
       |g AS (SELECT absd, CAST(count(*) AS BIGINT) AS t,
       |        CAST(sum(CASE WHEN diff > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |          AS pos
       |      FROM p GROUP BY 1),
       |r AS (SELECT *, coalesce(sum(t) OVER (ORDER BY absd
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lt
       |      FROM g),
       |f AS (SELECT CAST(sum(t) AS BIGINT) AS n_pairs,
       |        CAST(sum(pos * (2 * lt + t + 1)) AS BIGINT) AS w_plus_x2,
       |        CAST(sum(t * t * t - t) AS BIGINT) AS __ties
       |      FROM r)
       |SELECT n_pairs, w_plus_x2, ${WilcoxonZExpr.replace("\n", " ")} AS z
       |FROM f""".stripMargin

  /** #294 t-closeness — the third leg of the release-audit trio
    * (#172 k-anonymity, #287 l-diversity): a class can be k-large and
    * l-diverse yet still skew the sensitive distribution. For ordered
    * categories with unit spacing EMD is the mean absolute CDF gap, so
    * over the 3-value status vocabulary it folds as (|d1|+|d2|) div 2
    * on ppm-truncated CDFs — exact integers end to end, O(QI classes)
    * output off one fact groupBy. */
  private def tCloseness(s: SparkSession, dir: String): DataFrame = {
    // one PLANTED all-'F' class (the q_l_diversity probe): natural
    // classes track the global status mix at every SF, so emd stayed
    // under the 0.15 threshold and t_violation never fired (r10
    // vacuity audit) — the planted class's CDF gap is ~0.5, a live
    // detector check
    val planted = s.range(5).select(lit("Z-PLANTED").as("priority"),
      lit(1990L).as("order_year"), lit("F").as("__st"))
    val cls = parallelize(s, t(s, dir, "orders"))
      .select(col("o_orderpriority").as("priority"),
        year(col("o_orderdate")).cast("long").as("order_year"),
        col("o_orderstatus").as("__st"))
      .unionAll(planted)
      .groupBy("priority", "order_year")
      .agg(count(lit(1)).as("class_n"),
        sum((col("__st") === "F").cast("long")).as("__f"),
        sum((col("__st") === "O").cast("long")).as("__o"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tot = cls.agg(sum("class_n").as("__n"),
      sum("__f").as("__tf"), sum("__o").as("__to"))
    cls.crossJoin(broadcast(tot))
      .withColumn("emd_ppm", expr(
        """(abs((__f * 1000000) div class_n - (__tf * 1000000) div __n)
          + abs(((__f + __o) * 1000000) div class_n
                - ((__tf + __to) * 1000000) div __n)) div 2"""))
      .withColumn("t_violation", col("emd_ppm") > 150000L)
      .select("priority", "order_year", "class_n", "emd_ppm", "t_violation")
  }

  private val tClosenessSql =
    """WITH rows AS (
      |  SELECT o_orderpriority AS priority,
      |    CAST(year(o_orderdate) AS BIGINT) AS order_year,
      |    o_orderstatus AS st
      |  FROM orders
      |  UNION ALL
      |  SELECT 'Z-PLANTED', 1990, 'F' FROM range(5)),
      |c AS (
      |  SELECT priority, order_year,
      |    CAST(count(*) AS BIGINT) AS class_n,
      |    CAST(sum(CASE WHEN st = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS f,
      |    CAST(sum(CASE WHEN st = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS o
      |  FROM rows GROUP BY 1, 2),
      |t AS (SELECT CAST(sum(class_n) AS BIGINT) AS n,
      |        CAST(sum(f) AS BIGINT) AS tf, CAST(sum(o) AS BIGINT) AS tg
      |      FROM c)
      |SELECT priority, order_year, class_n,
      |  CAST((abs((f * 1000000) // class_n - (tf * 1000000) // n)
      |    + abs(((f + o) * 1000000) // class_n
      |          - ((tf + tg) * 1000000) // n)) // 2 AS BIGINT) AS emd_ppm,
      |  (abs((f * 1000000) // class_n - (tf * 1000000) // n)
      |    + abs(((f + o) * 1000000) // class_n
      |          - ((tf + tg) * 1000000) // n)) // 2 > 150000 AS t_violation
      |FROM c CROSS JOIN t""".stripMargin

  /** #295 Mann–Kendall trend test — the significance companion to
    * #284's Theil–Sen slope: S = Σ_{i<j} sign(x_j − x_i) over the
    * calendar-bounded day-pair scan (the #278 broadcast shape), exact
    * tie groups off the distinct-value table, continuity-corrected z in
    * one shared double fold. Everything before the z is BIGINT. */
  private def mannKendall(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("__day"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
        .as("__x"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = daily.select(col("__day").as("__d1"), col("__x").as("__x1"))
    val b = daily.select(col("__day").as("__d2"), col("__x").as("__x2"))
    val sAgg = a.join(broadcast(b), col("__d1") < col("__d2"))
      .agg(count(lit(1)).as("__pairs"),
        sum(signum(col("__x2") - col("__x1")).cast("long")).as("s_stat"))
    val ties = daily.groupBy("__x").agg(count(lit(1)).as("__t"))
      .agg(sum(col("__t") * (col("__t") - 1) * (lit(2) * col("__t") + 5))
        .as("__tadj"), sum("__t").as("n_days"))
    ties.crossJoin(broadcast(sAgg))
      .withColumn("z", expr(MannKendallZExpr))
      .select("n_days", "s_stat", "z")
  }

  /** Continuity-corrected MK z over (n_days, s_stat, __tadj). */
  private[graft] val MannKendallZExpr: String =
    """round(CASE
      WHEN (CAST(n_days AS DOUBLE) * (n_days - 1) * (2 * n_days + 5)
            - CAST(__tadj AS DOUBLE)) / 18.0 > 0.0 AND s_stat <> 0
      THEN (CAST(s_stat AS DOUBLE)
            - CAST(CASE WHEN s_stat > 0 THEN 1 ELSE -1 END AS DOUBLE))
           / sqrt((CAST(n_days AS DOUBLE) * (n_days - 1) * (2 * n_days + 5)
                   - CAST(__tadj AS DOUBLE)) / 18.0)
      ELSE 0.0 END, 6)"""

  private lazy val mannKendallSql =
    s"""WITH d AS MATERIALIZED (
       |  SELECT CAST(o_orderdate AS DATE) AS day,
       |    CAST(sum(CAST(o_totalprice * 100 AS BIGINT)) AS BIGINT) AS x
       |  FROM orders GROUP BY 1),
       |p AS (SELECT CAST(count(*) AS BIGINT) AS pairs,
       |        CAST(sum(CASE WHEN b.x > a.x THEN 1
       |                      WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT)
       |          AS s_stat
       |      FROM d a JOIN d b ON a.day < b.day),
       |t AS (SELECT CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS __tadj,
       |        CAST(sum(t) AS BIGINT) AS n_days
       |      FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM d GROUP BY x))
       |SELECT n_days, s_stat, ${MannKendallZExpr.replace("\n", " ")} AS z
       |FROM t CROSS JOIN p""".stripMargin

  /** #296 SAX symbolization — the daily revenue series as a symbolic
    * string per month (alphabet 4), binned by EXACT RANK instead of
    * z-normal breakpoints so the quantization is integer-deterministic:
    * letter = chr(97 + ((rank−1)·4) div n) on the (cents, day) total
    * order. The rank is one O(days) calendar-bounded window; the
    * per-month string folds from a sorted struct array (DuckDB
    * string_agg ORDER BY) — no engine-chosen aggregation order. */
  private def saxSymbols(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "orders")
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("__day"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
        .as("__x"))
    val w = Window.orderBy(col("__x"), col("__day"))
    val all = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    daily
      .withColumn("__rk", row_number().over(w).cast("long"))
      .withColumn("__n", count(lit(1)).over(all))
      .withColumn("__letter", expr("chr(97 + ((__rk - 1) * 4) div __n)"))
      .groupBy(substring(col("__day"), 1, 7).as("month"))
      .agg(count(lit(1)).as("n_days"),
        array_join(expr("transform(array_sort(collect_list(struct(__day, __letter))), p -> p.__letter)"), "")
          .as("sax"))
  }

  private val saxSymbolsSql =
    """WITH d AS (
      |  SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
      |    CAST(sum(CAST(o_totalprice * 100 AS BIGINT)) AS BIGINT) AS x
      |  FROM orders GROUP BY 1),
      |r AS (SELECT day,
      |        row_number() OVER (ORDER BY x, day) AS rk,
      |        count(*) OVER () AS n
      |      FROM d)
      |SELECT substr(day, 1, 7) AS month, CAST(count(*) AS BIGINT) AS n_days,
      |  string_agg(chr(97 + CAST(((rk - 1) * 4) // n AS INT)), ''
      |             ORDER BY day) AS sax
      |FROM r GROUP BY 1""".stripMargin

  /** #297 Shewhart control chart — which days' revenue breaches the
    * ±3σ control limits? μ and σ come from the exact daily-cents
    * moments (n·Σx² − (Σx)², the #275 shared-scale identity) and the
    * per-day z is one shared double expression — identical IEEE tree on
    * identical integers in both engines, so even boundary days compare
    * identically. O(days) output with the exact cents kept. */
  private def controlChart(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "orders")
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
        .as("cents"))
    val m = daily.agg(count(lit(1)).as("__n"), sum("cents").as("__s"),
      sum(col("cents").cast("decimal(38,0)") * col("cents")).as("__q"))
    daily.crossJoin(broadcast(m))
      .withColumn("z", expr(ControlZExpr))
      .withColumn("out_of_control", abs(col("z")) > 3.0)
      .select("day", "cents", "z", "out_of_control")
  }

  /** Per-day z over (cents, __n, __s, __q); sample variance via the
    * n-scaled identity, divide-early to keep operands small-scale. */
  private[graft] val ControlZExpr: String =
    """round(CASE
      WHEN __n > 1 AND
           (CAST(__q AS DOUBLE) - CAST(__s AS DOUBLE) * CAST(__s AS DOUBLE)
              / CAST(__n AS DOUBLE)) / (CAST(__n AS DOUBLE) - 1.0) > 0.0
      THEN (CAST(cents AS DOUBLE) - CAST(__s AS DOUBLE) / CAST(__n AS DOUBLE))
           / sqrt((CAST(__q AS DOUBLE)
                   - CAST(__s AS DOUBLE) * CAST(__s AS DOUBLE) / CAST(__n AS DOUBLE))
                  / (CAST(__n AS DOUBLE) - 1.0))
      ELSE 0.0 END, 6)"""

  private lazy val controlChartSql =
    s"""WITH d AS (
       |  SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
       |    CAST(sum(CAST(o_totalprice * 100 AS BIGINT)) AS BIGINT) AS cents
       |  FROM orders GROUP BY 1),
       |m AS (SELECT CAST(count(*) AS BIGINT) AS __n,
       |        CAST(sum(cents) AS BIGINT) AS __s,
       |        sum(CAST(cents AS HUGEINT) * cents) AS __q
       |      FROM d)
       |SELECT day, cents, ${ControlZExpr.replace("\n", " ")} AS z,
       |  abs(${ControlZExpr.replace("\n", " ")}) > 3.0 AS out_of_control
       |FROM d CROSS JOIN m""".stripMargin

  /** #298 Grubbs outlier test — is the most extreme day a statistical
    * outlier? The argmax day picks on the EXACT scaled deviation
    * |x·n − S| (integer — no double argmax ambiguity), tie-broken by
    * day; G = max|x−μ|/s is one shared double fold over the exact
    * moments; flagged against the fixed G > 3 critical value (declared
    * semantics, not a p-value lookup). 1-row output. */
  private def grubbs(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "orders")
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("__day"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
        .as("__x"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val m = daily.agg(count(lit(1)).as("__n"), sum("__x").as("__s"),
      sum(col("__x").cast("decimal(38,0)") * col("__x")).as("__q"))
    daily.crossJoin(broadcast(m))
      .withColumn("__dev",
        abs(col("__x").cast("decimal(38,0)") * col("__n") - col("__s")))
      .orderBy(desc("__dev"), asc("__day")).limit(1)
      .select(col("__day").as("extreme_day"), col("__x").as("cents"),
        col("__n").as("n_days"),
        expr(GrubbsGExpr).as("g_stat"))
      .withColumn("is_outlier", col("g_stat") > 3.0)
  }

  /** G over (cents=__x, __n, __s, __q) for the selected row. */
  private[graft] val GrubbsGExpr: String =
    """round(CASE
      WHEN __n > 1 AND
           (CAST(__q AS DOUBLE) - CAST(__s AS DOUBLE) * CAST(__s AS DOUBLE)
              / CAST(__n AS DOUBLE)) / (CAST(__n AS DOUBLE) - 1.0) > 0.0
      THEN abs(CAST(__x AS DOUBLE) - CAST(__s AS DOUBLE) / CAST(__n AS DOUBLE))
           / sqrt((CAST(__q AS DOUBLE)
                   - CAST(__s AS DOUBLE) * CAST(__s AS DOUBLE) / CAST(__n AS DOUBLE))
                  / (CAST(__n AS DOUBLE) - 1.0))
      ELSE 0.0 END, 6)"""

  private lazy val grubbsSql =
    s"""WITH d AS (
       |  SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
       |    CAST(sum(CAST(o_totalprice * 100 AS BIGINT)) AS BIGINT) AS x
       |  FROM orders GROUP BY 1),
       |m AS (SELECT CAST(count(*) AS BIGINT) AS __n,
       |        CAST(sum(x) AS BIGINT) AS __s,
       |        sum(CAST(x AS HUGEINT) * x) AS __q
       |      FROM d),
       |pick AS (
       |  SELECT d.day, d.x AS __x, m.__n, m.__s, m.__q
       |  FROM d CROSS JOIN m
       |  ORDER BY abs(CAST(d.x AS HUGEINT) * m.__n - m.__s) DESC, d.day
       |  LIMIT 1)
       |SELECT day AS extreme_day, __x AS cents, __n AS n_days,
       |  ${GrubbsGExpr.replace("\n", " ")} AS g_stat,
       |  ${GrubbsGExpr.replace("\n", " ")} > 3.0 AS is_outlier
       |FROM pick""".stripMargin

  /** #299 Friedman test — do the five priorities rank consistently
    * across days (complete blocks only, declared)? Within-block average
    * ranks stay integral as 2·rank = 2·#(<) + #(=) + 1 over the 5-row
    * day partition (#293's device); Σ(2R_j)² folds exactly in BIGINT
    * and χ² is one shared double fold. The per-day window partitions by
    * day — thousands of 5-row partitions, embarrassingly parallel. */
  private def friedman(s: SparkSession, dir: String): DataFrame = {
    val cell = t(s, dir, "orders")
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("__day"),
        substring(col("o_orderpriority"), 1, 1).as("__g"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
        .as("__x"))
    val full = Window.partitionBy("__day")
    val complete = cell
      .withColumn("__k", count(lit(1)).over(full))
      .filter(col("__k") === 5)
    // 2·avg-rank = 2·#(≤) − #(=) + 1: RANGE frame counts peers, the
    // (day, x) partition counts the tie group
    val r2 = complete
      .withColumn("__r2", expr(
        """2 * (count(*) OVER (PARTITION BY __day ORDER BY __x
                 RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
           - (count(*) OVER (PARTITION BY __day, __x)) + 1"""))
    val agg = r2.groupBy("__g")
      .agg(count(lit(1)).as("__nb"), sum("__r2").as("__r2sum"))
    // coalesce: zero complete blocks (tiny SF) must yield (0, 0.0),
    // not a NULL row
    val one = agg.agg(
      coalesce(max("__nb"), lit(0L)).as("n_blocks"),
      coalesce(sum(col("__r2sum").cast("decimal(38,0)") * col("__r2sum")),
        lit(java.math.BigDecimal.ZERO)).as("__sumr2sq"))
    one.withColumn("chi2", expr(FriedmanChi2Expr))
      .select("n_blocks", "chi2")
  }

  /** χ² = 12/(n·k(k+1))·Σ R_j² − 3n(k+1) with R_j = (Σ2r)/2, k=5. */
  private[graft] val FriedmanChi2Expr: String =
    """round(CASE WHEN n_blocks > 0
      THEN 12.0 * (CAST(__sumr2sq AS DOUBLE) / 4.0)
           / (CAST(n_blocks AS DOUBLE) * 5.0 * 6.0)
           - 3.0 * CAST(n_blocks AS DOUBLE) * 6.0
      ELSE 0.0 END, 6)"""

  private lazy val friedmanSql =
    s"""WITH c AS (
       |  SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
       |    substr(o_orderpriority, 1, 1) AS g,
       |    CAST(sum(CAST(o_totalprice * 100 AS BIGINT)) AS BIGINT) AS x
       |  FROM orders GROUP BY 1, 2),
       |k AS (SELECT *, count(*) OVER (PARTITION BY day) AS kk FROM c),
       |f AS (SELECT day, g, x FROM k WHERE kk = 5),
       |r AS (SELECT day, g,
       |        2 * (count(*) OVER (PARTITION BY day ORDER BY x
       |               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
       |        - (count(*) OVER (PARTITION BY day, x)) + 1 AS r2
       |      FROM f),
       |a AS (SELECT g, CAST(count(*) AS BIGINT) AS nb,
       |        CAST(sum(r2) AS BIGINT) AS r2sum
       |      FROM r GROUP BY 1),
       |one AS (SELECT CAST(coalesce(max(nb), 0) AS BIGINT) AS n_blocks,
       |         coalesce(sum(CAST(r2sum AS HUGEINT) * r2sum), 0) AS __sumr2sq
       |       FROM a)
       |SELECT n_blocks, ${FriedmanChi2Expr.replace("\n", " ")} AS chi2
       |FROM one""".stripMargin

  /** #300 Brown–Forsythe / Levene — does order-value SPREAD differ by
    * priority (the variance-homogeneity check behind #282's ANOVA)?
    * Per-group EXACT lower medians come from the #270 compress-then-
    * scan device (distinct dollar values, cumulative counts), the
    * absolute deviations stay integer dollars, and the W statistic is
    * the #282 fixed-column ANOVA fold applied to those deviations —
    * the identical shared expression, zero new double machinery. */
  private def levene(s: SparkSession, dir: String): DataFrame = {
    val base = parallelize(s, t(s, dir, "orders"))
      .select(substring(col("o_orderpriority"), 1, 1).as("__g"),
        expr("CAST(CAST(o_totalprice * 100 AS DECIMAL(18,0)) div 100 AS BIGINT)")
          .as("__x"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val compressed = base.groupBy("__g", "__x").agg(count(lit(1)).as("__w"))
    val byG = Window.partitionBy("__g").orderBy("__x")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val med = compressed
      .withColumn("__cum", sum("__w").over(byG))
      .withColumn("__tot", sum("__w").over(Window.partitionBy("__g")))
      .filter(col("__cum") * 2 >= col("__tot"))
      .groupBy("__g").agg(min("__x").as("__med"))
    val z = base.join(broadcast(med), Seq("__g"))
      .select(col("__g"), abs(col("__x") - col("__med")).as("__z"))
    val cells = z.groupBy("__g").agg(count(lit(1)).as("n"),
      sum("__z").as("s"), sum(col("__z") * col("__z")).as("q"))
    val pivotCols = (1 to 5).flatMap { i =>
      Seq(coalesce(sum(when(col("__g") === i.toString, col("n"))), lit(0L))
            .as(s"n$i"),
        coalesce(sum(when(col("__g") === i.toString, col("s"))), lit(0L))
          .as(s"s$i"),
        coalesce(sum(when(col("__g") === i.toString, col("q"))), lit(0L))
          .as(s"q$i"))
    }
    cells.agg(pivotCols.head, pivotCols.tail: _*)
      .withColumn("n", expr("n1 + n2 + n3 + n4 + n5"))
      .withColumn("k", expr(
        "CAST((CASE WHEN n1 > 0 THEN 1 ELSE 0 END) + (CASE WHEN n2 > 0 THEN 1 ELSE 0 END) + (CASE WHEN n3 > 0 THEN 1 ELSE 0 END) + (CASE WHEN n4 > 0 THEN 1 ELSE 0 END) + (CASE WHEN n5 > 0 THEN 1 ELSE 0 END) AS BIGINT)"))
      .withColumn("w_stat", expr(AnovaFExpr))
      .select("n", "k", "w_stat")
  }

  private lazy val leveneSql =
    s"""WITH b AS (
       |  SELECT substr(o_orderpriority, 1, 1) AS g,
       |    CAST(CAST(o_totalprice * 100 AS BIGINT) // 100 AS BIGINT) AS x
       |  FROM orders),
       |cm AS (SELECT g, x, CAST(count(*) AS BIGINT) AS w FROM b GROUP BY 1, 2),
       |cum AS (SELECT g, x,
       |          sum(w) OVER (PARTITION BY g ORDER BY x
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c,
       |          sum(w) OVER (PARTITION BY g) AS tot
       |        FROM cm),
       |md AS (SELECT g, min(x) AS med FROM cum WHERE c * 2 >= tot GROUP BY 1),
       |z AS (SELECT b.g, abs(b.x - md.med) AS z FROM b JOIN md USING (g)),
       |c AS (SELECT g, CAST(count(*) AS BIGINT) AS n, sum(z) AS s,
       |        sum(z * z) AS q FROM z GROUP BY 1),
       |one AS (SELECT ${(1 to 5).flatMap { i =>
          Seq(s"CAST(coalesce(sum(CASE WHEN g = '$i' THEN n END), 0) AS BIGINT) AS n$i",
            s"CAST(coalesce(sum(CASE WHEN g = '$i' THEN s END), 0) AS BIGINT) AS s$i",
            s"CAST(coalesce(sum(CASE WHEN g = '$i' THEN q END), 0) AS BIGINT) AS q$i")
        }.mkString(", ")} FROM c),
       |f AS (SELECT *, n1+n2+n3+n4+n5 AS n,
       |  CAST((CASE WHEN n1 > 0 THEN 1 ELSE 0 END) + (CASE WHEN n2 > 0 THEN 1 ELSE 0 END) + (CASE WHEN n3 > 0 THEN 1 ELSE 0 END) + (CASE WHEN n4 > 0 THEN 1 ELSE 0 END) + (CASE WHEN n5 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS k
       |  FROM one)
       |SELECT n, k, ${AnovaFExpr.replace("\n", " ")} AS w_stat
       |FROM f""".stripMargin

  /** #301 pairwise effect sizes — Cohen's d (and the small-sample
    * Hedges' g correction) for every priority pair: the magnitude
    * companion to #282's F. The 5-row exact moment table self-joins
    * into C(5,2) pairs; each d is one per-row shared double expression
    * over six exact integers — no cross-row folding at all. */
  private def effectSizes(s: SparkSession, dir: String): DataFrame = {
    val cells = parallelize(s, t(s, dir, "orders"))
      .select(substring(col("o_orderpriority"), 1, 1).as("__g"),
        expr("CAST(CAST(o_totalprice * 100 AS DECIMAL(18,0)) div 100 AS BIGINT)")
          .as("__x"))
      .groupBy("__g").agg(count(lit(1)).as("n"),
        sum("__x").as("s"), sum(col("__x") * col("__x")).as("q"))
    val a = cells.select(col("__g").as("g_a"), col("n").as("na"),
      col("s").as("sa"), col("q").as("qa"))
    val b = cells.select(col("__g").as("g_b"), col("n").as("nb"),
      col("s").as("sb"), col("q").as("qb"))
    a.join(broadcast(b), col("g_a") < col("g_b"))
      .withColumn("cohens_d", expr(CohensDExpr))
      .withColumn("hedges_g", expr(
        s"""round(($CohensDRawExpr) *
          (1.0 - 3.0 / (4.0 * CAST(na + nb AS DOUBLE) - 9.0)), 6)"""))
      .select("g_a", "g_b", "na", "nb", "cohens_d", "hedges_g")
  }

  private lazy val CohensDRawExpr: String =
    """CASE WHEN na > 1 AND nb > 1 AND
         ((CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE)*CAST(sa AS DOUBLE)/CAST(na AS DOUBLE))
          + (CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE)*CAST(sb AS DOUBLE)/CAST(nb AS DOUBLE)))
         / (CAST(na + nb AS DOUBLE) - 2.0) > 0.0
      THEN (CAST(sa AS DOUBLE)/CAST(na AS DOUBLE) - CAST(sb AS DOUBLE)/CAST(nb AS DOUBLE))
           / sqrt(((CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE)*CAST(sa AS DOUBLE)/CAST(na AS DOUBLE))
                   + (CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE)*CAST(sb AS DOUBLE)/CAST(nb AS DOUBLE)))
                  / (CAST(na + nb AS DOUBLE) - 2.0))
      ELSE 0.0 END"""

  private lazy val CohensDExpr: String = s"round($CohensDRawExpr, 6)"

  private lazy val effectSizesSql =
    s"""WITH c AS (
       |  SELECT substr(o_orderpriority, 1, 1) AS g,
       |    CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CAST(o_totalprice * 100 AS BIGINT) // 100) AS BIGINT) AS s,
       |    CAST(sum((CAST(o_totalprice * 100 AS BIGINT) // 100)
       |             * (CAST(o_totalprice * 100 AS BIGINT) // 100)) AS BIGINT) AS q
       |  FROM orders GROUP BY 1),
       |p AS (SELECT a.g AS g_a, b.g AS g_b, a.n AS na, a.s AS sa, a.q AS qa,
       |        b.n AS nb, b.s AS sb, b.q AS qb
       |      FROM c a JOIN c b ON a.g < b.g)
       |SELECT g_a, g_b, na, nb,
       |  ${CohensDExpr.replace("\n", " ")} AS cohens_d,
       |  round((${CohensDRawExpr.replace("\n", " ")}) *
       |    (1.0 - 3.0 / (4.0 * CAST(na + nb AS DOUBLE) - 9.0)), 6) AS hedges_g
       |FROM p""".stripMargin

  /** #302 Benjamini–Hochberg FDR — multiple-testing control over the
    * #297 per-day z family: p-values via the Zelen–Severo Φ tail
    * polynomial quantized to ⌊p·1e6⌋ (the ⌊ln·1e6⌋ discipline — the
    * 1-ulp libm gap between engines is absorbed by the quantization
    * except on measure-zero boundaries), then the step-up rule runs
    * ENTIRELY on integers: discovery ⇔ rank ≤ k* where k* = max rank
    * with p_ppm·m ≤ rank·α_ppm (α = 5%). 1-row summary output. */
  private def bhFdr(s: SparkSession, dir: String): DataFrame = {
    val daily0 = t(s, dir, "orders")
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
        .as("cents"))
    // one PLANTED outlier day (5× the max daily revenue): the natural
    // days are null draws, so n_discoveries was structurally 0 at every
    // SF — correct FDR behavior under the null, but a dead detector is
    // indistinguishable from a broken one (r10 vacuity audit). The
    // step-up rule must discover exactly this known injected signal.
    val daily = daily0.unionAll(daily0.agg(lit("1990-01-01").as("day"),
      (max("cents") * 5L).as("cents")))
    val m = daily.agg(count(lit(1)).as("__n"), sum("cents").as("__s"),
      sum(col("cents").cast("decimal(38,0)") * col("cents")).as("__q"))
    val z = daily.crossJoin(broadcast(m))
      .withColumn("__z", expr(ControlZExpr))
      .withColumn("p_ppm", expr(PhiTailPpmExpr))
    val w = Window.orderBy(col("p_ppm"), col("day"))
    val ranked = z
      .withColumn("__rk", row_number().over(w).cast("long"))
      .withColumn("__m", count(lit(1)).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("__hit",
        when(col("p_ppm") * col("__m") <= col("__rk") * 50000L, col("__rk")))
    ranked.agg(max("__m").as("n_tests"),
        coalesce(max("__hit"), lit(0L)).as("k_star"),
        min("p_ppm").as("min_p_ppm"))
      .withColumn("n_discoveries", col("k_star"))
      .select("n_tests", "n_discoveries", "min_p_ppm")
  }

  /** ⌊two-sided normal tail·1e6⌋ from z (Zelen–Severo 26.2.17). */
  private[graft] val PhiTailPpmExpr: String = {
    val t = "(1.0 / (1.0 + 0.2316419 * abs(__z)))"
    val poly = s"(0.319381530 * $t - 0.356563782 * $t * $t + 1.781477937 * $t * $t * $t - 1.821255978 * $t * $t * $t * $t + 1.330274429 * $t * $t * $t * $t * $t)"
    s"CAST(floor(2.0 * (exp(-abs(__z) * abs(__z) / 2.0) / sqrt(2.0 * pi())) * $poly * 1000000.0) AS BIGINT)"
  }

  private lazy val bhFdrSql =
    s"""WITH d0 AS (
       |  SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
       |    CAST(sum(CAST(o_totalprice * 100 AS BIGINT)) AS BIGINT) AS cents
       |  FROM orders GROUP BY 1),
       |d AS (
       |  SELECT day, cents FROM d0
       |  UNION ALL
       |  SELECT '1990-01-01', CAST(max(cents) * 5 AS BIGINT) FROM d0),
       |m AS (SELECT CAST(count(*) AS BIGINT) AS __n,
       |        CAST(sum(cents) AS BIGINT) AS __s,
       |        sum(CAST(cents AS HUGEINT) * cents) AS __q
       |      FROM d),
       |z AS (SELECT day, ${ControlZExpr.replace("\n", " ")} AS __z
       |      FROM d CROSS JOIN m),
       |p AS (SELECT day, ${PhiTailPpmExpr.replace("\n", " ")} AS p_ppm FROM z),
       |r AS (SELECT p_ppm,
       |        row_number() OVER (ORDER BY p_ppm, day) AS rk,
       |        count(*) OVER () AS mm
       |      FROM p)
       |SELECT CAST(max(mm) AS BIGINT) AS n_tests,
       |  CAST(coalesce(max(CASE WHEN p_ppm * mm <= rk * 50000
       |                         THEN rk END), 0) AS BIGINT) AS n_discoveries,
       |  CAST(min(p_ppm) AS BIGINT) AS min_p_ppm
       |FROM r""".stripMargin

  /** #303 normal Q–Q deciles — the normality diagnostic behind every
    * z-based gate (#82, #297): exact rank-selected empirical deciles
    * (rank ⌈q·n⌉ on the (cents, day) total order) against the fixed
    * Φ⁻¹ decile constants (literals — nothing to approximate at run
    * time). The z-standardization is the #297 shared fold. */
  private def qqNormal(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "orders")
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("__day"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
        .as("cents"))
    val m = daily.agg(count(lit(1)).as("__n"), sum("cents").as("__s"),
      sum(col("cents").cast("decimal(38,0)") * col("cents")).as("__q"))
    val w = Window.orderBy(col("cents"), col("__day"))
    val deciles = daily
      .withColumn("__rk", row_number().over(w).cast("long"))
      .crossJoin(broadcast(m))
      .withColumn("decile",
        explode(expr("filter(sequence(1, 9), i -> __rk = (i * __n + 9) div 10)")))
      .withColumn("decile", col("decile").cast("long"))
    deciles
      .withColumn("z_empirical", expr(QqZExpr))
      .withColumn("z_theoretical", expr(
        """round(CAST(element_at(array(-1.2815515655446004D, -0.8416212335729143D,
          -0.5244005127080407D, -0.2533471031357997D, 0.0D,
          0.2533471031357997D, 0.5244005127080407D, 0.8416212335729143D,
          1.2815515655446004D), CAST(decile AS INT)) AS DOUBLE), 6)"""))
      .withColumn("qq_gap", round(col("z_empirical") - col("z_theoretical"), 6))
      .select("decile", "cents", "z_empirical", "z_theoretical", "qq_gap")
  }

  /** #297's z fold under the q-q column names. */
  private[graft] val QqZExpr: String = ControlZExpr

  private lazy val qqNormalSql =
    s"""WITH d AS (
       |  SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
       |    CAST(sum(CAST(o_totalprice * 100 AS BIGINT)) AS BIGINT) AS cents
       |  FROM orders GROUP BY 1),
       |m AS (SELECT CAST(count(*) AS BIGINT) AS __n,
       |        CAST(sum(cents) AS BIGINT) AS __s,
       |        sum(CAST(cents AS HUGEINT) * cents) AS __q
       |      FROM d),
       |r AS (SELECT day, cents, row_number() OVER (ORDER BY cents, day) AS rk
       |      FROM d),
       |dec AS (
       |  SELECT i.decile, r.cents, m.__n, m.__s, m.__q
       |  FROM r CROSS JOIN m
       |  JOIN (SELECT unnest(generate_series(1, 9)) AS decile) i
       |    ON r.rk = (i.decile * m.__n + 9) // 10),
       |th AS (SELECT * FROM (VALUES
       |  (1, -1.2815515655446004), (2, -0.8416212335729143),
       |  (3, -0.5244005127080407), (4, -0.2533471031357997), (5, 0.0),
       |  (6, 0.2533471031357997), (7, 0.5244005127080407),
       |  (8, 0.8416212335729143), (9, 1.2815515655446004)) t(decile, zt))
       |SELECT CAST(dec.decile AS BIGINT) AS decile, dec.cents,
       |  ${ControlZExpr.replace("\n", " ")} AS z_empirical,
       |  round(CAST(th.zt AS DOUBLE), 6) AS z_theoretical,
       |  round(${ControlZExpr.replace("\n", " ")}
       |        - round(CAST(th.zt AS DOUBLE), 6), 6) AS qq_gap
       |FROM dec JOIN th ON th.decile = dec.decile""".stripMargin

  /** #304 Jarque–Bera — skewness/kurtosis normality test on daily
    * revenue in TRUNCATED K$ units (cents div 100000: the 4th power of
    * a k$ total stays inside DECIMAL(38) to sf100, where cents⁴ would
    * not). Four raw moments fold exactly; skew, excess kurtosis and JB
    * are one shared divide-early double expression. */
  private def jarqueBera(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "orders")
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("__day"))
      .agg(expr("CAST(sum(CAST(o_totalprice * 100 AS DECIMAL(18,0))) div 100000 AS BIGINT)")
        .as("__x"))
    val x = col("__x").cast("decimal(38,0)")
    daily.agg(count(lit(1)).as("n_days"), sum("__x").as("__s1"),
        sum(x * x).as("__s2"), sum(x * x * x).as("__s3"),
        sum(x * x * x * x).as("__s4"))
      .withColumn("skewness", expr(JbSkewExpr))
      .withColumn("kurtosis_excess", expr(JbKurtExpr))
      .withColumn("jb_stat", expr(JbStatExpr))
      .select("n_days", "skewness", "kurtosis_excess", "jb_stat")
  }

  // central moments via divide-early raw-moment identities; every
  // operand derives from exact integers by the same conversions
  private lazy val jbMu = "(CAST(__s1 AS DOUBLE) / CAST(n_days AS DOUBLE))"

  private lazy val jbM2 =
    s"(CAST(__s2 AS DOUBLE) / CAST(n_days AS DOUBLE) - $jbMu * $jbMu)"

  private lazy val jbM3 =
    s"(CAST(__s3 AS DOUBLE) / CAST(n_days AS DOUBLE) - 3.0 * $jbMu * CAST(__s2 AS DOUBLE) / CAST(n_days AS DOUBLE) + 2.0 * $jbMu * $jbMu * $jbMu)"

  private lazy val jbM4 =
    s"(CAST(__s4 AS DOUBLE) / CAST(n_days AS DOUBLE) - 4.0 * $jbMu * CAST(__s3 AS DOUBLE) / CAST(n_days AS DOUBLE) + 6.0 * $jbMu * $jbMu * CAST(__s2 AS DOUBLE) / CAST(n_days AS DOUBLE) - 3.0 * $jbMu * $jbMu * $jbMu * $jbMu)"

  private lazy val JbSkewRaw =
    s"(CASE WHEN $jbM2 > 0.0 THEN $jbM3 / ($jbM2 * sqrt($jbM2)) ELSE 0.0 END)"

  private lazy val JbKurtRaw =
    s"(CASE WHEN $jbM2 > 0.0 THEN $jbM4 / ($jbM2 * $jbM2) - 3.0 ELSE 0.0 END)"

  private[graft] lazy val JbSkewExpr = s"round($JbSkewRaw, 6)"

  private[graft] lazy val JbKurtExpr = s"round($JbKurtRaw, 6)"

  private[graft] lazy val JbStatExpr =
    s"""round(CAST(n_days AS DOUBLE) *
      ($JbSkewRaw * $JbSkewRaw / 6.0 + $JbKurtRaw * $JbKurtRaw / 24.0), 6)"""

  private lazy val jarqueBeraSql =
    s"""WITH d AS (
       |  SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
       |    CAST(sum(CAST(o_totalprice * 100 AS BIGINT)) // 100000 AS BIGINT)
       |      AS x
       |  FROM orders GROUP BY 1),
       |m AS (SELECT CAST(count(*) AS BIGINT) AS n_days,
       |        CAST(sum(x) AS BIGINT) AS __s1,
       |        sum(CAST(x AS HUGEINT) * x) AS __s2,
       |        sum(CAST(x AS HUGEINT) * x * x) AS __s3,
       |        sum(CAST(x AS HUGEINT) * x * x * x) AS __s4
       |      FROM d)
       |SELECT n_days, ${JbSkewExpr.replace("\n", " ")} AS skewness,
       |  ${JbKurtExpr.replace("\n", " ")} AS kurtosis_excess,
       |  ${JbStatExpr.replace("\n", " ")} AS jb_stat
       |FROM m""".stripMargin

  /** #305 Durbin–Watson — first-order serial correlation of the daily
    * revenue series around its mean: DW = n·Σ(Δx)² / (n·Σx² − S²),
    * numerator from one O(days) lag window, denominator the n-scaled
    * variance identity — both exact integers, one double division. */
  private def durbinWatson(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "orders")
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("__day"))
      .agg(expr("CAST(sum(CAST(o_totalprice * 100 AS DECIMAL(18,0))) div 100 AS BIGINT)")
        .as("__x"))
    val w = Window.orderBy("__day")
    val diffs = daily
      .withColumn("__prev", lag("__x", 1).over(w))
      .withColumn("__d", col("__x") - col("__prev"))
    diffs.agg(count(lit(1)).as("n_days"),
        sum(col("__x").cast("decimal(38,0)")).as("__s"),
        sum(col("__x").cast("decimal(38,0)") * col("__x")).as("__q"),
        sum(col("__d").cast("decimal(38,0)") * col("__d")).as("__dd"))
      .withColumn("dw", expr(DwExpr))
      .select("n_days", "dw")
  }

  private[graft] val DwExpr: String =
    """round(CASE
      WHEN CAST(n_days AS DOUBLE) * CAST(__q AS DOUBLE)
           - CAST(__s AS DOUBLE) * CAST(__s AS DOUBLE) > 0.0
      THEN CAST(n_days AS DOUBLE) * CAST(__dd AS DOUBLE)
           / (CAST(n_days AS DOUBLE) * CAST(__q AS DOUBLE)
              - CAST(__s AS DOUBLE) * CAST(__s AS DOUBLE))
      ELSE 0.0 END, 6)"""

  private lazy val durbinWatsonSql =
    s"""WITH d AS (
       |  SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
       |    CAST(sum(CAST(o_totalprice * 100 AS BIGINT)) // 100 AS BIGINT) AS x
       |  FROM orders GROUP BY 1),
       |l AS (SELECT x, x - lag(x) OVER (ORDER BY day) AS dd FROM d),
       |m AS (SELECT CAST(count(*) AS BIGINT) AS n_days,
       |        CAST(sum(x) AS BIGINT) AS __s,
       |        sum(CAST(x AS HUGEINT) * x) AS __q,
       |        sum(CAST(dd AS HUGEINT) * dd) AS __dd
       |      FROM l)
       |SELECT n_days, ${DwExpr.replace("\n", " ")} AS dw
       |FROM m""".stripMargin

  /** #306 matrix profile — for every 7-day window of the daily revenue
    * sequence, the nearest other window (motif/discord discovery, the
    * UCR matrix-profile shape at daily granularity): windows are seven
    * lead columns (one O(days) pass, positions not calendar — declared),
    * distances are EXACT integer Σ(Δk$)² so the argmin has no double
    * ambiguity, and the ±3 exclusion zone kills trivial self-matches.
    * The pair scan is calendar-bounded O(days²) (the #278 broadcast
    * shape); per-window minima pick by (dist², match_pos) total order. */
  private def matrixProfile(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "orders")
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("__day"))
      .agg(expr("CAST(sum(CAST(o_totalprice * 100 AS DECIMAL(18,0))) div 100000 AS BIGINT)")
        .as("__x"))
    val w = Window.orderBy("__day")
    val wins = daily
      .withColumn("__pos", row_number().over(w).cast("long"))
      .withColumn("__n", count(lit(1)).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    val cols = (0 to 6).map(k =>
      (if (k == 0) col("__x") else lead(col("__x"), k).over(w)).as(s"x$k"))
    val vecs = wins.select(Seq(col("__day"), col("__pos"), col("__n")) ++ cols: _*)
      .filter(col("__pos") <= col("__n") - 6)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val aCols = Seq(col("__day").as("start_day"), col("__pos").as("pa")) ++
      (0 to 6).map(k => col(s"x$k").as(s"a$k"))
    val a = vecs.select(aCols: _*)
    val bCols = col("__pos").as("pb") +:
      (0 to 6).map(k => col(s"x$k").as(s"b$k"))
    val b = vecs.select(bCols: _*)
    val d2 = (0 to 6).map(k =>
      s"(a$k - b$k) * (a$k - b$k)").mkString(" + ")
    val pairs = a.join(broadcast(b), abs(col("pa") - col("pb")) >= 4)
      .withColumn("__d2", expr(d2))
    // per-window best match as min(struct(d2, pb)) — lexicographic struct
    // min ≡ the row_number()-over-(d2, pb) rank-1 row it replaces, but a
    // declarative aggregate PARTIAL-aggregates map-side (the ~5.7M-row
    // pair fan-out reduces to O(windows) per partition before the
    // exchange) where the window had to shuffle AND sort every pair row
    pairs
      .groupBy(col("pa").as("window_pos"), col("start_day"))
      .agg(min(struct(col("__d2"), col("pb"))).as("__m"))
      .select(col("window_pos"), col("start_day"),
        col("__m.__d2").as("min_dist2"), col("__m.pb").as("match_pos"))
  }

  private val matrixProfileSql =
    """WITH d AS (
      |  SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
      |    CAST(sum(CAST(o_totalprice * 100 AS BIGINT)) // 100000 AS BIGINT)
      |      AS x
      |  FROM orders GROUP BY 1),
      |v AS MATERIALIZED (
      |  SELECT day, row_number() OVER (ORDER BY day) AS pos,
      |    count(*) OVER () AS n, x AS x0,
      |    lead(x, 1) OVER (ORDER BY day) AS x1,
      |    lead(x, 2) OVER (ORDER BY day) AS x2,
      |    lead(x, 3) OVER (ORDER BY day) AS x3,
      |    lead(x, 4) OVER (ORDER BY day) AS x4,
      |    lead(x, 5) OVER (ORDER BY day) AS x5,
      |    lead(x, 6) OVER (ORDER BY day) AS x6
      |  FROM d),
      |vv AS MATERIALIZED (SELECT * FROM v WHERE pos <= n - 6),
      |p AS (
      |  SELECT a.pos AS pa, a.day AS start_day, b.pos AS pb,
      |    (a.x0-b.x0)*(a.x0-b.x0) + (a.x1-b.x1)*(a.x1-b.x1)
      |    + (a.x2-b.x2)*(a.x2-b.x2) + (a.x3-b.x3)*(a.x3-b.x3)
      |    + (a.x4-b.x4)*(a.x4-b.x4) + (a.x5-b.x5)*(a.x5-b.x5)
      |    + (a.x6-b.x6)*(a.x6-b.x6) AS d2
      |  FROM vv a JOIN vv b ON abs(a.pos - b.pos) >= 4),
      |r AS (SELECT *, row_number() OVER (PARTITION BY pa ORDER BY d2, pb)
      |        AS rk FROM p)
      |SELECT CAST(pa AS BIGINT) AS window_pos, start_day,
      |  CAST(d2 AS BIGINT) AS min_dist2, CAST(pb AS BIGINT) AS match_pos
      |FROM r WHERE rk = 1""".stripMargin

  /** #308 seasonal Mann–Kendall (Hirsch–Slack) — #295 restricted to
    * within-month-of-year comparisons so a seasonal cycle cannot fake
    * a trend: S and the tie-corrected variance fold PER SEASON (exact
    * integers, Σ n_m² pairs ≈ 12·(days/12)² — smaller than #295's full
    * scan), then combine additively into one continuity-corrected z. */
  private def seasonalMk(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("__day"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
        .as("__x"))
      .withColumn("__m", month(col("__day")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = daily.select(col("__m"), col("__day").as("__d1"), col("__x").as("__x1"))
    val b = daily.select(col("__m").as("__m2"), col("__day").as("__d2"),
      col("__x").as("__x2"))
    val sPer = a.join(broadcast(b),
        col("__m") === col("__m2") && col("__d1") < col("__d2"))
      .groupBy("__m")
      .agg(sum(signum(col("__x2") - col("__x1")).cast("long")).as("__sm"))
    val varPer = daily.groupBy("__m", "__x").agg(count(lit(1)).as("__t"))
      .groupBy("__m")
      .agg(sum("__t").as("__nm"),
        sum(col("__t") * (col("__t") - 1) * (lit(2) * col("__t") + 5))
          .as("__tm"))
    sPer.join(varPer, Seq("__m"))
      .agg(sum("__nm").as("n_days"), sum("__sm").as("s_stat"),
        sum(expr("__nm * (__nm - 1) * (2 * __nm + 5) - __tm")).as("__var18"))
      .withColumn("z", expr(SeasonalMkZExpr))
      .select("n_days", "s_stat", "z")
  }

  private[graft] val SeasonalMkZExpr: String =
    """round(CASE
      WHEN CAST(__var18 AS DOUBLE) / 18.0 > 0.0 AND s_stat <> 0
      THEN (CAST(s_stat AS DOUBLE)
            - CAST(CASE WHEN s_stat > 0 THEN 1 ELSE -1 END AS DOUBLE))
           / sqrt(CAST(__var18 AS DOUBLE) / 18.0)
      ELSE 0.0 END, 6)"""

  private lazy val seasonalMkSql =
    s"""WITH d AS MATERIALIZED (
       |  SELECT CAST(o_orderdate AS DATE) AS day,
       |    CAST(month(o_orderdate) AS INT) AS m,
       |    CAST(sum(CAST(o_totalprice * 100 AS BIGINT)) AS BIGINT) AS x
       |  FROM orders GROUP BY 1, 2),
       |sp AS (SELECT a.m, CAST(sum(CASE WHEN b.x > a.x THEN 1
       |                WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT) AS sm
       |       FROM d a JOIN d b ON a.m = b.m AND a.day < b.day GROUP BY 1),
       |vp AS (SELECT m, CAST(sum(t) AS BIGINT) AS nm,
       |         CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tm
       |       FROM (SELECT m, x, CAST(count(*) AS BIGINT) AS t
       |             FROM d GROUP BY 1, 2) GROUP BY 1),
       |f AS (SELECT CAST(sum(nm) AS BIGINT) AS n_days,
       |        CAST(sum(sm) AS BIGINT) AS s_stat,
       |        CAST(sum(nm * (nm - 1) * (2 * nm + 5) - tm) AS BIGINT)
       |          AS __var18
       |      FROM sp JOIN vp USING (m))
       |SELECT n_days, s_stat, ${SeasonalMkZExpr.replace("\n", " ")} AS z
       |FROM f""".stripMargin

  /** #309 Ljung–Box portmanteau — are the first 7 daily-revenue
    * autocorrelations jointly zero (the i.i.d. sanity check behind
    * #112's ACF and #305's DW)? Seven lead columns give the exact
    * lagged cross-moments in one pass (k$ units keep Σx·x_lag inside
    * BIGINT past sf10); r_k and Q fold in one fixed-order shared double
    * expression — no per-lag double rows to sum. */
  private def ljungBox(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "orders")
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("__day"))
      .agg(expr("CAST(sum(CAST(o_totalprice * 100 AS DECIMAL(18,0))) div 100000 AS BIGINT)")
        .as("__x"))
    val w = Window.orderBy("__day")
    val withLeads = (1 to 7).foldLeft(
      daily.withColumn("__pos", row_number().over(w).cast("long"))) {
      case (df, k) => df.withColumn(s"__l$k", lead(col("__x"), k).over(w))
    }
    val aggs = Seq(count(lit(1)).as("n_days"), sum("__x").as("s1"),
      sum(col("__x") * col("__x")).as("s2")) ++ (1 to 7).flatMap { k =>
      Seq(sum(col("__x") * col(s"__l$k")).as(s"a$k"),
        sum(when(col(s"__l$k").isNotNull, col("__x"))).as(s"b$k"),
        sum(col(s"__l$k")).as(s"c$k"))
    }
    withLeads.agg(aggs.head, aggs.tail: _*)
      .withColumn("q_stat", expr(LjungBoxQExpr))
      .withColumn("r1", expr(ljungR(1)))
      .select("n_days", "r1", "q_stat")
  }

  // r_k = (A_k − x̄(B_k+C_k) + (n−k)x̄²) / ((Σx² − n·x̄²)); all operands
  // exact integers, x̄ divided early
  private def ljungR(k: Int): String = {
    val mu = "(CAST(s1 AS DOUBLE) / CAST(n_days AS DOUBLE))"
    val den = s"(CAST(s2 AS DOUBLE) - CAST(n_days AS DOUBLE) * $mu * $mu)"
    s"""round(CASE WHEN $den > 0.0
      THEN (CAST(a$k AS DOUBLE) - $mu * (CAST(coalesce(b$k, 0) AS DOUBLE) + CAST(coalesce(c$k, 0) AS DOUBLE))
            + CAST(n_days - $k AS DOUBLE) * $mu * $mu) / $den
      ELSE 0.0 END, 6)"""
  }

  private[graft] lazy val LjungBoxQExpr: String = {
    val terms = (1 to 7).map { k =>
      val r = ljungR(k)
      s"(($r) * ($r) / CAST(n_days - $k AS DOUBLE))"
    }.mkString(" + ")
    s"""round(CASE WHEN n_days > 8
      THEN CAST(n_days AS DOUBLE) * (CAST(n_days AS DOUBLE) + 2.0) * ($terms)
      ELSE 0.0 END, 6)"""
  }

  private lazy val ljungBoxSql = {
    val leads = (1 to 7).map(k =>
      s"lead(x, $k) OVER (ORDER BY day) AS l$k").mkString(",\n  ")
    val moms = (1 to 7).map(k =>
      s"""CAST(sum(x * l$k) AS BIGINT) AS a$k,
         |  CAST(sum(CASE WHEN l$k IS NOT NULL THEN x END) AS BIGINT) AS b$k,
         |  CAST(sum(l$k) AS BIGINT) AS c$k""".stripMargin).mkString(",\n  ")
    s"""WITH d AS (
       |  SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
       |    CAST(sum(CAST(o_totalprice * 100 AS BIGINT)) // 100000 AS BIGINT)
       |      AS x
       |  FROM orders GROUP BY 1),
       |l AS (SELECT x, $leads FROM d),
       |m AS (SELECT CAST(count(*) AS BIGINT) AS n_days,
       |  CAST(sum(x) AS BIGINT) AS s1, CAST(sum(x * x) AS BIGINT) AS s2,
       |  $moms
       |  FROM l)
       |SELECT n_days, ${ljungR(1).replace("\n", " ")} AS r1,
       |  ${LjungBoxQExpr.replace("\n", " ")} AS q_stat
       |FROM m""".stripMargin
  }

  /** #310 Cliff's delta — the nonparametric effect size for every
    * priority pair (the ordinal companion to #301's Cohen's d):
    * δ = (#(x>y) − #(x<y))/(n_a·n_b), computed WITHOUT any pair scan
    * from the compressed value domain — order values quantize to
    * DECA-DOLLARS (declared, bounding the distinct domain by the price
    * range, not the row count), one row per distinct value carries the
    * five per-group counts, exclusive-prefix windows give #(<v) per
    * group, and Σ c_a·lt_b folds the 20 ordered-pair counts in ONE
    * aggregate. Sign-split ppm division at the end. */
  private def cliffsDelta(s: SparkSession, dir: String): DataFrame = {
    val vals = parallelize(s, t(s, dir, "orders"))
      .select(substring(col("o_orderpriority"), 1, 1).as("__g"),
        expr("CAST(CAST(o_totalprice * 100 AS DECIMAL(18,0)) div 1000 AS BIGINT)")
          .as("__v"))
    val cCols = (1 to 5).map(g =>
      sum(when(col("__g") === g.toString, 1L).otherwise(0L)).as(s"c$g"))
    val compressed = vals.groupBy("__v").agg(cCols.head, cCols.tail: _*)
    val w = Window.orderBy("__v").rowsBetween(Window.unboundedPreceding, -1)
    val cum = (1 to 5).foldLeft(compressed.as("cp")) { case (df, g) =>
      df.withColumn(s"lt$g", coalesce(sum(col(s"c$g")).over(w), lit(0L)))
    }
    val aggs = (1 to 5).map(g => sum(col(s"c$g")).as(s"n$g")) ++
      (for (a <- 1 to 5; b <- 1 to 5 if a != b)
        yield sum(col(s"c$a") * col(s"lt$b")).as(s"gt${a}_$b"))
    val one = cum.agg(aggs.head, aggs.tail: _*)
    val pairStructs = (for (a <- 1 to 5; b <- (a + 1) to 5) yield
      s"""struct('$a' AS g_a, '$b' AS g_b, n$a AS na, n$b AS nb,
         |  gt${a}_$b AS gt, gt${b}_$a AS lt)""".stripMargin.replace("\n", " "))
      .mkString(", ")
    one.select(explode(expr(s"array($pairStructs)")).as("p"))
      .select(col("p.g_a").as("g_a"), col("p.g_b").as("g_b"),
        col("p.na").as("na"), col("p.nb").as("nb"),
        col("p.gt").as("n_greater"), col("p.lt").as("n_less"))
      .withColumn("delta_ppm", expr(
        """CASE WHEN n_greater - n_less >= 0
          THEN ((n_greater - n_less) * 1000000) div (na * nb)
          ELSE -(((n_less - n_greater) * 1000000) div (na * nb)) END"""))
  }

  private lazy val cliffsDeltaSql = {
    val cs = (1 to 5).map(g =>
      s"CAST(sum(CASE WHEN g = '$g' THEN 1 ELSE 0 END) AS BIGINT) AS c$g")
      .mkString(", ")
    val lts = (1 to 5).map(g =>
      s"""coalesce(sum(c$g) OVER (ORDER BY v
         | ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lt$g"""
        .stripMargin.replace("\n", " ")).mkString(", ")
    val sums = (1 to 5).map(g => s"CAST(sum(c$g) AS BIGINT) AS n$g")
      .mkString(", ") + ", " +
      (for (a <- 1 to 5; b <- 1 to 5 if a != b)
        yield s"CAST(sum(c$a * lt$b) AS BIGINT) AS gt${a}_$b").mkString(", ")
    val rows = (for (a <- 1 to 5; b <- (a + 1) to 5) yield
      s"SELECT '$a' AS g_a, '$b' AS g_b, n$a AS na, n$b AS nb, gt${a}_$b AS n_greater, gt${b}_$a AS n_less FROM one")
      .mkString("\nUNION ALL\n")
    s"""WITH base AS (
       |  SELECT substr(o_orderpriority, 1, 1) AS g,
       |    CAST(CAST(o_totalprice * 100 AS BIGINT) // 1000 AS BIGINT) AS v
       |  FROM orders),
       |cp AS (SELECT v, $cs FROM base GROUP BY 1),
       |cum AS (SELECT v, c1, c2, c3, c4, c5, $lts FROM cp),
       |one AS (SELECT $sums FROM cum),
       |pairs AS ($rows)
       |SELECT g_a, g_b, na, nb, n_greater, n_less,
       |  CAST(CASE WHEN n_greater - n_less >= 0
       |    THEN ((n_greater - n_less) * 1000000) // (na * nb)
       |    ELSE -(((n_less - n_greater) * 1000000) // (na * nb)) END
       |    AS BIGINT) AS delta_ppm
       |FROM pairs""".stripMargin
  }

  /** #311 Hurst exponent — long-memory estimation of the daily revenue
    * series by rescaled range over dyadic block sizes 8..256: within
    * each FULL block the range of mean-centered prefix sums folds
    * EXACTLY as Rs = max_k(w·P_k − k·S) − min_k(…) (the #285 scaled
    * device — no division before the range), the denominator D = w·Q−S²
    * is the n-scaled variance identity, and each block's R/S lands as
    * ⌊(Rs ÷ √D)·1e6⌋ so the per-size MEAN is an integer division — no
    * engine-ordered double summation. H is the fixed-order 6-point
    * log-log OLS slope. One O(days·6) pass, windows partitioned per
    * (size, block). */
  private def hurst(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "orders")
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("__day"))
      .agg(expr("CAST(sum(CAST(o_totalprice * 100 AS DECIMAL(18,0))) div 100000 AS BIGINT)")
        .as("__x"))
      .withColumn("__pos",
        row_number().over(Window.orderBy("__day")).cast("long"))
    val sized = daily.crossJoin(
        broadcast(s.range(1).select(explode(expr(
          "array(8L, 16L, 32L, 64L, 128L, 256L)")).as("__w"))))
      .withColumn("__b", expr("(__pos - 1) div __w"))
      .withColumn("__k", expr("__pos - __b * __w"))
    val wB = Window.partitionBy("__w", "__b")
    val wPfx = wB.orderBy("__k").rowsBetween(Window.unboundedPreceding, 0)
    val devs = sized
      .withColumn("__cnt", count(lit(1)).over(wB))
      .filter(col("__cnt") === col("__w"))
      .withColumn("__sb", sum("__x").over(wB))
      .withColumn("__qb", sum(col("__x") * col("__x")).over(wB))
      .withColumn("__p", sum("__x").over(wPfx))
      .withColumn("__dev", col("__w") * col("__p") - col("__k") * col("__sb"))
    val blocks = devs.groupBy("__w", "__b")
      .agg((max("__dev") - min("__dev")).as("__rstar"),
        (max(col("__w") * col("__qb") - col("__sb") * col("__sb"))).as("__d"))
      .filter(col("__d") > 0)
      .withColumn("__rs_ppm", expr(
        "CAST(floor(CAST(__rstar AS DOUBLE) / sqrt(CAST(__d AS DOUBLE)) * 1000000.0) AS BIGINT)"))
    val perSize = blocks.groupBy("__w")
      .agg(count(lit(1)).as("__nb"), expr("sum(__rs_ppm) div count(*)").as("__mean"))
    val pivotCols = Seq(8, 16, 32, 64, 128, 256).flatMap { wsz =>
      Seq(coalesce(sum(when(col("__w") === wsz, col("__mean"))), lit(0L))
            .as(s"rs$wsz"),
        coalesce(sum(when(col("__w") === wsz, col("__nb"))), lit(0L))
          .as(s"nb$wsz"))
    }
    perSize.agg(pivotCols.head, pivotCols.tail: _*)
      .withColumn("h_estimate", expr(HurstSlopeExpr))
      .select("rs8", "rs32", "rs256", "h_estimate")
  }

  /** 6-point log-log OLS slope over the fixed size set; sizes with no
    * blocks (rs=0) contribute via the guard. */
  private[graft] lazy val HurstSlopeExpr: String = {
    val sizes = Seq(8, 16, 32, 64, 128, 256)
    val lnw = sizes.map(w => s"ln(${w}.0)")
    val lnr = sizes.map(w => s"(CASE WHEN rs$w > 0 THEN ln(CAST(rs$w AS DOUBLE)) ELSE 0.0 END)")
    val mw = s"((${lnw.mkString(" + ")}) / 6.0)"
    val mr = s"((${lnr.mkString(" + ")}) / 6.0)"
    val num = sizes.indices.map(i =>
      s"((${lnw(i)} - $mw) * (${lnr(i)} - $mr))").mkString(" + ")
    val den = sizes.indices.map(i =>
      s"((${lnw(i)} - $mw) * (${lnw(i)} - $mw))").mkString(" + ")
    s"round(CASE WHEN ($den) > 0.0 THEN ($num) / ($den) ELSE 0.0 END, 6)"
  }

  private lazy val hurstSql =
    s"""WITH d AS (
       |  SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
       |    CAST(sum(CAST(o_totalprice * 100 AS BIGINT)) // 100000 AS BIGINT)
       |      AS x
       |  FROM orders GROUP BY 1),
       |pos AS (SELECT x, row_number() OVER (ORDER BY day) AS p FROM d),
       |sz AS (SELECT unnest([8, 16, 32, 64, 128, 256]) AS w),
       |blk AS (
       |  SELECT CAST(sz.w AS BIGINT) AS w, pos.x,
       |    (pos.p - 1) // sz.w AS b, pos.p - ((pos.p - 1) // sz.w) * sz.w AS k
       |  FROM pos CROSS JOIN sz),
       |fb AS (
       |  SELECT *, count(*) OVER (PARTITION BY w, b) AS cnt,
       |    sum(x) OVER (PARTITION BY w, b) AS sb,
       |    sum(x * x) OVER (PARTITION BY w, b) AS qb,
       |    sum(x) OVER (PARTITION BY w, b ORDER BY k
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pf
       |  FROM blk),
       |dev AS (SELECT w, b, w * pf - k * sb AS dv, w * qb - sb * sb AS dd
       |        FROM fb WHERE cnt = w),
       |rs AS (
       |  SELECT w, b,
       |    CAST(floor(CAST(max(dv) - min(dv) AS DOUBLE)
       |         / sqrt(CAST(max(dd) AS DOUBLE)) * 1000000.0) AS BIGINT)
       |      AS rs_ppm
       |  FROM dev GROUP BY 1, 2 HAVING max(dd) > 0),
       |ps AS (SELECT w, CAST(count(*) AS BIGINT) AS nb,
       |         CAST(sum(rs_ppm) // count(*) AS BIGINT) AS mean_ppm
       |       FROM rs GROUP BY 1),
       |one AS (SELECT ${Seq(8, 16, 32, 64, 128, 256).map(w =>
          s"CAST(coalesce(sum(CASE WHEN w = $w THEN mean_ppm END), 0) AS BIGINT) AS rs$w, CAST(coalesce(sum(CASE WHEN w = $w THEN nb END), 0) AS BIGINT) AS nb$w")
          .mkString(", ")} FROM ps)
       |SELECT rs8, rs32, rs256, ${HurstSlopeExpr.replace("\n", " ")}
       |  AS h_estimate
       |FROM one""".stripMargin

  /** #313 invoice aging — the AR report every finance pipeline runs:
    * OPEN orders bucketed by age at the corpus reference date
    * (max order date — deterministic, no wall clock), with exact
    * order counts and cents per bucket. One scan + broadcast 1-row
    * reference; bucket edges are integer day comparisons. */
  private def invoiceAging(s: SparkSession, dir: String): DataFrame = {
    val ref = t(s, dir, "orders").agg(max(to_date(col("o_orderdate"))).as("__ref"))
    parallelize(s, t(s, dir, "orders"))
      .filter(col("o_orderstatus") === "O")
      .crossJoin(broadcast(ref))
      .withColumn("__age", datediff(col("__ref"), to_date(col("o_orderdate"))))
      .withColumn("age_bucket",
        when(col("__age") <= 30, "0-30")
          .when(col("__age") <= 90, "31-90")
          .when(col("__age") <= 365, "91-365")
          .otherwise("365+"))
      .groupBy("age_bucket")
      .agg(count(lit(1)).as("n_orders"),
        sum((col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
          .as("cents"))
  }

  private val invoiceAgingSql =
    """WITH ref AS (SELECT max(CAST(o_orderdate AS DATE)) AS r FROM orders)
      |SELECT CASE
      |    WHEN CAST(ref.r - CAST(o_orderdate AS DATE) AS BIGINT) <= 30 THEN '0-30'
      |    WHEN CAST(ref.r - CAST(o_orderdate AS DATE) AS BIGINT) <= 90 THEN '31-90'
      |    WHEN CAST(ref.r - CAST(o_orderdate AS DATE) AS BIGINT) <= 365 THEN '91-365'
      |    ELSE '365+' END AS age_bucket,
      |  CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(sum(CAST(o_totalprice * 100 AS BIGINT)) AS BIGINT) AS cents
      |FROM orders CROSS JOIN ref
      |WHERE o_orderstatus = 'O'
      |GROUP BY 1""".stripMargin

  /** #314 ABC–XYZ inventory classification — the composite every
    * supply-chain analyst runs: ABC by cumulative revenue share (A ≤
    * 80%, B ≤ 95%, EXACT integer thresholds 5·cum ≤ 4·T / 20·cum ≤
    * 19·T on the distributed rank+prefix scans — the #147 shape, never
    * a single-reducer window) × XYZ by monthly-demand variability
    * (CV ppm off exact (n, Σq, Σq²); single-month parts are Z by
    * declaration). Output is the 3×3 class grid with exact counts and
    * revenue. */
  private def abcXyz(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select(col("l_partkey").as("pk"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
          .as("__c"),
        col("l_quantity").cast("long").as("__q"),
        date_format(col("l_shipdate"), "yyyy-MM").as("__m"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val monthly = li.groupBy("pk", "__m").agg(sum("__q").as("__mq"))
    val xyz = monthly.groupBy("pk")
      .agg(count(lit(1)).as("__nm"), sum("__mq").as("__sq"),
        sum(col("__mq") * col("__mq")).as("__qq"))
      .withColumn("xyz_class", expr(
        """CASE WHEN __nm < 2 THEN 'Z' ELSE
          CASE WHEN floor(sqrt(CAST(__nm * __qq - __sq * __sq AS DOUBLE)
                 * CAST(__nm AS DOUBLE) / CAST(__nm - 1 AS DOUBLE))
               / CAST(__sq AS DOUBLE) * 1000000.0) <= 500000 THEN 'X'
          WHEN floor(sqrt(CAST(__nm * __qq - __sq * __sq AS DOUBLE)
                 * CAST(__nm AS DOUBLE) / CAST(__nm - 1 AS DOUBLE))
               / CAST(__sq AS DOUBLE) * 1000000.0) <= 1000000 THEN 'Y'
          ELSE 'Z' END END"""))
      .select("pk", "xyz_class")
    val rev = li.groupBy("pk").agg(sum("__c").as("__rev"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tot = rev.agg(sum("__rev").as("__T"))
    // rank + running revenue in ONE two-phase scan (the old
    // withGlobalRank→runningTotal pair was two range shuffles, two
    // driver collects, and a sort-merge re-join on the rank)
    val abc = PrefixSum.withRankAndRunningTotal(
        rev.withColumn("__negr", -col("__rev")), Seq("__negr", "pk"),
        "__rev", "__r", "running_total")
      .crossJoin(broadcast(tot))
      .withColumn("abc_class", expr(
        """CASE WHEN 5 * running_total <= 4 * __T THEN 'A'
          WHEN 20 * running_total <= 19 * __T THEN 'B'
          ELSE 'C' END"""))
      .select("pk", "abc_class", "__rev")
    abc.join(xyz, Seq("pk"))
      .groupBy("abc_class", "xyz_class")
      .agg(count(lit(1)).as("n_parts"), sum("__rev").as("revenue_cents"))
  }

  private val abcXyzSql =
    """WITH li AS (
      |  SELECT l_partkey AS pk, CAST(l_extendedprice * 100 AS BIGINT) AS c,
      |    CAST(l_quantity AS BIGINT) AS q,
      |    strftime(l_shipdate, '%Y-%m') AS m
      |  FROM lineitem),
      |mo AS (SELECT pk, m, CAST(sum(q) AS BIGINT) AS mq
      |       FROM li GROUP BY 1, 2),
      |xyz AS (
      |  SELECT pk, CASE WHEN count(*) < 2 THEN 'Z' ELSE
      |    CASE WHEN floor(sqrt(CAST(count(*) * sum(mq * mq) - sum(mq) * sum(mq) AS DOUBLE)
      |           * CAST(count(*) AS DOUBLE) / CAST(count(*) - 1 AS DOUBLE))
      |         / CAST(sum(mq) AS DOUBLE) * 1000000.0) <= 500000 THEN 'X'
      |    WHEN floor(sqrt(CAST(count(*) * sum(mq * mq) - sum(mq) * sum(mq) AS DOUBLE)
      |           * CAST(count(*) AS DOUBLE) / CAST(count(*) - 1 AS DOUBLE))
      |         / CAST(sum(mq) AS DOUBLE) * 1000000.0) <= 1000000 THEN 'Y'
      |    ELSE 'Z' END END AS xyz_class
      |  FROM mo GROUP BY pk),
      |rev AS (SELECT pk, CAST(sum(c) AS BIGINT) AS r FROM li GROUP BY 1),
      |tot AS (SELECT CAST(sum(r) AS BIGINT) AS T FROM rev),
      |cum AS (SELECT pk, r,
      |          sum(r) OVER (ORDER BY r DESC, pk
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ct
      |        FROM rev),
      |abc AS (SELECT pk, r,
      |          CASE WHEN 5 * ct <= 4 * T THEN 'A'
      |               WHEN 20 * ct <= 19 * T THEN 'B'
      |               ELSE 'C' END AS abc_class
      |        FROM cum CROSS JOIN tot)
      |SELECT abc_class, xyz_class, CAST(count(*) AS BIGINT) AS n_parts,
      |  CAST(sum(r) AS BIGINT) AS revenue_cents
      |FROM abc JOIN xyz USING (pk)
      |GROUP BY 1, 2""".stripMargin

  /** #315 price index — Laspeyres and Paasche month-over-base indices
    * from the lineitem microdata (the econometrics staple): per
    * (month, part) unit price quantized to EXACT milli-cents
    * (Σcents·1000 div Σqty), matched-sample against the base month
    * (declared — parts absent in either month drop from that month's
    * basket), index = Σp_t·q_w ÷ Σp_0·q_w as one ppm integer division.
    * Two joins against the broadcast base-month basket. */
  private def priceIndex(s: SparkSession, dir: String): DataFrame = {
    val pm = t(s, dir, "lineitem")
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("__m"),
        col("l_partkey").as("pk"))
      .agg(sum((col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long"))
          .as("__c"),
        sum(col("l_quantity").cast("long")).as("__q"))
      .withColumn("__p3", expr("(__c * 1000) div __q"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val base = pm.groupBy().agg(min("__m").as("__m0"))
    val basket = pm.join(broadcast(base), col("__m") === col("__m0"))
      .select(col("pk"), col("__p3").as("__p0"), col("__q").as("__q0"))
    pm.join(broadcast(basket), Seq("pk"))
      .groupBy(col("__m").as("month"))
      .agg(count(lit(1)).as("n_matched"),
        // DECIMAL(38): Σp·q·1e6 passes BIGINT only below ~1e12 of
        // basket value — the cast is the sf100 headroom
        expr("""(sum(CAST(__p3 AS DECIMAL(38,0)) * __q0) * 1000000)
               | div sum(CAST(__p0 AS DECIMAL(38,0)) * __q0)"""
          .stripMargin.replace("\n", " ")).cast("long").as("laspeyres_ppm"),
        expr("""(sum(CAST(__p3 AS DECIMAL(38,0)) * __q) * 1000000)
               | div sum(CAST(__p0 AS DECIMAL(38,0)) * __q)"""
          .stripMargin.replace("\n", " ")).cast("long").as("paasche_ppm"))
  }

  private val priceIndexSql =
    """WITH pm AS (
      |  SELECT strftime(l_shipdate, '%Y-%m') AS m, l_partkey AS pk,
      |    CAST(sum(CAST(l_extendedprice * 100 AS BIGINT)) AS BIGINT) AS c,
      |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
      |  FROM lineitem GROUP BY 1, 2),
      |pp AS (SELECT m, pk, (c * 1000) // q AS p3, q FROM pm),
      |b AS (SELECT pk, p3 AS p0, q AS q0 FROM pp
      |      WHERE m = (SELECT min(m) FROM pp))
      |SELECT pp.m AS month, CAST(count(*) AS BIGINT) AS n_matched,
      |  CAST((sum(CAST(pp.p3 AS HUGEINT) * b.q0) * 1000000)
      |       // sum(CAST(b.p0 AS HUGEINT) * b.q0) AS BIGINT)
      |    AS laspeyres_ppm,
      |  CAST((sum(CAST(pp.p3 AS HUGEINT) * pp.q) * 1000000)
      |       // sum(CAST(b.p0 AS HUGEINT) * pp.q) AS BIGINT)
      |    AS paasche_ppm
      |FROM pp JOIN b USING (pk)
      |GROUP BY 1""".stripMargin

  /** #318 HHI market concentration — the antitrust-standard Herfindahl
    * index of supplier revenue within each customer nation: HHI =
    * Σ share² on the (10000·share)² basis folds EXACTLY as
    * (Σ r_i²·1e8) div T² in DECIMAL(38) — squared cents stay integers,
    * no per-share doubles. One fact join to the nation dimension,
    * O(nations) output with the top-supplier share for context. */
  private def hhi(s: SparkSession, dir: String): DataFrame = {
    val rev = t(s, dir, "lineitem")
      .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").cast("long").as("nationkey"),
        col("l_suppkey").as("__sk"))
      .agg(sum((col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long")).as("__r"))
    rev.groupBy("nationkey")
      .agg(count(lit(1)).as("n_suppliers"),
        sum("__r").as("__T"),
        sum(col("__r").cast("decimal(38,0)") * col("__r")).as("__r2"),
        max("__r").as("__mx"))
      .withColumn("hhi_points", expr(
        "CAST((__r2 * 100000000) div (CAST(__T AS DECIMAL(38,0)) * __T) AS BIGINT)"))
      .withColumn("top_share_ppm", expr("(__mx * 1000000) div __T"))
      .select("nationkey", "n_suppliers", "hhi_points", "top_share_ppm")
  }

  private val hhiSql =
    """WITH rev AS (
      |  SELECT CAST(c.c_nationkey AS BIGINT) AS nationkey, l.l_suppkey AS sk,
      |    CAST(sum(CAST(l.l_extendedprice * 100 AS BIGINT)) AS BIGINT) AS r
      |  FROM lineitem l
      |  JOIN orders o ON o.o_orderkey = l.l_orderkey
      |  JOIN customer c ON c.c_custkey = o.o_custkey
      |  GROUP BY 1, 2)
      |SELECT nationkey, CAST(count(*) AS BIGINT) AS n_suppliers,
      |  CAST((sum(CAST(r AS HUGEINT) * r) * 100000000)
      |       // (CAST(sum(r) AS HUGEINT) * sum(r)) AS BIGINT) AS hhi_points,
      |  CAST((max(r) * 1000000) // sum(r) AS BIGINT) AS top_share_ppm
      |FROM rev GROUP BY 1""".stripMargin

  /** #319 order cycle time — the ship-lag KPI per priority: exact p50 /
    * p95 of datediff(shipdate, orderdate) via the distributed rank
    * selection (DistributedPercentiles — O(groups·partitions) driver
    * state, never a data-sized window), plus the exact ppm mean. One
    * fact join. */
  private def cycleTime(s: SparkSession, dir: String): DataFrame = {
    val lags = t(s, dir, "lineitem")
      .join(t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderpriority"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority").as("priority"),
        datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
          .cast("long").as("__lag"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // floor() before the cast on BOTH sides — DuckDB CAST(double AS
    // BIGINT) rounds where Spark truncates (the §5 gotcha)
    val pct = DistributedPercentiles.exact(lags, "priority", "__lag",
      Seq("p50" -> 0.5, "p95" -> 0.95))
      .select(col("priority"), floor(col("p50")).cast("long").as("p50_days"),
        floor(col("p95")).cast("long").as("p95_days"))
    val mean = lags.groupBy("priority")
      .agg(count(lit(1)).as("n_lines"),
        expr("(sum(__lag) * 1000000) div count(*)").as("mean_days_ppm"))
    mean.join(pct, Seq("priority"))
  }

  private val cycleTimeSql =
    """WITH lag AS (
      |  SELECT o.o_orderpriority AS priority,
      |    CAST(CAST(l.l_shipdate AS DATE) - CAST(o.o_orderdate AS DATE)
      |         AS BIGINT) AS lg
      |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey)
      |SELECT priority, CAST(count(*) AS BIGINT) AS n_lines,
      |  CAST((sum(lg) * 1000000) // count(*) AS BIGINT) AS mean_days_ppm,
      |  CAST(floor(quantile_cont(lg, 0.5)) AS BIGINT) AS p50_days,
      |  CAST(floor(quantile_cont(lg, 0.95)) AS BIGINT) AS p95_days
      |FROM lag GROUP BY 1""".stripMargin

  /** #321 monthly price–volume–mix bridge — the revenue-decomposition
    * KPI every commerce warehouse publishes: ΔGMV(m) splits into a
    * price effect q₀·(p₁−p₀), a volume effect p₀·(q₁−q₀), a mix
    * residual, plus NEW and LOST part revenue — and the five columns
    * reconcile to the delta EXACTLY by construction (the residual is
    * defined as the remainder, so truncation never breaks the
    * identity). Per-part price never materializes as a fraction:
    * q₀·p₁ = (q₀·r₁) div q₁ and p₀·q₁ = (r₀·q₁) div q₀ are single
    * divisions of POSITIVE integer products (floor = truncate — no
    * sign split needed). One (part, month) groupBy shuffle, a
    * part-partitioned lag/lead window bounded by the month count,
    * O(months) output; the month-bounds join is a 1-row broadcast. */
  private def priceVolumeBridge(s: SparkSession, dir: String): DataFrame = {
    val pm = t(s, dir, "lineitem")
      .select(col("l_partkey").as("pk"),
        (year(col("l_shipdate")) * 12 + month(col("l_shipdate")) - 1)
          .cast("long").as("__m"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
          .as("__r"),
        col("l_quantity").cast("long").as("__q"))
      .groupBy("pk", "__m")
      .agg(sum("__r").as("r1"), sum("__q").as("q1"))
    val w = Window.partitionBy("pk").orderBy("__m")
    val lagged = pm
      .withColumn("__pm", lag("__m", 1).over(w))
      .withColumn("r0", lag("r1", 1).over(w))
      .withColumn("q0", lag("q1", 1).over(w))
      .withColumn("__nm", lead("__m", 1).over(w))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bounds = pm.agg(min("__m").as("__lo"), max("__m").as("__hi"))
    // matched parts: sold in m-1 AND m — the price/volume/mix split
    val matched = lagged.filter(col("__pm") === col("__m") - 1)
      .withColumn("__price", expr(
        "(CAST(q0 AS DECIMAL(38,0)) * r1) div q1 - r0"))
      .withColumn("__vol", expr(
        "(CAST(r0 AS DECIMAL(38,0)) * q1) div q0 - r0"))
      .select(col("__m").as("bm"), (col("r1") - col("r0")).as("__d"),
        col("__price").cast("long").as("__p"),
        col("__vol").cast("long").as("__v"), lit(1L).as("__mt"),
        lit(0L).as("__new"), lit(0L).as("__lost"))
    // parts absent in m-1 (first sale or a gap): NEW revenue in m
    val fresh = lagged
      .filter(col("__pm").isNull || col("__pm") < col("__m") - 1)
      .select(col("__m").as("bm"), col("r1").as("__d"), lit(0L).as("__p"),
        lit(0L).as("__v"), lit(0L).as("__mt"), col("r1").as("__new"),
        lit(0L).as("__lost"))
    // parts absent in m+1: LOST revenue attributed to bridge month m+1
    val lost = lagged
      .filter(col("__nm").isNull || col("__nm") > col("__m") + 1)
      .select((col("__m") + 1).as("bm"), (-col("r1")).as("__d"),
        lit(0L).as("__p"), lit(0L).as("__v"), lit(0L).as("__mt"),
        lit(0L).as("__new"), col("r1").as("__lost"))
    matched.unionAll(fresh).unionAll(lost)
      .crossJoin(broadcast(bounds))
      .filter(col("bm") > col("__lo") && col("bm") <= col("__hi"))
      .groupBy(make_date((col("bm") / 12).cast("int"),
        (col("bm") % 12 + 1).cast("int"), lit(1)).as("month"))
      .agg(sum("__d").as("gmv_delta_cents"),
        sum("__p").as("price_effect_cents"),
        sum("__v").as("volume_effect_cents"),
        sum(col("__d") - col("__p") - col("__v") - col("__new")
          + col("__lost")).as("mix_effect_cents"),
        sum("__new").as("new_cents"), sum("__lost").as("lost_cents"),
        sum("__mt").as("n_matched"))
  }

  private val priceVolumeBridgeSql =
    """WITH pm AS (
      |  SELECT l_partkey AS pk,
      |    CAST(year(l_shipdate) * 12 + month(l_shipdate) - 1 AS BIGINT) AS m,
      |    CAST(sum(CAST(l_extendedprice * 100 AS BIGINT)) AS BIGINT) AS r1,
      |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q1
      |  FROM lineitem GROUP BY 1, 2),
      |lagged AS (
      |  SELECT pk, m, r1, q1,
      |    lag(m) OVER w AS pmn, lag(r1) OVER w AS r0, lag(q1) OVER w AS q0,
      |    lead(m) OVER w AS nm
      |  FROM pm WINDOW w AS (PARTITION BY pk ORDER BY m)),
      |b AS (SELECT min(m) AS lo, max(m) AS hi FROM pm),
      |rows_all AS (
      |  SELECT m AS bm, r1 - r0 AS d,
      |    CAST((CAST(q0 AS HUGEINT) * r1) // q1 - r0 AS BIGINT) AS p,
      |    CAST((CAST(r0 AS HUGEINT) * q1) // q0 - r0 AS BIGINT) AS v,
      |    1 AS mt, 0 AS nw, 0 AS lst
      |  FROM lagged WHERE pmn = m - 1
      |  UNION ALL
      |  SELECT m AS bm, r1 AS d, 0, 0, 0, r1 AS nw, 0
      |  FROM lagged WHERE pmn IS NULL OR pmn < m - 1
      |  UNION ALL
      |  SELECT m + 1 AS bm, -r1 AS d, 0, 0, 0, 0, r1 AS lst
      |  FROM lagged WHERE nm IS NULL OR nm > m + 1)
      |SELECT make_date(CAST(bm // 12 AS INT), CAST(bm % 12 + 1 AS INT), 1)
      |    AS month,
      |  CAST(sum(d) AS BIGINT) AS gmv_delta_cents,
      |  CAST(sum(p) AS BIGINT) AS price_effect_cents,
      |  CAST(sum(v) AS BIGINT) AS volume_effect_cents,
      |  CAST(sum(d - p - v - nw + lst) AS BIGINT) AS mix_effect_cents,
      |  CAST(sum(nw) AS BIGINT) AS new_cents,
      |  CAST(sum(lst) AS BIGINT) AS lost_cents,
      |  CAST(sum(mt) AS BIGINT) AS n_matched
      |FROM rows_all CROSS JOIN b
      |WHERE bm > lo AND bm <= hi
      |GROUP BY 1""".stripMargin

  /** #322 Mantel–Haenszel stratified odds ratio + CMH test — does
    * urgent-priority ordering associate with returns AFTER controlling
    * for customer nation (the confounder-adjusted comparison a crude
    * pooled table gets wrong under Simpson's paradox)? Per-stratum 2×2
    * cells fold from ONE order-level aggregate; the MH estimator is a
    * ratio of Σ(a·d/n) sums quantized per-stratum to ppm (positive
    * products — floor = truncate), and the CMH variance folds STAGED —
    * (a+b)(c+d) div n FIRST, then ·(a+c)(b+d)·1e6 div (n·(n−1)) — so
    * every intermediate stays inside DECIMAL(38) at 1e9 orders per
    * stratum where the naive four-way product·1e6 overflows. The final
    * test statistic is the one divide-early double. O(strata) rows
    * after the fact join; 1-row output. */
  private def mantelHaenszel(s: SparkSession, dir: String): DataFrame = {
    val returned = t(s, dir, "lineitem")
      .groupBy(col("l_orderkey").as("ok"))
      .agg(max((col("l_returnflag") === "R").cast("long")).as("__ret"))
    val base = t(s, dir, "orders")
      .select(col("o_orderkey").as("ok"), col("o_custkey"),
        (col("o_orderpriority") === "1-URGENT").cast("long").as("__exp"))
      .join(returned, Seq("ok"))
      .join(t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
    val cells = base.groupBy(col("c_nationkey").as("__nk"))
      .agg(sum(expr("__exp * __ret")).as("a"),
        sum(expr("__exp * (1 - __ret)")).as("b"),
        sum(expr("(1 - __exp) * __ret")).as("c"),
        sum(expr("(1 - __exp) * (1 - __ret)")).as("d"))
      .withColumn("n", expr("a + b + c + d"))
      .filter(col("n") > 1)
    cells.agg(count(lit(1)).as("k_strata"), sum("n").as("n_orders"),
        sum(expr("(CAST(a AS DECIMAL(38,0)) * d * 1000000) div n"))
          .cast("long").as("__num"),
        sum(expr("(CAST(b AS DECIMAL(38,0)) * c * 1000000) div n"))
          .cast("long").as("__den"),
        sum("a").as("__sa"),
        sum(expr("(CAST(a + b AS DECIMAL(38,0)) * (a + c) * 1000000) div n"))
          .cast("long").as("__se"),
        sum(expr("""(((CAST(a + b AS DECIMAL(38,0)) * (c + d)) div n)
                  |  * (CAST(a + c AS DECIMAL(38,0)) * (b + d)) * 1000000)
                  | div (CAST(n AS DECIMAL(38,0)) * (n - 1))
                  |""".stripMargin.replace("\n", " ")))
          .cast("long").as("__sv"),
        sum(expr("a * d")).as("__ad"), sum(expr("b * c")).as("__bc"))
      .withColumn("mh_or_ppm", expr("(__num * 1000000) div __den"))
      .withColumn("crude_or_ppm", expr(
        "(CAST(__ad AS DECIMAL(38,0)) * 1000000) div __bc"))
      .withColumn("cmh_stat", round(
        pow(abs(col("__sa") * lit(1000000L) - col("__se")) - lit(500000.0), 2)
          / (col("__sv").cast("double") * 1e6), 6))
      .select("k_strata", "n_orders", "mh_or_ppm", "crude_or_ppm", "cmh_stat")
  }

  private val mantelHaenszelSql =
    """WITH ret AS (
      |  SELECT l_orderkey AS ok,
      |    max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS ret
      |  FROM lineitem GROUP BY 1),
      |base AS (
      |  SELECT c.c_nationkey AS nk,
      |    CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS exp,
      |    ret.ret
      |  FROM orders o JOIN ret ON ret.ok = o.o_orderkey
      |  JOIN customer c ON c.c_custkey = o.o_custkey),
      |cells AS (
      |  SELECT nk, CAST(sum(exp * ret) AS BIGINT) AS a,
      |    CAST(sum(exp * (1 - ret)) AS BIGINT) AS b,
      |    CAST(sum((1 - exp) * ret) AS BIGINT) AS c,
      |    CAST(sum((1 - exp) * (1 - ret)) AS BIGINT) AS d
      |  FROM base GROUP BY 1),
      |g AS (
      |  SELECT count(*) AS k_strata, sum(a + b + c + d) AS n_orders,
      |    sum((CAST(a AS HUGEINT) * d * 1000000) // (a + b + c + d)) AS num,
      |    sum((CAST(b AS HUGEINT) * c * 1000000) // (a + b + c + d)) AS den,
      |    sum(a) AS sa,
      |    sum((CAST(a + b AS HUGEINT) * (a + c) * 1000000)
      |        // (a + b + c + d)) AS se,
      |    sum((((CAST(a + b AS HUGEINT) * (c + d)) // (a + b + c + d))
      |         * (CAST(a + c AS HUGEINT) * (b + d)) * 1000000)
      |        // (CAST(a + b + c + d AS HUGEINT) * (a + b + c + d - 1))) AS sv,
      |    sum(CAST(a AS HUGEINT) * d) AS ad, sum(CAST(b AS HUGEINT) * c) AS bc
      |  FROM cells WHERE a + b + c + d > 1)
      |SELECT CAST(k_strata AS BIGINT) AS k_strata,
      |  CAST(n_orders AS BIGINT) AS n_orders,
      |  CAST((num * 1000000) // den AS BIGINT) AS mh_or_ppm,
      |  CAST((ad * 1000000) // bc AS BIGINT) AS crude_or_ppm,
      |  round(pow(abs(CAST(sa AS BIGINT) * 1000000 - CAST(se AS BIGINT))
      |            - 500000.0, 2)
      |        / (CAST(CAST(sv AS BIGINT) AS DOUBLE) * 1e6), 6) AS cmh_stat
      |FROM g""".stripMargin

  /** Shared by #325-327: the dense daily-GMV series — day index from a
    * fixed epoch (1992-01-01, a Wednesday — weekday math stays pure
    * integer, never an engine calendar function), value = daily order
    * total in k$ (cents div 1e5: the JB-precedent unit that keeps
    * squared and 4th-power folds inside DECIMAL(38) at 100-TB scale).
    * Gap days are REAL zeros (the q_autocorr discipline). O(days)
    * rows. */
  private def dailyGmvGrid(s: SparkSession, dir: String): DataFrame = {
    val dd = t(s, dir, "orders")
      .select(datediff(to_date(col("o_orderdate")),
        lit("1992-01-01").cast("date")).cast("long").as("d"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
          .as("__c"))
      .groupBy("d").agg(expr("sum(__c) div 100000").as("x"))
    val span = dd.agg(min("d").as("__lo"), max("d").as("__hi"))
    span.select(explode(expr("sequence(__lo, __hi)")).as("d"))
      .join(dd, Seq("d"), "left")
      .withColumn("x", coalesce(col("x"), lit(0L)))
  }

  private val dailyGmvGridSql =
    """dd AS (
      |  SELECT CAST(date_diff('day', DATE '1992-01-01',
      |                        CAST(o_orderdate AS DATE)) AS BIGINT) AS d,
      |    CAST(sum(CAST(o_totalprice * 100 AS BIGINT)) // 100000 AS BIGINT)
      |      AS x
      |  FROM orders GROUP BY 1),
      |sp AS (SELECT min(d) AS lo, max(d) AS hi FROM dd),
      |grid AS (
      |  SELECT CAST(u.d AS BIGINT) AS d, coalesce(dd.x, 0) AS x
      |  FROM sp CROSS JOIN unnest(range(sp.lo, sp.hi + 1)) AS u(d)
      |  LEFT JOIN dd ON dd.d = u.d)""".stripMargin

  /** Fully sign-symmetric ppm division: result sign = sign(num·den),
    * magnitude = (|num|·1e6) div |den| — identical under Spark's
    * truncating `div` and DuckDB's flooring `//` for ANY operand
    * signs. */
  private def sdivPpm2(num: String, den: String, duck: Boolean): String =
    operators.FixedPoint.sdivPpm2(num, den, duck)

  /** #325 partial autocorrelation (PACF lags 1-3) of the daily GMV
    * series — the AR-order diagnostic ACF alone can't give (ACF of an
    * AR(1) decays forever; PACF cuts off at the true order). The
    * autocovariances fold EXACTLY: n²·c_k = n²Σ'x_t·x_{t+k} −
    * n·S·(Σ'x_t + Σ'x_{t+k}) + (n−k)·S² in DECIMAL(38) off three lead
    * columns over the calendar-bounded grid (the Ljung–Box device —
    * the unpartitioned window is O(days), never row-count-sized), ρ_k
    * lands as a sign-split ppm integer, and only the Durbin–Levinson
    * recursion φ22/φ33 runs in divide-early doubles (BIGINT→DOUBLE is
    * exactly rounded on both engines; HUGEINT→DOUBLE is not — the §5
    * rule). 1-row output. */
  private def pacf(s: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy("d")
    val g = dailyGmvGrid(s, dir)
      .withColumn("x1", lead("x", 1).over(w))
      .withColumn("x2", lead("x", 2).over(w))
      .withColumn("x3", lead("x", 3).over(w))
    val m = g.agg(count(lit(1)).as("n"), sum("x").as("s"),
      sum(expr("x * x")).as("sxx"),
      sum(expr("x * x1")).as("p1"), sum(expr("x * x2")).as("p2"),
      sum(expr("x * x3")).as("p3"),
      sum(when(col("x1").isNotNull, col("x"))).as("a1"),
      sum(when(col("x2").isNotNull, col("x"))).as("a2"),
      sum(when(col("x3").isNotNull, col("x"))).as("a3"),
      sum("x1").as("b1"), sum("x2").as("b2"), sum("x3").as("b3"))
    def c2(k: Int): String =
      s"""(CAST(n AS DECIMAL(38,0)) * n * p$k
         | - CAST(n AS DECIMAL(38,0)) * s * (a$k + b$k)
         | + CAST(n - $k AS DECIMAL(38,0)) * s * s)"""
        .stripMargin.replace("\n", " ")
    val c20 =
      """(CAST(n AS DECIMAL(38,0)) * n * sxx
        | - CAST(n AS DECIMAL(38,0)) * s * s)""".stripMargin.replace("\n", " ")
    m.select(col("n").as("n_days"),
        expr(sdivPpm(c2(1), c20, duck = false)).cast("long").as("r1_ppm"),
        expr(sdivPpm(c2(2), c20, duck = false)).cast("long").as("r2_ppm"),
        expr(sdivPpm(c2(3), c20, duck = false)).cast("long").as("r3_ppm"))
      .withColumn("pacf1", expr("round(CAST(r1_ppm AS DOUBLE) / 1e6, 6)"))
      .withColumn("pacf2", expr(
        """round((CAST(r2_ppm AS DOUBLE) / 1e6
          |        - (CAST(r1_ppm AS DOUBLE) / 1e6) * (CAST(r1_ppm AS DOUBLE) / 1e6))
          |      / (1.0 - (CAST(r1_ppm AS DOUBLE) / 1e6) * (CAST(r1_ppm AS DOUBLE) / 1e6)),
          |      6)""".stripMargin.replace("\n", " ")))
      .withColumn("pacf3", expr(
        """round(((CAST(r3_ppm AS DOUBLE) / 1e6)
          | - ((CAST(r1_ppm AS DOUBLE) / 1e6) * (1.0
          |     - ((CAST(r2_ppm AS DOUBLE) / 1e6)
          |        - (CAST(r1_ppm AS DOUBLE) / 1e6) * (CAST(r1_ppm AS DOUBLE) / 1e6))
          |       / (1.0 - (CAST(r1_ppm AS DOUBLE) / 1e6) * (CAST(r1_ppm AS DOUBLE) / 1e6))))
          |   * (CAST(r2_ppm AS DOUBLE) / 1e6)
          | - (((CAST(r2_ppm AS DOUBLE) / 1e6)
          |     - (CAST(r1_ppm AS DOUBLE) / 1e6) * (CAST(r1_ppm AS DOUBLE) / 1e6))
          |    / (1.0 - (CAST(r1_ppm AS DOUBLE) / 1e6) * (CAST(r1_ppm AS DOUBLE) / 1e6)))
          |   * (CAST(r1_ppm AS DOUBLE) / 1e6))
          |/ (1.0
          | - ((CAST(r1_ppm AS DOUBLE) / 1e6) * (1.0
          |     - ((CAST(r2_ppm AS DOUBLE) / 1e6)
          |        - (CAST(r1_ppm AS DOUBLE) / 1e6) * (CAST(r1_ppm AS DOUBLE) / 1e6))
          |       / (1.0 - (CAST(r1_ppm AS DOUBLE) / 1e6) * (CAST(r1_ppm AS DOUBLE) / 1e6))))
          |   * (CAST(r1_ppm AS DOUBLE) / 1e6)
          | - (((CAST(r2_ppm AS DOUBLE) / 1e6)
          |     - (CAST(r1_ppm AS DOUBLE) / 1e6) * (CAST(r1_ppm AS DOUBLE) / 1e6))
          |    / (1.0 - (CAST(r1_ppm AS DOUBLE) / 1e6) * (CAST(r1_ppm AS DOUBLE) / 1e6)))
          |   * (CAST(r2_ppm AS DOUBLE) / 1e6)), 6)"""
          .stripMargin.replace("\n", " ")))
  }

  private val pacfSql = {
    def c2(k: Int): String =
      s"""(CAST(n AS HUGEINT) * n * p$k
         | - CAST(n AS HUGEINT) * s * (a$k + b$k)
         | + CAST(n - $k AS HUGEINT) * s * s)"""
        .stripMargin.replace("\n", " ")
    val c20 =
      "(CAST(n AS HUGEINT) * n * sxx - CAST(n AS HUGEINT) * s * s)"
    s"""WITH $dailyGmvGridSql,
      |ld AS (
      |  SELECT d, x, lead(x, 1) OVER (ORDER BY d) AS x1,
      |    lead(x, 2) OVER (ORDER BY d) AS x2,
      |    lead(x, 3) OVER (ORDER BY d) AS x3
      |  FROM grid),
      |m AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s,
      |    CAST(sum(x * x) AS BIGINT) AS sxx,
      |    CAST(sum(x * x1) AS BIGINT) AS p1,
      |    CAST(sum(x * x2) AS BIGINT) AS p2,
      |    CAST(sum(x * x3) AS BIGINT) AS p3,
      |    CAST(sum(CASE WHEN x1 IS NOT NULL THEN x END) AS BIGINT) AS a1,
      |    CAST(sum(CASE WHEN x2 IS NOT NULL THEN x END) AS BIGINT) AS a2,
      |    CAST(sum(CASE WHEN x3 IS NOT NULL THEN x END) AS BIGINT) AS a3,
      |    CAST(sum(x1) AS BIGINT) AS b1, CAST(sum(x2) AS BIGINT) AS b2,
      |    CAST(sum(x3) AS BIGINT) AS b3
      |  FROM ld),
      |r AS (
      |  SELECT n AS n_days,
      |    CAST(${sdivPpm(c2(1), c20, duck = true)} AS BIGINT) AS r1_ppm,
      |    CAST(${sdivPpm(c2(2), c20, duck = true)} AS BIGINT) AS r2_ppm,
      |    CAST(${sdivPpm(c2(3), c20, duck = true)} AS BIGINT) AS r3_ppm
      |  FROM m)
      |SELECT n_days, r1_ppm, r2_ppm, r3_ppm,
      |  round(CAST(r1_ppm AS DOUBLE) / 1e6, 6) AS pacf1,
      |  round((CAST(r2_ppm AS DOUBLE) / 1e6
      |         - (CAST(r1_ppm AS DOUBLE) / 1e6) * (CAST(r1_ppm AS DOUBLE) / 1e6))
      |       / (1.0 - (CAST(r1_ppm AS DOUBLE) / 1e6) * (CAST(r1_ppm AS DOUBLE) / 1e6)),
      |       6) AS pacf2,
      |  round(((CAST(r3_ppm AS DOUBLE) / 1e6)
      |  - ((CAST(r1_ppm AS DOUBLE) / 1e6) * (1.0
      |      - ((CAST(r2_ppm AS DOUBLE) / 1e6)
      |         - (CAST(r1_ppm AS DOUBLE) / 1e6) * (CAST(r1_ppm AS DOUBLE) / 1e6))
      |        / (1.0 - (CAST(r1_ppm AS DOUBLE) / 1e6) * (CAST(r1_ppm AS DOUBLE) / 1e6))))
      |    * (CAST(r2_ppm AS DOUBLE) / 1e6)
      |  - (((CAST(r2_ppm AS DOUBLE) / 1e6)
      |      - (CAST(r1_ppm AS DOUBLE) / 1e6) * (CAST(r1_ppm AS DOUBLE) / 1e6))
      |     / (1.0 - (CAST(r1_ppm AS DOUBLE) / 1e6) * (CAST(r1_ppm AS DOUBLE) / 1e6)))
      |    * (CAST(r1_ppm AS DOUBLE) / 1e6))
      | / (1.0
      |  - ((CAST(r1_ppm AS DOUBLE) / 1e6) * (1.0
      |      - ((CAST(r2_ppm AS DOUBLE) / 1e6)
      |         - (CAST(r1_ppm AS DOUBLE) / 1e6) * (CAST(r1_ppm AS DOUBLE) / 1e6))
      |        / (1.0 - (CAST(r1_ppm AS DOUBLE) / 1e6) * (CAST(r1_ppm AS DOUBLE) / 1e6))))
      |    * (CAST(r1_ppm AS DOUBLE) / 1e6)
      |  - (((CAST(r2_ppm AS DOUBLE) / 1e6)
      |      - (CAST(r1_ppm AS DOUBLE) / 1e6) * (CAST(r1_ppm AS DOUBLE) / 1e6))
      |     / (1.0 - (CAST(r1_ppm AS DOUBLE) / 1e6) * (CAST(r1_ppm AS DOUBLE) / 1e6)))
      |    * (CAST(r2_ppm AS DOUBLE) / 1e6)), 6) AS pacf3
      |FROM r""".stripMargin
  }

  /** #326 weekly/monthly periodogram — spectral power of the daily GMV
    * series at the P=7 and P=30 candidate cycles, as the FRACTION of
    * total variance each harmonic explains (Schuster periodogram, one
    * bin per period). Transcendental-free: the cos/sin tables are ppm
    * INTEGER LITERALS generated once in Scala and embedded textually
    * in both engines' SQL (the #244 nDCG discount-literal pattern), so
    * the fold Σ y·c_j is exact DECIMAL(38) arithmetic on the
    * mean-centered scaled series y_t = n·x_t − S. Amplitudes divide by
    * n BEFORE squaring for 100-TB headroom. O(days) grid, 2-row
    * output. */
  private def periodogram(s: SparkSession, dir: String): DataFrame = {
    val g = dailyGmvGrid(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tot = g.agg(count(lit(1)).as("n"), sum("x").as("s"),
      sum(expr("x * x")).as("sxx"))
    def caseTab(p: Int, f: Int => Long): String =
      (0 until p).map(j => s"WHEN ${j} THEN ${f(j)}")
        .mkString(s"CASE pmod(d, $p) ", " ", " ELSE 0 END")
    def cosPpm(p: Int)(j: Int): Long =
      Math.round(Math.cos(2 * Math.PI * j / p) * 1e6)
    def sinPpm(p: Int)(j: Int): Long =
      Math.round(Math.sin(2 * Math.PI * j / p) * 1e6)
    val rows = Seq(7, 30).map { p =>
      g.crossJoin(broadcast(tot))
        .agg(max(col("n")).as("n_days"),
          sum(expr(
            s"(CAST(n AS DECIMAL(38,0)) * x - s) * (${caseTab(p, cosPpm(p))})"))
            .as("__A"),
          sum(expr(
            s"(CAST(n AS DECIMAL(38,0)) * x - s) * (${caseTab(p, sinPpm(p))})"))
            .as("__B"),
          max(expr(
            "CAST(n AS DECIMAL(38,0)) * n * sxx - CAST(n AS DECIMAL(38,0)) * s * s"))
            .as("__c20"), max(col("n")).as("__n"))
        .select(lit(p.toLong).as("period"), col("n_days"),
          expr(
            // abs BEFORE the div: the amplitude is squared anyway, and
            // truncation (Spark div) vs floor (DuckDB //) differ on
            // negative numerators. Spark `div` returns LONG — route the
            // squares and the denominator product back through
            // DECIMAL(38) (the amplitude² · 2e6 overflows long at sf1;
            // caught by the sf1 sweep)
            """CAST((( CAST(abs(__A) div (__n * 1000000) AS DECIMAL(38,0))
              |        * (abs(__A) div (__n * 1000000))
              |      + CAST(abs(__B) div (__n * 1000000) AS DECIMAL(38,0))
              |        * (abs(__B) div (__n * 1000000)))
              |      * 2000000)
              |  div (CAST(CASE WHEN __c20 div (CAST(__n AS DECIMAL(38,0)) * __n) = 0
              |       THEN 1 ELSE __c20 div (CAST(__n AS DECIMAL(38,0)) * __n) END
              |       AS DECIMAL(38,0)) * __n) AS BIGINT)"""
              .stripMargin.replace("\n", " ")).as("power_share_ppm"))
    }
    rows.reduce(_ unionAll _)
  }

  private val periodogramSql = {
    def caseTab(p: Int, f: Int => Long): String =
      (0 until p).map(j => s"WHEN ${j} THEN ${f(j)}")
        .mkString(s"CASE d % $p ", " ", " ELSE 0 END")
    def cosPpm(p: Int)(j: Int): Long =
      Math.round(Math.cos(2 * Math.PI * j / p) * 1e6)
    def sinPpm(p: Int)(j: Int): Long =
      Math.round(Math.sin(2 * Math.PI * j / p) * 1e6)
    def one(p: Int): String =
      s"""SELECT CAST($p AS BIGINT) AS period, t.n AS n_days,
        |  CAST((( (abs(A) // (t.n * 1000000)) * (abs(A) // (t.n * 1000000))
        |        + (abs(B) // (t.n * 1000000)) * (abs(B) // (t.n * 1000000))) * 2000000)
        |    // (CASE WHEN c20 // (CAST(t.n AS HUGEINT) * t.n) = 0 THEN 1
        |         ELSE c20 // (CAST(t.n AS HUGEINT) * t.n) END * t.n)
        |    AS BIGINT) AS power_share_ppm
        |FROM (
        |  SELECT sum((CAST(t.n AS HUGEINT) * g.x - t.s)
        |             * (${caseTab(p, cosPpm(p))})) AS A,
        |    sum((CAST(t.n AS HUGEINT) * g.x - t.s)
        |        * (${caseTab(p, sinPpm(p))})) AS B,
        |    max(CAST(t.n AS HUGEINT) * t.n * t.sxx
        |        - CAST(t.n AS HUGEINT) * t.s * t.s) AS c20
        |  FROM grid g CROSS JOIN tot t) q CROSS JOIN tot t""".stripMargin
    s"""WITH $dailyGmvGridSql,
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s,
      |          CAST(sum(x * x) AS BIGINT) AS sxx FROM grid)
      |${one(7)}
      |UNION ALL
      |${one(30)}""".stripMargin
  }

  /** #327 deterministic permutation test — is the weekend/weekday GMV
    * gap significant, by randomization inference instead of a
    * distributional assumption (the nonparametric companion to #101's
    * Welch t)? The day's TRUE weekday is pure integer math off the
    * fixed epoch ((d+2) mod 7 — 1992-01-01 was a Wednesday; no engine
    * calendar call). B=200 pseudo-permutations relabel DAYS via the
    * multiplicative hash (hash(d·211+b) mod 7 < 2 — same expected
    * weekend mass), each replicate folds the same sign-split ppm
    * mean-difference, and p = (1 + #extreme)/(B+1) in ppm. The explode
    * is O(days·B) — bounded by the calendar, never by fact rows. */
  private def permutationTest(s: SparkSession, dir: String): DataFrame = {
    val B = 200
    val g = dailyGmvGrid(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val diffPpm = (sw: String, nw: String, sd: String, nd: String) =>
      sdivPpm(s"CAST($sw AS DECIMAL(38,0)) * $nd - CAST($sd AS DECIMAL(38,0)) * $nw",
        s"CAST($nw AS DECIMAL(38,0)) * $nd", duck = false)
    val obs = g.agg(
        sum(when(expr("pmod(d + 2, 7) >= 5"), col("x"))).as("__sw"),
        sum(when(expr("pmod(d + 2, 7) >= 5"), lit(1L))).as("__nw"),
        sum(when(expr("pmod(d + 2, 7) < 5"), col("x"))).as("__sd"),
        sum(when(expr("pmod(d + 2, 7) < 5"), lit(1L))).as("__nd"),
        count(lit(1)).as("n_days"))
      .withColumn("obs_diff_ppm",
        expr(diffPpm("__sw", "__nw", "__sd", "__nd")).cast("long"))
    val perm = g
      .select(col("d"), col("x"), explode(expr(
        s"sequence(1, $B)")).as("b"))
      .withColumn("__w", expr(
        s"pmod(${multHashExpr(s"d * 211 + b")}, 7) < 2"))
      .groupBy("b")
      .agg(sum(when(col("__w"), col("x"))).as("__sw"),
        sum(when(col("__w"), lit(1L))).as("__nw"),
        sum(when(!col("__w"), col("x"))).as("__sd"),
        sum(when(!col("__w"), lit(1L))).as("__nd"))
      .filter(col("__nw") > 0 && col("__nd") > 0)
      .withColumn("stat_ppm",
        expr(diffPpm("__sw", "__nw", "__sd", "__nd")).cast("long"))
    perm.crossJoin(broadcast(obs.select("n_days", "obs_diff_ppm")))
      .agg(max("n_days").as("n_days"),
        max("obs_diff_ppm").as("obs_diff_ppm"),
        count(lit(1)).as("n_perm"),
        sum(when(abs(col("stat_ppm")) >= abs(col("obs_diff_ppm")), 1L)
          .otherwise(0L)).as("n_extreme"))
      .withColumn("p_ppm",
        expr("((1 + n_extreme) * 1000000) div (n_perm + 1)"))
  }

  private val permutationTestSql = {
    val diffPpm = (sw: String, nw: String, sd: String, nd: String) =>
      sdivPpm(s"CAST($sw AS HUGEINT) * $nd - CAST($sd AS HUGEINT) * $nw",
        s"CAST($nw AS HUGEINT) * $nd", duck = true)
    s"""WITH $dailyGmvGridSql,
      |obs AS (
      |  SELECT CAST(sum(CASE WHEN (d + 2) % 7 >= 5 THEN x END) AS BIGINT) AS sw,
      |    CAST(sum(CASE WHEN (d + 2) % 7 >= 5 THEN 1 END) AS BIGINT) AS nw,
      |    CAST(sum(CASE WHEN (d + 2) % 7 < 5 THEN x END) AS BIGINT) AS sd,
      |    CAST(sum(CASE WHEN (d + 2) % 7 < 5 THEN 1 END) AS BIGINT) AS nd,
      |    CAST(count(*) AS BIGINT) AS n_days
      |  FROM grid),
      |ob AS (SELECT n_days,
      |         CAST(${diffPpm("sw", "nw", "sd", "nd")} AS BIGINT)
      |           AS obs_diff_ppm FROM obs),
      |pm AS (
      |  SELECT b.b,
      |    CAST(sum(CASE WHEN ${multHashDuck("g.d * 211 + b.b")} % 7 < 2
      |             THEN g.x END) AS BIGINT) AS sw,
      |    CAST(sum(CASE WHEN ${multHashDuck("g.d * 211 + b.b")} % 7 < 2
      |             THEN 1 END) AS BIGINT) AS nw,
      |    CAST(sum(CASE WHEN ${multHashDuck("g.d * 211 + b.b")} % 7 >= 2
      |             THEN g.x END) AS BIGINT) AS sd,
      |    CAST(sum(CASE WHEN ${multHashDuck("g.d * 211 + b.b")} % 7 >= 2
      |             THEN 1 END) AS BIGINT) AS nd
      |  FROM grid g CROSS JOIN (SELECT unnest(range(1, 201)) AS b) b
      |  GROUP BY 1),
      |st AS (
      |  SELECT CAST(${diffPpm("sw", "nw", "sd", "nd")} AS BIGINT) AS stat_ppm
      |  FROM pm WHERE nw > 0 AND nd > 0)
      |SELECT ob.n_days, ob.obs_diff_ppm,
      |  CAST(count(*) AS BIGINT) AS n_perm,
      |  CAST(sum(CASE WHEN abs(stat_ppm) >= abs(ob.obs_diff_ppm)
      |           THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme,
      |  CAST(((1 + sum(CASE WHEN abs(stat_ppm) >= abs(ob.obs_diff_ppm)
      |                 THEN 1 ELSE 0 END)) * 1000000)
      |       // (count(*) + 1) AS BIGINT) AS p_ppm
      |FROM st CROSS JOIN ob
      |GROUP BY ob.n_days, ob.obs_diff_ppm""".stripMargin
  }

  /** #330 Tukey HSD post-hoc contrasts — WHICH priority pairs differ in
    * mean order value, after #282's ANOVA says SOME do (the multiple-
    * comparison step a bare pairwise t inflates): all 10 pairwise
    * studentized-range statistics against the shared q*₀.₀₅(5,∞)=3.858
    * literal. Reuses the ANOVA fixed-column pivot verbatim — one
    * map-side-combinable groupBy, one 1-row moment pivot, and the 10
    * pair rows come from a LITERAL pair table cross-joined onto it
    * (single scan; CASE selects the group's moments), so every double
    * is the same fixed-order expression over exact integers on both
    * engines. */
  private def tukeyHsd(s: SparkSession, dir: String): DataFrame = {
    // PLANTED calibration effect: +5e6 cents on group 5 — the five
    // priority groups draw from one distribution, so `significant`
    // never fired at any SF and the detector was unverifiable (r10
    // vacuity audit; the welch/bh_fdr planted-effect device). The four
    // group-5 contrasts must flag; the other six stay null.
    val g = parallelize(s, t(s, dir, "orders"))
      .select(substring(col("o_orderpriority"), 1, 1).as("__g"),
        expr("CAST(CAST(o_totalprice * 100 AS DECIMAL(18,0)) div 100" +
          " + CASE WHEN substring(o_orderpriority, 1, 1) = '5'" +
          " THEN 5000000 ELSE 0 END AS BIGINT)")
          .as("__x"))
    // x carries the planted 5e6 shift, so sum(x^2) passes 2^63 at the
    // sf10 group size (3M rows x 3e13 -- the r12 sf10 sweep's catch);
    // the q moment folds in DECIMAL(38) (the syy discipline), and
    // anovaSsw only ever CASTs it to DOUBLE, identically from either
    val cells = g.groupBy("__g").agg(count(lit(1)).as("n"),
      sum("__x").as("s"),
      sum(col("__x").cast("decimal(38,0)") * col("__x")).as("q"))
    val pivotCols = (1 to 5).flatMap { i =>
      Seq(coalesce(sum(when(col("__g") === i.toString, col("n"))), lit(0L))
            .as(s"n$i"),
        coalesce(sum(when(col("__g") === i.toString, col("s"))), lit(0L))
          .as(s"s$i"),
        coalesce(sum(when(col("__g") === i.toString, col("q"))),
          lit(java.math.BigDecimal.ZERO)).cast("decimal(38,0)")
          .as(s"q$i"))
    }
    val one = cells.agg(pivotCols.head, pivotCols.tail: _*)
      .withColumn("n", expr("n1 + n2 + n3 + n4 + n5"))
      .withColumn("k", lit(5L))
    val pairs = (1 to 5).flatMap(i => ((i + 1) to 5).map(j => (i, j)))
    def sel(f: String, v: String): String =
      s"CASE $v WHEN 1 THEN ${f}1 WHEN 2 THEN ${f}2 WHEN 3 THEN ${f}3" +
        s" WHEN 4 THEN ${f}4 ELSE ${f}5 END"
    one.select(col("*"), explode(expr(
        pairs.map { case (i, j) => s"struct($i AS i, $j AS j)" }
          .mkString("array(", ",", ")"))).as("__p"))
      .withColumn("__i", col("__p.i")).withColumn("__j", col("__p.j"))
      .select(expr("CAST(__i AS STRING)").as("pri_a"),
        expr("CAST(__j AS STRING)").as("pri_b"),
        expr(sel("n", "__i")).as("n_a"), expr(sel("n", "__j")).as("n_b"),
        expr(TukeyDiffExpr(sel)).as("mean_diff"),
        expr(TukeyQExpr(sel)).as("q_stat"))
      .withColumn("significant", expr("abs(q_stat) > 3.858"))
  }

  /** Fixed-order HSD folds shared verbatim with the oracle (ANOVA SSW
    * reused for the pooled MSW). */
  private def TukeyDiffExpr(sel: (String, String) => String): String =
    s"""round(CAST(${sel("s", "__i")} AS DOUBLE) / CAST(${sel("n", "__i")} AS DOUBLE)
       | - CAST(${sel("s", "__j")} AS DOUBLE) / CAST(${sel("n", "__j")} AS DOUBLE),
       | 6)""".stripMargin.replace("\n", " ")

  private def TukeyQExpr(sel: (String, String) => String): String =
    s"""round((CAST(${sel("s", "__i")} AS DOUBLE) / CAST(${sel("n", "__i")} AS DOUBLE)
       |  - CAST(${sel("s", "__j")} AS DOUBLE) / CAST(${sel("n", "__j")} AS DOUBLE))
       | / sqrt((($anovaSsw) / CAST(n - k AS DOUBLE)) * 0.5
       |        * (1.0 / CAST(${sel("n", "__i")} AS DOUBLE)
       |           + 1.0 / CAST(${sel("n", "__j")} AS DOUBLE))),
       | 6)""".stripMargin.replace("\n", " ")

  private lazy val tukeyHsdSql = {
    val cols = (1 to 5).flatMap { i =>
      Seq(
        s"CAST(coalesce(sum(CASE WHEN g = '$i' THEN n END), 0) AS BIGINT) AS n$i",
        s"CAST(coalesce(sum(CASE WHEN g = '$i' THEN s END), 0) AS BIGINT) AS s$i",
        s"CAST(coalesce(sum(CASE WHEN g = '$i' THEN q END), 0) AS HUGEINT) AS q$i")
    }.mkString(",\n  ")
    def sel(f: String, v: String): String =
      s"CASE $v WHEN 1 THEN ${f}1 WHEN 2 THEN ${f}2 WHEN 3 THEN ${f}3" +
        s" WHEN 4 THEN ${f}4 ELSE ${f}5 END"
    val pairs = (1 to 5).flatMap(i => ((i + 1) to 5).map(j => s"($i, $j)"))
      .mkString(", ")
    s"""WITH b AS (
       |  SELECT substr(o_orderpriority, 1, 1) AS g,
       |    CAST(CAST(o_totalprice * 100 AS BIGINT) // 100
       |      + CASE WHEN substr(o_orderpriority, 1, 1) = '5'
       |        THEN 5000000 ELSE 0 END AS BIGINT) AS x
       |  FROM orders),
       |c AS (SELECT g, CAST(count(*) AS BIGINT) AS n, sum(x) AS s,
       |        sum(CAST(x AS HUGEINT) * x) AS q FROM b GROUP BY 1),
       |one AS (SELECT $cols FROM c),
       |f AS (SELECT *, n1+n2+n3+n4+n5 AS n, CAST(5 AS BIGINT) AS k FROM one),
       |p AS (SELECT * FROM f CROSS JOIN (VALUES $pairs) pr(i, j))
       |SELECT CAST(i AS VARCHAR) AS pri_a, CAST(j AS VARCHAR) AS pri_b,
       |  ${sel("n", "i")} AS n_a, ${sel("n", "j")} AS n_b,
       |  ${TukeyDiffExpr((f, v) => sel(f, if (v == "__i") "i" else "j"))
            .replace("\n", " ")} AS mean_diff,
       |  ${TukeyQExpr((f, v) => sel(f, if (v == "__i") "i" else "j"))
            .replace("\n", " ")} AS q_stat,
       |  abs(${TukeyQExpr((f, v) => sel(f, if (v == "__i") "i" else "j"))
            .replace("\n", " ")}) > 3.858 AS significant
       |FROM p""".stripMargin
  }

  /** #331 difference-in-differences — did BUILDING-segment order values
    * move differently from the rest of the market after the policy
    * date (the 2×2 causal baseline every experiment platform publishes
    * when it can't randomize)? The policy date is the CORPUS MIDPOINT
    * — lo + (hi−lo) div 2 on epoch-day indexes off a 1-row broadcast
    * (a fixed calendar literal would empty a cell whenever the data
    * window moves; wall-clock-free). Four cell means quantized to
    * exact ppm cents (positive sums — one integral division each),
    * DID as pure integer arithmetic on the quantized means; the
    * parallel-trends gap is the reader's judgment, the table gives
    * both trends. One fact join + one 4-cell aggregate; 1-row
    * output. */
  private def did(s: SparkSession, dir: String): DataFrame = {
    val days = t(s, dir, "orders")
      .join(t(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .select((col("c_mktsegment") === "BUILDING").cast("long").as("__t"),
        datediff(to_date(col("o_orderdate")),
          lit("1992-01-01").cast("date")).cast("long").as("__d"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
          .as("__c"))
    val bounds = days.agg(min("__d").as("__lo"), max("__d").as("__hi"))
    val base = days.crossJoin(broadcast(bounds))
      .withColumn("__post",
        (col("__d") >= expr("__lo + (__hi - __lo) div 2")).cast("long"))
    base.agg(
        sum(when(expr("__t = 1 AND __post = 1"), 1L).otherwise(0L)).as("n_t1"),
        sum(when(expr("__t = 1 AND __post = 0"), 1L).otherwise(0L)).as("n_t0"),
        sum(when(expr("__t = 0 AND __post = 1"), 1L).otherwise(0L)).as("n_c1"),
        sum(when(expr("__t = 0 AND __post = 0"), 1L).otherwise(0L)).as("n_c0"),
        sum(when(expr("__t = 1 AND __post = 1"), col("__c"))).as("__s_t1"),
        sum(when(expr("__t = 1 AND __post = 0"), col("__c"))).as("__s_t0"),
        sum(when(expr("__t = 0 AND __post = 1"), col("__c"))).as("__s_c1"),
        sum(when(expr("__t = 0 AND __post = 0"), col("__c"))).as("__s_c0"))
      .withColumn("treat_trend_ppm", expr(
        """(CAST(__s_t1 AS DECIMAL(38,0)) * 1000000) div n_t1
          | - (CAST(__s_t0 AS DECIMAL(38,0)) * 1000000) div n_t0"""
          .stripMargin.replace("\n", " ")).cast("long"))
      .withColumn("control_trend_ppm", expr(
        """(CAST(__s_c1 AS DECIMAL(38,0)) * 1000000) div n_c1
          | - (CAST(__s_c0 AS DECIMAL(38,0)) * 1000000) div n_c0"""
          .stripMargin.replace("\n", " ")).cast("long"))
      .withColumn("did_ppm",
        expr("treat_trend_ppm - control_trend_ppm"))
      .select("n_t1", "n_t0", "n_c1", "n_c0", "treat_trend_ppm",
        "control_trend_ppm", "did_ppm")
  }

  private val didSql =
    """WITH days AS (
      |  SELECT CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS t,
      |    CAST(date_diff('day', DATE '1992-01-01',
      |                   CAST(o.o_orderdate AS DATE)) AS BIGINT) AS d,
      |    CAST(o.o_totalprice * 100 AS BIGINT) AS c
      |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
      |bnd AS (SELECT min(d) AS lo, max(d) AS hi FROM days),
      |base AS (
      |  SELECT t, CASE WHEN d >= lo + (hi - lo) // 2 THEN 1 ELSE 0 END AS post,
      |    c
      |  FROM days CROSS JOIN bnd),
      |g AS (
      |  SELECT CAST(sum(CASE WHEN t = 1 AND post = 1 THEN 1 ELSE 0 END)
      |           AS BIGINT) AS n_t1,
      |    CAST(sum(CASE WHEN t = 1 AND post = 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_t0,
      |    CAST(sum(CASE WHEN t = 0 AND post = 1 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_c1,
      |    CAST(sum(CASE WHEN t = 0 AND post = 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_c0,
      |    sum(CASE WHEN t = 1 AND post = 1 THEN c END) AS s_t1,
      |    sum(CASE WHEN t = 1 AND post = 0 THEN c END) AS s_t0,
      |    sum(CASE WHEN t = 0 AND post = 1 THEN c END) AS s_c1,
      |    sum(CASE WHEN t = 0 AND post = 0 THEN c END) AS s_c0
      |  FROM base)
      |SELECT n_t1, n_t0, n_c1, n_c0,
      |  CAST((CAST(s_t1 AS HUGEINT) * 1000000) // n_t1
      |       - (CAST(s_t0 AS HUGEINT) * 1000000) // n_t0 AS BIGINT)
      |    AS treat_trend_ppm,
      |  CAST((CAST(s_c1 AS HUGEINT) * 1000000) // n_c1
      |       - (CAST(s_c0 AS HUGEINT) * 1000000) // n_c0 AS BIGINT)
      |    AS control_trend_ppm,
      |  CAST((CAST(s_t1 AS HUGEINT) * 1000000) // n_t1
      |       - (CAST(s_t0 AS HUGEINT) * 1000000) // n_t0
      |       - ((CAST(s_c1 AS HUGEINT) * 1000000) // n_c1
      |          - (CAST(s_c0 AS HUGEINT) * 1000000) // n_c0) AS BIGINT)
      |    AS did_ppm
      |FROM g""".stripMargin

  /** #332 instrumental-variable Wald estimator — the causal price-per-
    * unit slope when quantity is endogenous: β_IV = cov(y,z)/cov(x,z)
    * with part size as the instrument, next to the naive OLS slope
    * (the IV-vs-OLS gap IS the endogeneity diagnostic; extends #135's
    * descriptive fit with the causal estimand). All covariances fold
    * as exact n·Σab − Σa·Σb integers in DECIMAL(38) off ONE aggregate
    * over the fact join; β's land as sign-split ppm — split on BOTH
    * operands: cov(x,z) can be negative, and a negative DENOMINATOR is
    * where one-sided splits still diverge (Spark div truncates, DuckDB
    * // floors); the first-stage corr (instrument strength — the
    * weak-IV gate, near zero on this synthetic data BY DESIGN) is the
    * one divide-early double. 1-row output. */
  private def ivWald(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "lineitem")
      .join(t(s, dir, "part").select(col("p_partkey"), col("p_size")),
        col("l_partkey") === col("p_partkey"))
      .select((col("l_extendedprice").cast("decimal(18,2)") * 100)
          .cast("long").as("__y"),
        col("l_quantity").cast("long").as("__x"),
        col("p_size").cast("long").as("__z"))
    val m = base.agg(count(lit(1)).as("n"),
      sum("__y").as("sy"), sum("__x").as("sx"), sum("__z").as("sz"),
      sum(expr("__y * __z")).as("syz"), sum(expr("__x * __z")).as("sxz"),
      sum(expr("CAST(__y AS DECIMAL(38,0)) * __x")).as("sxy"),
      sum(expr("__x * __x")).as("sxx"), sum(expr("__z * __z")).as("szz"))
    m.select(col("n").as("n_lines"),
        expr(sdivPpm2(
          "CAST(n AS DECIMAL(38,0)) * syz - CAST(sy AS DECIMAL(38,0)) * sz",
          "CAST(n AS DECIMAL(38,0)) * sxz - CAST(sx AS DECIMAL(38,0)) * sz",
          duck = false)).cast("long").as("beta_iv_ppm"),
        expr(sdivPpm2(
          "CAST(n AS DECIMAL(38,0)) * sxy - CAST(sy AS DECIMAL(38,0)) * sx",
          "CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx",
          duck = false)).cast("long").as("beta_ols_ppm"),
        expr(
          """round((CAST(n AS DOUBLE) * CAST(sxz AS DOUBLE)
            |        - CAST(sx AS DOUBLE) * CAST(sz AS DOUBLE))
            |  / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
            |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            |         * (CAST(n AS DOUBLE) * CAST(szz AS DOUBLE)
            |            - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE))), 6)"""
            .stripMargin.replace("\n", " ")).as("first_stage_corr"))
  }

  private val ivWaldSql = {
    s"""WITH base AS (
      |  SELECT CAST(l.l_extendedprice * 100 AS BIGINT) AS y,
      |    CAST(l.l_quantity AS BIGINT) AS x, CAST(p.p_size AS BIGINT) AS z
      |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
      |m AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(z) AS BIGINT) AS sz,
      |    CAST(sum(y * z) AS BIGINT) AS syz, CAST(sum(x * z) AS BIGINT) AS sxz,
      |    sum(CAST(y AS HUGEINT) * x) AS sxy,
      |    CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(z * z) AS BIGINT) AS szz
      |  FROM base)
      |SELECT n AS n_lines,
      |  CAST(${sdivPpm2(
          "CAST(n AS HUGEINT) * syz - CAST(sy AS HUGEINT) * sz",
          "CAST(n AS HUGEINT) * sxz - CAST(sx AS HUGEINT) * sz",
          duck = true)} AS BIGINT) AS beta_iv_ppm,
      |  CAST(${sdivPpm2(
          "CAST(n AS HUGEINT) * sxy - CAST(sy AS HUGEINT) * sx",
          "CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx",
          duck = true)} AS BIGINT) AS beta_ols_ppm,
      |  round((CAST(n AS DOUBLE) * CAST(sxz AS DOUBLE)
      |         - CAST(sx AS DOUBLE) * CAST(sz AS DOUBLE))
      |   / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |          * (CAST(n AS DOUBLE) * CAST(szz AS DOUBLE)
      |             - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE))), 6)
      |    AS first_stage_corr
      |FROM m""".stripMargin
  }

  /** #335 price elasticity of demand — the log-log slope of per-part
    * demand on retail price (the pricing-curve estimate behind every
    * revenue-management model): β = cov(ln Q, ln P)/var(ln P) over
    * parts, both logs in the property-tested ⌊ln(int)·1e6⌋ fixed point
    * (price cents and quantity sums are exact integers), cross-moments
    * in DECIMAL(38) (micronat² products overflow long at catalog
    * scale), slope sign-split ppm, corr divide-early double. One fact
    * groupBy + one O(parts) aggregate; 1-row output. */
  private def elasticity(s: SparkSession, dir: String): DataFrame = {
    val byPart = t(s, dir, "lineitem")
      .groupBy(col("l_partkey").as("pk"))
      .agg(sum(col("l_quantity").cast("long")).as("__q"))
      .join(t(s, dir, "part").select(col("p_partkey"),
        (col("p_retailprice").cast("decimal(18,2)") * 100).cast("long")
          .as("__p")),
        col("pk") === col("p_partkey"))
      .select(expr(s"${lnQ6("__p")}").as("x"), expr(s"${lnQ6("__q")}").as("y"))
    val m = byPart.agg(count(lit(1)).as("n"),
      sum("x").as("sx"), sum("y").as("sy"),
      sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"),
      sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
      sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("syy"))
    // corr via n²-scaled integer covariances: the raw micronat² moments
    // exceed BIGINT at sf1, and HUGEINT/DECIMAL→DOUBLE casts are not
    // correctly rounded cross-engine past 2^53 (§5) — but cov div n²
    // fits BIGINT, BIGINT→DOUBLE is exact-rounded, and corr is
    // scale-invariant (identical truncation on both engines)
    m.select(col("n").as("n_parts"),
        expr(sdivPpm(
          "CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy",
          "CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx",
          duck = false)).cast("long").as("elasticity_ppm"),
        expr(
          """round(CAST(CAST(CASE WHEN CAST(n AS DECIMAL(38,0)) * sxy
            |    - CAST(sx AS DECIMAL(38,0)) * sy >= 0
            |  THEN (CAST(n AS DECIMAL(38,0)) * sxy
            |        - CAST(sx AS DECIMAL(38,0)) * sy)
            |       div (CAST(n AS DECIMAL(38,0)) * n)
            |  ELSE -((CAST(sx AS DECIMAL(38,0)) * sy
            |          - CAST(n AS DECIMAL(38,0)) * sxy)
            |         div (CAST(n AS DECIMAL(38,0)) * n)) END AS BIGINT) AS DOUBLE)
            |  / sqrt(CAST(CAST((CAST(n AS DECIMAL(38,0)) * sxx
            |           - CAST(sx AS DECIMAL(38,0)) * sx)
            |          div (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT) AS DOUBLE)
            |         * CAST(CAST((CAST(n AS DECIMAL(38,0)) * syy
            |             - CAST(sy AS DECIMAL(38,0)) * sy)
            |            div (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT) AS DOUBLE)),
            | 6)""".stripMargin.replace("\n", " ")).as("log_log_corr"))
  }

  private val elasticitySql = {
    def ln6(x: String): String = operators.FixedPoint.lnQ(x)
    s"""WITH bp AS (
      |  SELECT l.l_partkey AS pk, CAST(sum(CAST(l.l_quantity AS BIGINT))
      |    AS BIGINT) AS q
      |  FROM lineitem l GROUP BY 1),
      |xy AS (
      |  SELECT ${ln6("CAST(p.p_retailprice * 100 AS BIGINT)")} AS x,
      |    ${ln6("bp.q")} AS y
      |  FROM bp JOIN part p ON p.p_partkey = bp.pk),
      |m AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
      |    CAST(sum(y) AS BIGINT) AS sy,
      |    sum(CAST(x AS HUGEINT) * y) AS sxy,
      |    sum(CAST(x AS HUGEINT) * x) AS sxx,
      |    sum(CAST(y AS HUGEINT) * y) AS syy
      |  FROM xy)
      |SELECT n AS n_parts,
      |  CAST(${sdivPpm(
          "CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy",
          "CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx",
          duck = true)} AS BIGINT) AS elasticity_ppm,
      |  round(CAST(CAST(CASE WHEN CAST(n AS HUGEINT) * sxy
      |      - CAST(sx AS HUGEINT) * sy >= 0
      |    THEN (CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy)
      |         // (CAST(n AS HUGEINT) * n)
      |    ELSE -((CAST(sx AS HUGEINT) * sy - CAST(n AS HUGEINT) * sxy)
      |           // (CAST(n AS HUGEINT) * n)) END AS BIGINT) AS DOUBLE)
      |   / sqrt(CAST(CAST((CAST(n AS HUGEINT) * sxx
      |            - CAST(sx AS HUGEINT) * sx)
      |           // (CAST(n AS HUGEINT) * n) AS BIGINT) AS DOUBLE)
      |          * CAST(CAST((CAST(n AS HUGEINT) * syy
      |              - CAST(sy AS HUGEINT) * sy)
      |             // (CAST(n AS HUGEINT) * n) AS BIGINT) AS DOUBLE)), 6)
      |    AS log_log_corr
      |FROM m""".stripMargin
  }

  /** #337 stratified (blocking) ATE — the treatment effect of BUILDING-
    * segment membership on order value adjusted for account-balance
    * decile (the observational-causal step between #157's raw segment
    * RFM and #332's IV: block on the confounder, weight by block
    * size). Deciles are exact rank bands on (cents, custkey) — the
    * total-order NPS device, per-customer; the ATE folds as
    * Σ_d n_d·(m_td − m_cd) div N over ppm-quantized block means,
    * blocks missing an arm are DROPPED (reported) rather than
    * imputed. The naive unadjusted gap rides along — the adjustment
    * delta IS the confounding measurement. O(deciles) intermediate,
    * 1-row output. */
  private def stratifiedAte(s: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy(col("__cents"), col("c_custkey"))
    val cust = t(s, dir, "customer")
      .select(col("c_custkey"),
        (col("c_mktsegment") === "BUILDING").cast("long").as("__t"),
        (col("c_acctbal").cast("decimal(18,2)") * 100).cast("long")
          .as("__cents"))
      .withColumn("__rk", row_number().over(w).cast("long"))
    val n1 = cust.agg(count(lit(1)).as("__nc"))
    val strata = cust.crossJoin(broadcast(n1))
      .withColumn("__d", expr("((__rk - 1) * 10) div __nc"))
      .select("c_custkey", "__t", "__d")
    val orders = t(s, dir, "orders")
      .select(col("o_custkey"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
          .as("__y"))
      .join(strata, col("o_custkey") === col("c_custkey"))
    val cells = orders.groupBy("__d")
      .agg(sum(when(col("__t") === 1, 1L).otherwise(0L)).as("nt"),
        sum(when(col("__t") === 0, 1L).otherwise(0L)).as("nc"),
        sum(when(col("__t") === 1, col("__y"))).as("st"),
        sum(when(col("__t") === 0, col("__y"))).as("sc"))
      .filter(col("nt") > 0 && col("nc") > 0)
    cells.agg(count(lit(1)).as("n_strata_used"),
        sum(expr("nt + nc")).as("n_orders"),
        sum(expr(
          """(nt + nc) * ((CAST(st AS DECIMAL(38,0)) * 1000000) div nt
            | - (CAST(sc AS DECIMAL(38,0)) * 1000000) div nc)"""
            .stripMargin.replace("\n", " "))).as("__w"),
        sum("st").as("__sta"), sum("nt").as("__nta"),
        sum("sc").as("__sca"), sum("nc").as("__nca"))
      .withColumn("ate_ppm", expr(
        """CASE WHEN __w >= 0 THEN CAST(__w div n_orders AS BIGINT)
          | ELSE -CAST((-__w) div n_orders AS BIGINT) END"""
          .stripMargin.replace("\n", " ")))
      .withColumn("naive_diff_ppm", expr(
        """CAST((CAST(__sta AS DECIMAL(38,0)) * 1000000) div __nta
          | - (CAST(__sca AS DECIMAL(38,0)) * 1000000) div __nca AS BIGINT)"""
          .stripMargin.replace("\n", " ")))
      .select("n_strata_used", "n_orders", "ate_ppm", "naive_diff_ppm")
  }

  private val stratifiedAteSql =
    """WITH cust AS (
      |  SELECT c_custkey,
      |    CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS t,
      |    row_number() OVER (ORDER BY CAST(c_acctbal * 100 AS BIGINT),
      |                       c_custkey) AS rk,
      |    (SELECT count(*) FROM customer) AS nc_all
      |  FROM customer),
      |st AS (SELECT c_custkey, t,
      |         CAST(((rk - 1) * 10) // nc_all AS BIGINT) AS d
      |       FROM cust),
      |o AS (
      |  SELECT st.d, st.t, CAST(o_totalprice * 100 AS BIGINT) AS y
      |  FROM orders JOIN st ON st.c_custkey = o_custkey),
      |cells AS (
      |  SELECT d,
      |    CAST(sum(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nt,
      |    CAST(sum(CASE WHEN t = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nc,
      |    sum(CASE WHEN t = 1 THEN y END) AS stt,
      |    sum(CASE WHEN t = 0 THEN y END) AS sc
      |  FROM o GROUP BY 1),
      |used AS (SELECT * FROM cells WHERE nt > 0 AND nc > 0),
      |g AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_strata_used,
      |    CAST(sum(nt + nc) AS BIGINT) AS n_orders,
      |    sum((nt + nc) * ((CAST(stt AS HUGEINT) * 1000000) // nt
      |        - (CAST(sc AS HUGEINT) * 1000000) // nc)) AS w,
      |    CAST(sum(stt) AS BIGINT) AS sta, CAST(sum(nt) AS BIGINT) AS nta,
      |    CAST(sum(sc) AS BIGINT) AS sca, CAST(sum(nc) AS BIGINT) AS nca
      |  FROM used)
      |SELECT n_strata_used, n_orders,
      |  CASE WHEN w >= 0 THEN CAST(w // n_orders AS BIGINT)
      |    ELSE -CAST((-w) // n_orders AS BIGINT) END AS ate_ppm,
      |  CAST((CAST(sta AS HUGEINT) * 1000000) // nta
      |       - (CAST(sca AS HUGEINT) * 1000000) // nca AS BIGINT)
      |    AS naive_diff_ppm
      |FROM g""".stripMargin

  /** #340 Gumbel extreme-value fit — the 100-period return level of
    * daily GMV from monthly maxima (the capacity-planning / risk
    * number a peak-detection op can't give: what peak should we
    * EXPECT once per 100 months?). Monthly maxima are exact integers
    * (max of daily k$ sums — one groupBy); the method-of-moments fit
    * β̂ = s·√6/π, μ̂ = x̄ − γ·β̂ and the return level
    * x_T = μ̂ − β̂·ln(−ln(1−1/T)) use SHARED numeric literals (γ,
    * √6/π, and the precomputed Gumbel variate for T=100) so both
    * engines evaluate the identical IEEE expression over identical
    * integers. O(months) intermediate, 1-row output. */
  private def gumbelFit(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "orders")
      .select(to_date(col("o_orderdate")).as("__dt"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
          .as("__c"))
      .groupBy("__dt").agg(expr("sum(__c) div 100000").as("x"))
      .select((year(col("__dt")) * 12 + month(col("__dt")) - 1).cast("long")
        .as("__m"), col("x"))
    val mx = daily.groupBy("__m").agg(max("x").as("mx"))
    // -ln(-ln(1 - 1/100)) precomputed once; sqrt(6)/pi; Euler gamma
    val y100 = "4.600149"; val s6pi = "0.779697"; val gamma = "0.577216"
    mx.agg(count(lit(1)).as("n_months"), max("mx").as("max_observed"),
        sum("mx").as("__s"), sum(expr("mx * mx")).as("__q"))
      .withColumn("gumbel_scale", expr(
        s"""round($s6pi * sqrt((CAST(n_months AS DOUBLE) * CAST(__q AS DOUBLE)
           |  - CAST(__s AS DOUBLE) * CAST(__s AS DOUBLE))
           | / (CAST(n_months AS DOUBLE) * CAST(n_months - 1 AS DOUBLE))), 6)"""
          .stripMargin.replace("\n", " ")))
      .withColumn("gumbel_loc", expr(
        s"""round(CAST(__s AS DOUBLE) / CAST(n_months AS DOUBLE)
           | - $gamma * ($s6pi * sqrt((CAST(n_months AS DOUBLE) * CAST(__q AS DOUBLE)
           |     - CAST(__s AS DOUBLE) * CAST(__s AS DOUBLE))
           |    / (CAST(n_months AS DOUBLE) * CAST(n_months - 1 AS DOUBLE)))), 6)"""
          .stripMargin.replace("\n", " ")))
      .withColumn("return_level_100", expr(
        s"""round(CAST(__s AS DOUBLE) / CAST(n_months AS DOUBLE)
           | - $gamma * ($s6pi * sqrt((CAST(n_months AS DOUBLE) * CAST(__q AS DOUBLE)
           |     - CAST(__s AS DOUBLE) * CAST(__s AS DOUBLE))
           |    / (CAST(n_months AS DOUBLE) * CAST(n_months - 1 AS DOUBLE))))
           | + $y100 * ($s6pi * sqrt((CAST(n_months AS DOUBLE) * CAST(__q AS DOUBLE)
           |     - CAST(__s AS DOUBLE) * CAST(__s AS DOUBLE))
           |    / (CAST(n_months AS DOUBLE) * CAST(n_months - 1 AS DOUBLE)))), 6)"""
          .stripMargin.replace("\n", " ")))
      .select("n_months", "max_observed", "gumbel_loc", "gumbel_scale",
        "return_level_100")
  }

  private val gumbelFitSql = {
    val y100 = "4.600149"; val s6pi = "0.779697"; val gamma = "0.577216"
    s"""WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS dt,
      |    CAST(sum(CAST(o_totalprice * 100 AS BIGINT)) // 100000 AS BIGINT)
      |      AS x
      |  FROM orders GROUP BY 1),
      |mm AS (
      |  SELECT CAST(year(dt) * 12 + month(dt) - 1 AS BIGINT) AS m,
      |    CAST(max(x) AS BIGINT) AS mx
      |  FROM daily GROUP BY 1),
      |g AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_months,
      |    CAST(max(mx) AS BIGINT) AS max_observed,
      |    CAST(sum(mx) AS BIGINT) AS s, CAST(sum(mx * mx) AS BIGINT) AS q
      |  FROM mm)
      |SELECT n_months, max_observed,
      |  round(CAST(s AS DOUBLE) / CAST(n_months AS DOUBLE)
      |   - $gamma * ($s6pi * sqrt((CAST(n_months AS DOUBLE) * CAST(q AS DOUBLE)
      |       - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
      |      / (CAST(n_months AS DOUBLE) * CAST(n_months - 1 AS DOUBLE)))), 6)
      |    AS gumbel_loc,
      |  round($s6pi * sqrt((CAST(n_months AS DOUBLE) * CAST(q AS DOUBLE)
      |    - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
      |   / (CAST(n_months AS DOUBLE) * CAST(n_months - 1 AS DOUBLE))), 6)
      |    AS gumbel_scale,
      |  round(CAST(s AS DOUBLE) / CAST(n_months AS DOUBLE)
      |   - $gamma * ($s6pi * sqrt((CAST(n_months AS DOUBLE) * CAST(q AS DOUBLE)
      |       - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
      |      / (CAST(n_months AS DOUBLE) * CAST(n_months - 1 AS DOUBLE))))
      |   + $y100 * ($s6pi * sqrt((CAST(n_months AS DOUBLE) * CAST(q AS DOUBLE)
      |       - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
      |      / (CAST(n_months AS DOUBLE) * CAST(n_months - 1 AS DOUBLE)))), 6)
      |    AS return_level_100
      |FROM g""".stripMargin
  }

  /** #347 Bloom-filter false-positive audit — the measured honesty
    * check for q_bloom_prune's runtime-filter family: build a k=3
    * Bloom set over the customers WITH orders and probe it with a
    * non-member set that exists BY CONSTRUCTION — every customer key
    * shifted past the max key of both tables (the previous anti-join
    * probe set "customers without orders" was EMPTY on the shipped
    * fixtures, a vacuous audit) — reporting the empirical
    * false-positive rate next to both theory curves
    * ((1−e^{−kn/m})^k and the sharper (bits_set/m)^k). Two scale
    * disciplines, both learned the measured way: (a) slots use
    * Kirsch–Mitzenmacher DOUBLE hashing, slot_i = (h1 + i·h2) mod m
    * with two independent multiplicative hashes — the earlier
    * hash(x·k+i) gave every key the SAME inter-slot stride and the
    * empirical FPR read 100× under theory; (b) m is CORPUS-RELATIVE
    * (8·n+1 bits, computed in-query — integer arithmetic, no float
    * log2 boundary), because a fixed m=8192 was 100% saturated at
    * sf0.1 and the audit measured nothing but 1.0. The bit relation
    * is the filter itself — it fits memory by definition of a usable
    * Bloom filter, so it BROADCASTS and the probe pass is map-only
    * however many probes; the sketch is mergeable (slot union).
    * 1-row output. */
  private def bloomFpr(s: SparkSession, dir: String): DataFrame = {
    val k = 3
    def slotE(i: Int) =
      s"pmod(${multHashExpr("__x")} + $i * ${multHash2Expr("__x")}, __m)"
    val members = t(s, dir, "orders")
      .select(col("o_custkey").as("__x")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val mrow = members.agg((count(lit(1)) * 8L + 1L).as("__m"))
    val bits = members.crossJoin(broadcast(mrow))
      .select(explode(array((0 until k).map(i => expr(slotE(i))): _*)).as("slot"))
      .distinct()
    // shift past the max key of BOTH tables: orders can reference
    // custkeys beyond max(c_custkey) (the late-dimension fixture), so
    // the customer max alone does not bound the member domain
    // +1: keys start at 0, so a shift of exactly max would map key 0
    // onto the max member
    val mx = t(s, dir, "customer").agg(max(col("c_custkey")).as("__cm"))
      .crossJoin(broadcast(members.agg(max(col("__x")).as("__om"))))
      .select((greatest(col("__cm"), col("__om")) + 1L).as("__mx"))
    val probes = t(s, dir, "customer").crossJoin(broadcast(mx))
      .select((col("c_custkey") + col("__mx")).as("__x"))
    val hits = probes.crossJoin(broadcast(mrow))
      .select(col("__x"), explode(array((0 until k).map(i => expr(slotE(i))): _*))
        .as("slot"))
      .join(broadcast(bits.withColumn("__b", lit(1L))), Seq("slot"), "left")
      .groupBy("__x").agg(sum(coalesce(col("__b"), lit(0L))).as("__h"))
    val counts = hits.agg(count(lit(1)).as("n_probes"),
      sum(when(col("__h") === k, 1L).otherwise(0L)).as("n_fp"))
    val nm = members.agg(count(lit(1)).as("n_members"))
    val nb = bits.agg(count(lit(1)).as("n_bits_set"))
    counts.crossJoin(broadcast(nm)).crossJoin(broadcast(nb))
      .crossJoin(broadcast(mrow))
      .select(col("n_members"), col("n_bits_set"), col("n_probes"), col("n_fp"),
        expr("(n_fp * 1000000) div n_probes").as("fpr_ppm"),
        // + 1e-9 before the floor: with m data-dependent (8n+1), a libm
        // ulp difference between JVM and DuckDB at an exact integer ppm
        // boundary could flip the floor by 1 nondeterministically across
        // SFs; the half-ulp nudge absorbs it (r9 ADVICE) — identical on
        // both engines, so it cancels in the hash compare
        expr(s"""CAST(floor(pow(1.0 - exp(-($k.0 * CAST(n_members AS DOUBLE)) / CAST(__m AS DOUBLE)), $k.0)
               | * 1000000.0 + 1e-9) AS BIGINT)""".stripMargin.replace("\n", " "))
          .as("theory_ppm"),
        expr(s"""CAST(floor(pow(CAST(n_bits_set AS DOUBLE) / CAST(__m AS DOUBLE), $k.0)
               | * 1000000.0 + 1e-9) AS BIGINT)""".stripMargin.replace("\n", " "))
          .as("load_ppm"))
  }

  private val bloomFprSql = {
    val k = 3
    def slotD(i: Int) =
      s"((${multHashDuck("x")}) + $i * (${multHash2Duck("x")})) % mm.m"
    s"""WITH members AS (SELECT DISTINCT o_custkey AS x FROM orders),
       |mm AS (SELECT CAST(count(*) AS BIGINT) * 8 + 1 AS m FROM members),
       |bits AS (
       |  SELECT DISTINCT CASE i.i WHEN 0 THEN ${slotD(0)}
       |    WHEN 1 THEN ${slotD(1)} ELSE ${slotD(2)} END AS slot
       |  FROM members CROSS JOIN mm
       |  CROSS JOIN (SELECT unnest(range(0, $k)) AS i) i),
       |probes AS (
       |  SELECT c_custkey + greatest(
       |      (SELECT max(c_custkey) FROM customer),
       |      (SELECT max(x) FROM members)) + 1 AS x
       |  FROM customer),
       |ph AS (
       |  SELECT p.x, count(b.slot) AS h
       |  FROM (SELECT x, CASE i.i WHEN 0 THEN ${slotD(0)}
       |          WHEN 1 THEN ${slotD(1)} ELSE ${slotD(2)} END AS slot
       |        FROM probes CROSS JOIN mm
       |        CROSS JOIN (SELECT unnest(range(0, $k)) AS i) i) p
       |  LEFT JOIN bits b ON b.slot = p.slot GROUP BY 1),
       |c AS (SELECT CAST(count(*) AS BIGINT) AS n_probes,
       |        CAST(sum(CASE WHEN h = $k THEN 1 ELSE 0 END) AS BIGINT) AS n_fp
       |      FROM ph),
       |nm AS (SELECT CAST(count(*) AS BIGINT) AS n_members FROM members),
       |nb AS (SELECT CAST(count(*) AS BIGINT) AS n_bits_set FROM bits)
       |SELECT n_members, n_bits_set, n_probes, n_fp,
       |  CAST((n_fp * 1000000) // n_probes AS BIGINT) AS fpr_ppm,
       |  CAST(floor(pow(1.0 - exp(-($k.0 * CAST(n_members AS DOUBLE)) / CAST(mm.m AS DOUBLE)), $k.0)
       |    * 1000000.0 + 1e-9) AS BIGINT) AS theory_ppm,
       |  CAST(floor(pow(CAST(n_bits_set AS DOUBLE) / CAST(mm.m AS DOUBLE), $k.0)
       |    * 1000000.0 + 1e-9) AS BIGINT) AS load_ppm
       |FROM c CROSS JOIN nm CROSS JOIN nb CROSS JOIN mm""".stripMargin
  }

  /** #357 association rules — support/confidence/lift over co-purchase
    * pairs (Agrawal & Srikant 1994, public), the recommender's "people
    * who bought X" table with the statistics that make it defensible:
    * conf(a→b) = c(ab)/c(a), lift = c(ab)·N / (c(a)·c(b)), both exact
    * ppm integers (the lift numerator rides DECIMAL(38) — at 100 TB
    * c(ab)·N·1e6 overflows a long). Pairs are generated MAP-SIDE from
    * each order's bounded sorted item set (the copurchase device — the
    * C(n,2) fan-out is order-size-bounded, never corpus-sized); item
    * supports are one groupBy; each rule direction is one broadcast-
    * friendly join against the O(items) support table. */
  private def assocRules(s: SparkSession, dir: String): DataFrame = {
    val it = t(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = it.agg(countDistinct("ok").as("__N"))
    val ic = it.groupBy("pk").agg(count(lit(1)).as("ci"))
    val pairs = it.groupBy("ok").agg(sort_array(collect_set(col("pk"))).as("ps"))
      // mega-order guard — provable no-op on generator data, see
      // copurchaseEdges
      .filter(size(col("ps")) <= 65536)
      // native C(n,2) pair fan-out — see copurchaseEdges
      .select(explode(graft.functions.NativeVec.sorted_pairs(col("ps"))).as("e"))
      .select(col("e.a").as("ea"), col("e.b").as("eb"))
      .groupBy("ea", "eb").agg(count(lit(1)).as("n_co"))
      .filter(col("n_co") >= 2)
      // persisted: the rule table reads the pair set once per DIRECTION
      // (the unionAll below) — unpersisted, the whole collect_set +
      // fan-out + count pipeline executed twice
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val both = pairs.select(col("ea").as("antecedent"),
        col("eb").as("consequent"), col("n_co"))
      .unionAll(pairs.select(col("eb").as("antecedent"),
        col("ea").as("consequent"), col("n_co")))
    both
      .join(ic.select(col("pk").as("antecedent"), col("ci").as("__ca")),
        Seq("antecedent"))
      .join(ic.select(col("pk").as("consequent"), col("ci").as("__cb")),
        Seq("consequent"))
      .crossJoin(broadcast(n))
      .select(col("antecedent"), col("consequent"), col("n_co").as("support"),
        expr("(n_co * 1000000) div __ca").as("conf_ppm"),
        expr("CAST((CAST(n_co AS DECIMAL(38,0)) * __N * 1000000)" +
          " div (CAST(__ca AS DECIMAL(38,0)) * __cb) AS BIGINT)").as("lift_ppm"))
  }

  private val assocRulesSql =
    """WITH it AS MATERIALIZED (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |n AS (SELECT count(DISTINCT ok) AS N FROM it),
      |ic AS (SELECT pk, CAST(count(*) AS BIGINT) AS ci FROM it GROUP BY 1),
      |pr AS (
      |  SELECT a.pk AS ea, b.pk AS eb, CAST(count(*) AS BIGINT) AS n_co
      |  FROM it a JOIN it b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |rl AS (
      |  SELECT ea AS antecedent, eb AS consequent, n_co FROM pr
      |  UNION ALL
      |  SELECT eb, ea, n_co FROM pr)
      |SELECT b.antecedent, b.consequent, b.n_co AS support,
      |  CAST((b.n_co * 1000000) // ca.ci AS BIGINT) AS conf_ppm,
      |  CAST((CAST(b.n_co AS HUGEINT) * n.N * 1000000)
      |    // (CAST(ca.ci AS HUGEINT) * cb.ci) AS BIGINT) AS lift_ppm
      |FROM rl b
      |JOIN ic ca ON ca.pk = b.antecedent
      |JOIN ic cb ON cb.pk = b.consequent
      |CROSS JOIN n""".stripMargin

  /** #359 regression discontinuity — the sharp-RDD effect estimate
    * (Thistlethwaite & Campbell 1960, public) completing the causal
    * family (#331 DID, #332 IV-Wald, #337 stratified ATE): running
    * variable = account balance in cents, cutoff 0, bandwidth
    * ±1000.00; outcome = the customer's total order spend. One local
    * linear fit per side from ONE grouped aggregate of exact moments
    * (n, Σx, Σx², Σy, Σxy — cross-products staged through DECIMAL(38)
    * so a 100 TB ledger can't overflow the partial sums), sides
    * pivoted to one row, doubles only in the final projection (the
    * q_linear_fit discipline). Effect = intercept_right −
    * intercept_left AT the cutoff. */
  private def rddCutoff(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
      .select(col("c_custkey"),
        (col("c_acctbal").cast("decimal(18,2)") * 100).cast("long").as("__x"))
      .filter(abs(col("__x")) <= 100000L)
    val spend = parallelize(s, t(s, dir, "orders"))
      .groupBy(col("o_custkey").as("c_custkey"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
        .as("__y0"))
    val m = cust.join(spend, Seq("c_custkey"), "left")
      .select(col("__x"), coalesce(col("__y0"), lit(0L)).as("__y"),
        (col("__x") >= 0L).as("__r"))
      .groupBy("__r")
      .agg(count(lit(1)).as("n"),
        sum(col("__x").cast("decimal(38,0)")).as("sx"),
        sum((col("__x") * col("__x")).cast("decimal(38,0)")).as("sxx"),
        sum(col("__y").cast("decimal(38,0)")).as("sy"),
        sum(col("__x").cast("decimal(38,0)") * col("__y")).as("sxy"))
    def d(c: String, side: Column): Column =
      max(when(col("__r") === side, col(c))).cast("double")
    def fit(n: Column, sx: Column, sxx: Column, sy: Column, sxy: Column) = {
      val den = n * sxx - sx * sx
      val slope = (n * sxy - sx * sy) / den
      val icept = (sy * sxx - sx * sxy) / den
      (slope, icept)
    }
    val one = m.groupBy()
      .agg(max(when(!col("__r"), col("n"))).as("n_left"),
        max(when(col("__r"), col("n"))).as("n_right"),
        d("sx", lit(false)).as("__lsx"), d("sxx", lit(false)).as("__lsxx"),
        d("sy", lit(false)).as("__lsy"), d("sxy", lit(false)).as("__lsxy"),
        d("sx", lit(true)).as("__rsx"), d("sxx", lit(true)).as("__rsxx"),
        d("sy", lit(true)).as("__rsy"), d("sxy", lit(true)).as("__rsxy"))
    val (ls, li) = fit(col("n_left").cast("double"), col("__lsx"),
      col("__lsxx"), col("__lsy"), col("__lsxy"))
    val (rs, ri) = fit(col("n_right").cast("double"), col("__rsx"),
      col("__rsxx"), col("__rsy"), col("__rsxy"))
    one.select(col("n_left"), col("n_right"),
      round(ls, 6).as("slope_left"), round(li, 6).as("intercept_left"),
      round(rs, 6).as("slope_right"), round(ri, 6).as("intercept_right"),
      round(ri - li, 6).as("effect_cents"))
  }

  private val rddCutoffSql =
    """WITH c AS (
      |  SELECT c_custkey,
      |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
      |  FROM customer
      |  WHERE abs(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT))
      |    <= 100000),
      |sp AS (
      |  SELECT o_custkey AS c_custkey,
      |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
      |      AS BIGINT) AS y
      |  FROM orders GROUP BY 1),
      |p AS (
      |  SELECT c.x, coalesce(sp.y, 0) AS y, c.x >= 0 AS r
      |  FROM c LEFT JOIN sp USING (c_custkey)),
      |m AS (
      |  SELECT r, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CAST(x AS HUGEINT)) AS DOUBLE) AS sx,
      |    CAST(sum(CAST(x * x AS HUGEINT)) AS DOUBLE) AS sxx,
      |    CAST(sum(CAST(y AS HUGEINT)) AS DOUBLE) AS sy,
      |    CAST(sum(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy
      |  FROM p GROUP BY 1),
      |o AS (
      |  SELECT
      |    max(CASE WHEN NOT r THEN n END) AS n_left,
      |    max(CASE WHEN r THEN n END) AS n_right,
      |    max(CASE WHEN NOT r THEN sx END) AS lsx,
      |    max(CASE WHEN NOT r THEN sxx END) AS lsxx,
      |    max(CASE WHEN NOT r THEN sy END) AS lsy,
      |    max(CASE WHEN NOT r THEN sxy END) AS lsxy,
      |    max(CASE WHEN r THEN sx END) AS rsx,
      |    max(CASE WHEN r THEN sxx END) AS rsxx,
      |    max(CASE WHEN r THEN sy END) AS rsy,
      |    max(CASE WHEN r THEN sxy END) AS rsxy
      |  FROM m)
      |SELECT n_left, n_right,
      |  round((CAST(n_left AS DOUBLE) * lsxy - lsx * lsy)
      |    / (CAST(n_left AS DOUBLE) * lsxx - lsx * lsx), 6) AS slope_left,
      |  round((lsy * lsxx - lsx * lsxy)
      |    / (CAST(n_left AS DOUBLE) * lsxx - lsx * lsx), 6) AS intercept_left,
      |  round((CAST(n_right AS DOUBLE) * rsxy - rsx * rsy)
      |    / (CAST(n_right AS DOUBLE) * rsxx - rsx * rsx), 6) AS slope_right,
      |  round((rsy * rsxx - rsx * rsxy)
      |    / (CAST(n_right AS DOUBLE) * rsxx - rsx * rsx), 6) AS intercept_right,
      |  round((rsy * rsxx - rsx * rsxy)
      |      / (CAST(n_right AS DOUBLE) * rsxx - rsx * rsx)
      |    - (lsy * lsxx - lsx * lsxy)
      |      / (CAST(n_left AS DOUBLE) * lsxx - lsx * lsx), 6) AS effect_cents
      |FROM o""".stripMargin

  /** #365 energy distance — Székely's two-sample energy statistic
    * D = 2·E|X−Y| − E|X−X'| − E|Y−Y'| between the 'F' and 'O' order
    * price populations, WITHOUT the naive O(m·n) all-pairs: in 1-D
    * every pairwise-absolute-difference sum collapses to a rank fold,
    * Σ_{i<j}|v_i−v_j| = Σ_k (2k−n−1)·v_(k), so each of the three terms
    * is ONE distributed global-rank scan (`PrefixSum.withGlobalRank`,
    * the two-phase device — never a single-reducer window) plus an
    * exact DECIMAL(38) fold; the cross term falls out by subtraction
    * (S_all = S_xx + S_yy + S_xy). Tie order between equal cents is
    * immaterial — coefficients over a tie block sum to a constant — so
    * the rank scan's uniqueness tiebreak (orderkey) cannot leak into
    * the result. Prices quantize to exact cents via DECIMAL(18,2)
    * (HALF_UP on both engines); each E-term is ONE positive integral
    * division to micro units, so floor == truncate cross-engine.
    * Driver state: three 1-row aggregates + two counts — O(1). */
  private def energyDistance(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = parallelize(s, t(s, dir, "orders"))
      .filter(col("o_orderstatus").isin("F", "O"))
      .select(col("o_orderkey").as("k"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("cents"),
        (col("o_orderstatus") === "F").as("is_x"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Σ_{i<j} |v_i − v_j| = Σ_k (2k − n − 1) · v_(k)  (k = 1-based rank)
    def pairSum(df: DataFrame, n: Long): BigInt = {
      val d = PrefixSum.withGlobalRank(df.select("cents", "k"), Seq("cents", "k"), "__r")
        .agg(sum((col("__r") * 2 - n - 1).cast("decimal(38,0)")
          * col("cents").cast("decimal(38,0)")).as("sp"))
        .collect().head.getDecimal(0)
      BigInt(d.toBigInteger)
    }
    val m = o.filter(col("is_x")).count()
    val n = o.filter(!col("is_x")).count()
    val sxx = pairSum(o.filter(col("is_x")), m)
    val syy = pairSum(o.filter(!col("is_x")), n)
    val sxy = pairSum(o, m + n) - sxx - syy
    o.unpersist()
    val exx = sxx * 2000000 / (BigInt(m) * m)
    val eyy = syy * 2000000 / (BigInt(n) * n)
    val exy2 = sxy * 2000000 / (BigInt(m) * n)
    Seq((m, n, exx.toLong, eyy.toLong, exy2.toLong,
      (exy2 - exx - eyy).toLong))
      .toDF("n_x", "n_y", "e_xx_micro", "e_yy_micro", "e_xy2_micro",
        "energy_micro")
  }

  private val energyDistanceSql =
    """WITH o AS (
      |  SELECT o_orderkey AS k,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
      |    o_orderstatus = 'F' AS is_x
      |  FROM orders WHERE o_orderstatus IN ('F', 'O')),
      |rx AS (SELECT cents, row_number() OVER (ORDER BY cents, k) AS r,
      |              count(*) OVER () AS n FROM o WHERE is_x),
      |ry AS (SELECT cents, row_number() OVER (ORDER BY cents, k) AS r,
      |              count(*) OVER () AS n FROM o WHERE NOT is_x),
      |ra AS (SELECT cents, row_number() OVER (ORDER BY cents, k) AS r,
      |              count(*) OVER () AS n FROM o),
      |sx AS (SELECT sum(CAST(2 * r - n - 1 AS HUGEINT) * cents) AS s,
      |              max(n) AS m FROM rx),
      |sy AS (SELECT sum(CAST(2 * r - n - 1 AS HUGEINT) * cents) AS s,
      |              max(n) AS m FROM ry),
      |sa AS (SELECT sum(CAST(2 * r - n - 1 AS HUGEINT) * cents) AS s FROM ra),
      |e AS (
      |  SELECT sx.m AS n_x, sy.m AS n_y,
      |    (sx.s * 2000000) // (CAST(sx.m AS HUGEINT) * sx.m) AS e_xx,
      |    (sy.s * 2000000) // (CAST(sy.m AS HUGEINT) * sy.m) AS e_yy,
      |    ((sa.s - sx.s - sy.s) * 2000000)
      |      // (CAST(sx.m AS HUGEINT) * sy.m) AS e_xy2
      |  FROM sx, sy, sa)
      |SELECT CAST(n_x AS BIGINT) AS n_x, CAST(n_y AS BIGINT) AS n_y,
      |  CAST(e_xx AS BIGINT) AS e_xx_micro, CAST(e_yy AS BIGINT) AS e_yy_micro,
      |  CAST(e_xy2 AS BIGINT) AS e_xy2_micro,
      |  CAST(e_xy2 - e_xx - e_yy AS BIGINT) AS energy_micro
      |FROM e""".stripMargin

  /** #366 Cochran's Q — did the customer retention rate differ across
    * 1995/1996/1997? Blocks = customers active in the window, k = 3
    * binary "treatments" (ordered ≥1 order in that year), the repeated-
    * measures generalization of McNemar (#273). The whole test is two
    * grouped aggregations: the per-customer pivot is the fixed-column
    * device (3 literal year indicators, no dynamic pivot), then ONE
    * fold produces N, ΣC_j², ΣR_i² — every term an exact integer, and
    * Q = (k−1)(kΣC²−N²)/(kN−ΣR²) quantizes by one non-negative
    * integral division to micro units (numerator and denominator are
    * both ≥ 0 by Cauchy–Schwarz / R≤k, so floor == truncate on both
    * engines). All-0 and all-3 blocks contribute zero to BOTH sides —
    * keeping them is harmless and saves a filter pass. DECIMAL(38)
    * staging keeps kΣC²−N² exact past 1e12 blocks. */
  private def cochranQ(s: SparkSession, dir: String): DataFrame = {
    val o = parallelize(s, t(s, dir, "orders"))
      .filter(year(col("o_orderdate")).between(1995, 1997))
      .select(col("o_custkey"), year(col("o_orderdate")).as("y"))
    val blocks = o.groupBy("o_custkey").agg(
      max(when(col("y") === 1995, 1L).otherwise(0L)).as("b1"),
      max(when(col("y") === 1996, 1L).otherwise(0L)).as("b2"),
      max(when(col("y") === 1997, 1L).otherwise(0L)).as("b3"))
    blocks.agg(
        count(lit(1)).as("n_blocks"),
        sum("b1").as("c1"), sum("b2").as("c2"), sum("b3").as("c3"),
        sum((col("b1") + col("b2") + col("b3"))
          * (col("b1") + col("b2") + col("b3"))).as("__sr2"))
      .select(col("n_blocks"), col("c1"), col("c2"), col("c3"),
        lit(2L).as("df"),
        expr("""CAST((2 * (3 * (CAST(c1 AS DECIMAL(38,0)) * c1
                               + CAST(c2 AS DECIMAL(38,0)) * c2
                               + CAST(c3 AS DECIMAL(38,0)) * c3)
                     - CAST(c1 + c2 + c3 AS DECIMAL(38,0)) * (c1 + c2 + c3))
                  * 1000000)
                div nullif(3 * (c1 + c2 + c3) - __sr2, 0) AS BIGINT)""")
          .as("q_micro"))
  }

  private val cochranQSql =
    """WITH o AS (
      |  SELECT o_custkey, year(o_orderdate) AS y FROM orders
      |  WHERE year(o_orderdate) BETWEEN 1995 AND 1997),
      |b AS (
      |  SELECT o_custkey,
      |    max(CASE WHEN y = 1995 THEN 1 ELSE 0 END) AS b1,
      |    max(CASE WHEN y = 1996 THEN 1 ELSE 0 END) AS b2,
      |    max(CASE WHEN y = 1997 THEN 1 ELSE 0 END) AS b3
      |  FROM o GROUP BY 1),
      |a AS (
      |  SELECT count(*) AS n_blocks,
      |    sum(b1) AS c1, sum(b2) AS c2, sum(b3) AS c3,
      |    sum((b1 + b2 + b3) * (b1 + b2 + b3)) AS sr2
      |  FROM b)
      |SELECT CAST(n_blocks AS BIGINT) AS n_blocks,
      |  CAST(c1 AS BIGINT) AS c1, CAST(c2 AS BIGINT) AS c2,
      |  CAST(c3 AS BIGINT) AS c3, CAST(2 AS BIGINT) AS df,
      |  CAST((2 * (3 * (CAST(c1 AS HUGEINT) * c1 + CAST(c2 AS HUGEINT) * c2
      |                  + CAST(c3 AS HUGEINT) * c3)
      |             - CAST(c1 + c2 + c3 AS HUGEINT) * (c1 + c2 + c3))
      |        * 1000000)
      |       // nullif(3 * (c1 + c2 + c3) - sr2, 0) AS BIGINT) AS q_micro
      |FROM a""".stripMargin

  /** #367 Page's trend test — ordered alternative to Friedman (#299):
    * is per-nation order volume MONOTONICALLY trending across
    * 1995→1996→1997? Blocks = the 25 nations (dense grid: nation ×
    * year literals, zero-filled — a missing cell must rank, not
    * vanish), treatments = the 3 ordered years, ranks 1..3 within each
    * block with a DETERMINISTIC year-ascending tiebreak (exact-integer
    * variant: no average ranks, no tie-corrected variance — the
    * documented convention, applied identically in both engines).
    * Window is PARTITIONED by nation (3 rows/partition — never the
    * one-reducer global window). L = Σ_j j·R_j is an integer; instead
    * of z (a sqrt at the very end) the op emits the exact χ²(1)
    * equivalent z² = (L−μ)²/σ² with μ = 12b, σ² = 2b for k = 3, as
    * one integral division to micro — zero floating point anywhere.
    * Driver state: none (O(nations) rows flow, 1-row result). */
  private def pageTrend(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = parallelize(s, t(s, dir, "orders"))
      .filter(year(col("o_orderdate")).between(1995, 1997))
      .join(broadcast(t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nk"),
        year(col("o_orderdate")).as("y"))
      .agg(count(lit(1)).as("cnt"))
    val grid = t(s, dir, "nation").select(col("n_nationkey").as("nk"))
      .crossJoin(broadcast(Seq(1995, 1996, 1997).toDF("y")))
    val cells = grid.join(o, Seq("nk", "y"), "left")
      .select(col("nk"), col("y"), coalesce(col("cnt"), lit(0L)).as("cnt"))
    val w = Window.partitionBy("nk").orderBy(col("cnt").asc, col("y").asc)
    val ranked = cells.withColumn("r", row_number().over(w))
    ranked
      .groupBy()
      .agg(countDistinct("nk").as("n_blocks"),
        sum((col("y") - 1994).cast("long") * col("r")).as("l_stat"))
      .select(col("n_blocks"), col("l_stat"),
        signum(col("l_stat") - lit(12L) * col("n_blocks")).cast("long")
          .as("trend_sign"),
        expr("""CAST(((l_stat - 12 * n_blocks)
                      * (l_stat - 12 * n_blocks) * 1000000)
                     div (2 * n_blocks) AS BIGINT)""").as("z2_micro"))
  }

  private val pageTrendSql =
    """WITH o AS (
      |  SELECT c.c_nationkey AS nk, year(o.o_orderdate) AS y,
      |         count(*) AS cnt
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |  WHERE year(o.o_orderdate) BETWEEN 1995 AND 1997
      |  GROUP BY 1, 2),
      |grid AS (
      |  SELECT n.n_nationkey AS nk, y.y
      |  FROM nation n, (VALUES (1995), (1996), (1997)) AS y(y)),
      |cells AS (
      |  SELECT g.nk, g.y, coalesce(o.cnt, 0) AS cnt
      |  FROM grid g LEFT JOIN o ON o.nk = g.nk AND o.y = g.y),
      |ranked AS (
      |  SELECT nk, y, row_number() OVER (
      |    PARTITION BY nk ORDER BY cnt ASC, y ASC) AS r
      |  FROM cells),
      |a AS (
      |  SELECT count(DISTINCT nk) AS n_blocks,
      |         sum((y - 1994) * r) AS l_stat
      |  FROM ranked)
      |SELECT CAST(n_blocks AS BIGINT) AS n_blocks,
      |  CAST(l_stat AS BIGINT) AS l_stat,
      |  CAST(sign(l_stat - 12 * n_blocks) AS BIGINT) AS trend_sign,
      |  CAST(((l_stat - 12 * n_blocks) * (l_stat - 12 * n_blocks)
      |        * 1000000) // (2 * n_blocks) AS BIGINT) AS z2_micro
      |FROM a""".stripMargin

  /** #370 Jonckheere–Terpstra — the ORDERED k-sample trend test
    * (Mann–Whitney #174 generalized to the 5 ordered priority classes;
    * Page #367 is the blocked sibling): is order value monotone in
    * priority? J is pure pair COUNTING, so nothing to quantize:
    * compress to the distinct-cents domain with per-priority counts
    * (one groupBy), run ONE `PrefixSum.runningTotal` scan per group
    * over the distinct-value table (k=5 linear passes, never the
    * O(D²) value self-join), and fold J₂ = Σ_v Σ_{i<j} [2·lt_i(v)·c_j(v)
    * + c_i(v)·c_j(v)] — the doubled statistic so equal-value pairs
    * contribute their half credit as an integer. Output the exact
    * χ²(1) form z² = (J−μ)²/σ² = (2J₂−A)²·9/(2B) with A = N²−Σn²,
    * B = N²(2N+3) − Σn²(2n+3) (tie-free variance, documented
    * convention), one integral division — zero FP. DECIMAL(38) holds
    * (2J₂−A)²·9e6 to ~5e7 rows — documented SF gate, the
    * q_design_effect discipline. */
  private def jonckheere(s: SparkSession, dir: String): DataFrame = {
    val pri = (1 to 5).map(i => s"g$i")
    val o = parallelize(s, t(s, dir, "orders"))
      .select((col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
        .as("cents"),
        substring(col("o_orderpriority"), 1, 1).cast("int").as("g"))
    val priCols = pri.zipWithIndex.map { case (n, i) =>
      sum(when(col("g") === i + 1, 1L).otherwise(0L)).as(n)
    }
    val byVal = o.groupBy("cents")
      .agg(priCols.head, priCols.tail: _*)
    // ONE linear two-phase scan computes all five ordered-group running
    // totals (r_g1..r_g5) over the distinct-cents domain — the previous
    // form ran runningTotal per group (5 range shuffles + 5 driver
    // collects) and re-joined the scans on cents (a 5-way sort-merge
    // join + a 6th join back for the counts): 11 shuffles → 2, and the
    // persist of byVal goes with it (single consumer now)
    val joined = PrefixSum.runningTotals(byVal, "cents", pri)
    val j2col = (for {
      i <- 1 to 5; j <- (i + 1) to 5
    } yield expr(s"(CAST(r_g$i - g$i AS DECIMAL(38,0)) * 2 + g$i) * g$j"))
      .reduce(_ + _)
    val agg = joined.agg(
      sum(j2col).as("__j2"),
      pri.map(n => sum(col(n)).as(s"n_$n")): _*)
    agg.select(
      expr("n_g1 + n_g2 + n_g3 + n_g4 + n_g5").as("n_total"),
      col("__j2").cast("long").as("j2"),
      expr("""CAST(sign(CAST(__j2 AS DECIMAL(38,0)) * 2
              - (CAST(n_g1+n_g2+n_g3+n_g4+n_g5 AS DECIMAL(38,0))
                 * (n_g1+n_g2+n_g3+n_g4+n_g5)
                 - (CAST(n_g1 AS DECIMAL(38,0))*n_g1 + CAST(n_g2 AS DECIMAL(38,0))*n_g2
                  + CAST(n_g3 AS DECIMAL(38,0))*n_g3 + CAST(n_g4 AS DECIMAL(38,0))*n_g4
                  + CAST(n_g5 AS DECIMAL(38,0))*n_g5))) AS BIGINT)""")
        .as("trend_sign"),
      expr("""CAST((pow_d * pow_d * 9000000) div
               (2 * (CAST(nt AS DECIMAL(38,0)) * nt * (2 * nt + 3) - bsum))
               AS BIGINT)""".replace("pow_d",
        """(CAST(__j2 AS DECIMAL(38,0)) * 2
          | - (CAST(nt AS DECIMAL(38,0)) * nt
          |    - (CAST(n_g1 AS DECIMAL(38,0))*n_g1 + CAST(n_g2 AS DECIMAL(38,0))*n_g2
          |     + CAST(n_g3 AS DECIMAL(38,0))*n_g3 + CAST(n_g4 AS DECIMAL(38,0))*n_g4
          |     + CAST(n_g5 AS DECIMAL(38,0))*n_g5)))""".stripMargin)
        .replace("nt", "(n_g1+n_g2+n_g3+n_g4+n_g5)")
        .replace("bsum",
          """(CAST(n_g1 AS DECIMAL(38,0))*n_g1*(2*n_g1+3)
            |+ CAST(n_g2 AS DECIMAL(38,0))*n_g2*(2*n_g2+3)
            |+ CAST(n_g3 AS DECIMAL(38,0))*n_g3*(2*n_g3+3)
            |+ CAST(n_g4 AS DECIMAL(38,0))*n_g4*(2*n_g4+3)
            |+ CAST(n_g5 AS DECIMAL(38,0))*n_g5*(2*n_g5+3))""".stripMargin))
        .as("z2_micro"))
  }

  private val jonckheereSql = {
    val j2terms = (for {
      i <- 1 to 5; j <- (i + 1) to 5
    } yield s"(CAST(r_g$i - g$i AS HUGEINT) * 2 + g$i) * g$j").mkString(" + ")
    val nt = "(n_g1+n_g2+n_g3+n_g4+n_g5)"
    val asum = (1 to 5).map(i => s"CAST(n_g$i AS HUGEINT)*n_g$i").mkString(" + ")
    val bsum = (1 to 5)
      .map(i => s"CAST(n_g$i AS HUGEINT)*n_g$i*(2*n_g$i+3)").mkString(" + ")
    val dev = s"(CAST(j2 AS HUGEINT) * 2 - (CAST($nt AS HUGEINT) * $nt - ($asum)))"
    s"""WITH o AS (
       |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
       |    AS cents,
       |    CAST(substr(o_orderpriority, 1, 1) AS INT) AS g
       |  FROM orders),
       |v AS (
       |  SELECT cents,
       |    ${(1 to 5).map(i =>
            s"sum(CASE WHEN g = $i THEN 1 ELSE 0 END) AS g$i")
            .mkString(",\n    ")}
       |  FROM o GROUP BY 1),
       |r AS (
       |  SELECT cents, ${(1 to 5).map(i => s"g$i").mkString(", ")},
       |    ${(1 to 5).map(i =>
            s"sum(g$i) OVER (ORDER BY cents ROWS BETWEEN UNBOUNDED " +
              s"PRECEDING AND CURRENT ROW) AS r_g$i").mkString(",\n    ")}
       |  FROM v),
       |a AS (
       |  SELECT sum($j2terms) AS j2,
       |    ${(1 to 5).map(i => s"sum(g$i) AS n_g$i").mkString(", ")}
       |  FROM r)
       |SELECT CAST($nt AS BIGINT) AS n_total, CAST(j2 AS BIGINT) AS j2,
       |  CAST(sign($dev) AS BIGINT) AS trend_sign,
       |  CAST(($dev * $dev * 9000000)
       |       // (2 * (CAST($nt AS HUGEINT) * $nt * (2 * $nt + 3) - ($bsum)))
       |       AS BIGINT) AS z2_micro
       |FROM a""".stripMargin
  }

  /** #373 split conformal interval — the distribution-free prediction
    * band a model-gated pipeline actually deploys: 2/4 of orders (by
    * the multiplicative hash) fit a per-priority mean predictor, 1/4
    * calibrates the nonconformity quantile q̂ = the ⌈(n+1)·0.9⌉-th
    * smallest |y−ŷ| (EXACT rank selection on the distributed
    * global-rank scan — never a sorted collect), and the held-out 1/4
    * audits the promised ≥90% coverage in ppm. Every number is an
    * integer: ŷ by one floor division per priority (5-row broadcast),
    * the rank index k by ceil-as-integer arithmetic, coverage by one
    * non-negative ppm division. The marginal-coverage guarantee
    * (Vovk; Lei et al., both public) needs NO distributional
    * assumption — which is why the audit column is the operator's
    * point. */
  private def conformalInterval(s: SparkSession, dir: String): DataFrame = {
    val o = parallelize(s, t(s, dir, "orders"))
      .select(col("o_orderkey").as("k"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"),
        substring(col("o_orderpriority"), 1, 1).cast("int").as("g"),
        expr(s"pmod(${multHashExpr("o_orderkey")}, 4)").as("__b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val fit = o.filter(col("__b") < 2).groupBy("g")
      .agg(expr("sum(cents) div count(*)").as("yhat"))
    val cal = o.filter(col("__b") === 2)
      .join(broadcast(fit), Seq("g"))
      .select(col("k"), abs(col("cents") - col("yhat")).as("r"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nCal = cal.count()
    val kIdx = (9 * (nCal + 1) + 9) / 10 // ceil(0.9·(n+1)) as integers
    val qhat = PrefixSum.withGlobalRank(cal, Seq("r", "k"), "__rank")
      .filter(col("__rank") === math.min(kIdx, nCal))
      .select(col("r").as("qhat"))
    val test = o.filter(col("__b") === 3)
      .join(broadcast(fit), Seq("g"))
      .crossJoin(broadcast(qhat))
      .agg(count(lit(1)).as("n_test"),
        sum((abs(col("cents") - col("yhat")) <= col("qhat")).cast("long"))
          .as("__cov"),
        first(col("qhat")).as("qhat_cents"))
    val nTrain = o.filter(col("__b") < 2).count()
    test.select(lit(nTrain).as("n_train"), lit(nCal).as("n_cal"),
      col("n_test"), col("qhat_cents"),
      expr("(__cov * 1000000) div n_test").as("coverage_ppm"))
  }

  private val conformalIntervalSql =
    s"""WITH o AS (
       |  SELECT o_orderkey AS k,
       |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
       |    CAST(substr(o_orderpriority, 1, 1) AS INT) AS g,
       |    ${multHashDuck("o_orderkey")} % 4 AS b
       |  FROM orders),
       |fit AS (
       |  SELECT g, sum(cents) // count(*) AS yhat
       |  FROM o WHERE b < 2 GROUP BY 1),
       |cal AS (
       |  SELECT o.k, abs(o.cents - f.yhat) AS r
       |  FROM o JOIN fit f USING (g) WHERE o.b = 2),
       |nc AS (SELECT count(*) AS n FROM cal),
       |q AS (
       |  SELECT r AS qhat FROM (
       |    SELECT r, row_number() OVER (ORDER BY r, k) AS rn FROM cal), nc
       |  WHERE rn = least((9 * (nc.n + 1) + 9) // 10, nc.n)),
       |tr AS (SELECT count(*) AS n FROM o WHERE b < 2),
       |te AS (
       |  SELECT count(*) AS n_test,
       |    sum(CASE WHEN abs(o.cents - f.yhat) <= q.qhat
       |        THEN 1 ELSE 0 END) AS cov,
       |    any_value(q.qhat) AS qhat_cents
       |  FROM o JOIN fit f USING (g) CROSS JOIN q WHERE o.b = 3)
       |SELECT CAST(tr.n AS BIGINT) AS n_train, CAST(nc.n AS BIGINT) AS n_cal,
       |  CAST(te.n_test AS BIGINT) AS n_test,
       |  CAST(te.qhat_cents AS BIGINT) AS qhat_cents,
       |  CAST((te.cov * 1000000) // te.n_test AS BIGINT) AS coverage_ppm
       |FROM te, nc, tr""".stripMargin

  /** #376 OLS influence diagnostics — leverage and a Cook's-distance
    * proxy for the daily-revenue-on-day regression: WHICH days bend
    * the trend line? All moments fold exactly (DECIMAL(38) — Σx·y
    * exceeds BIGINT at 100-TB revenue scale); the slope/intercept
    * quantize by the sign-split ppm divisions (#135's fit discipline),
    * then per-day: leverage hᵢ = [Dₓ + (n·xᵢ−Σx)²]/(n·Dₓ) as ONE
    * positive ppm division (exact — the two common-denominator
    * rationals share n·Dₓ), residual in milli-cents by one sign-split
    * division, and the influence score e²·h/(1−h) as a chain of
    * positive integral divisions. Everything past the daily groupBy is
    * the O(days) compressed frame; top-5 via TakeOrderedAndProject. */
  private def cooksResiduals(s: SparkSession, dir: String): DataFrame = {
    val daily = parallelize(s, t(s, dir, "orders"))
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
        .as("y"))
    val d0 = daily.agg(min("day").as("__d0"))
    val xy = daily.crossJoin(broadcast(d0))
      .select(col("day"),
        expr("CAST(datediff(day, __d0) AS LONG)").as("x"),
        col("y").cast("decimal(38,0)").as("y"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val m = xy.agg(count(lit(1)).as("n"), sum("x").as("sx"),
      sum(col("x") * col("x")).as("sxx"), sum("y").as("sy"),
      sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"))
    xy.crossJoin(broadcast(m))
      .withColumn("__dx", expr("CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx"))
      .withColumn("b_ppm", expr(sdivPpm(
        "CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy",
        "__dx", duck = false)))
      .withColumn("a_ppm", expr(sdivPpm(
        "CAST(sy AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sxy",
        "__dx", duck = false)))
      .withColumn("h_ppm", expr(
        """((__dx + (CAST(n AS DECIMAL(38,0)) * x - sx)
           | * (CAST(n AS DECIMAL(38,0)) * x - sx)) * 1000000)
           | div (CAST(n AS DECIMAL(38,0)) * __dx)""".stripMargin
          .replace("\n", " ")))
      .withColumn("resid_milli", expr(
        "CAST(y AS DECIMAL(38,0)) * 1000 - " + sdivDuckOrSpark(
          "CAST(b_ppm AS DECIMAL(38,0)) * x * 1000 + CAST(a_ppm AS DECIMAL(38,0)) * 1000",
          "1000000", duck = false)))
      // residual back to cents for the dimensionless Cook's chain —
      // e²·anything in raw milli overflows any fixed width at 100 TB;
      // normalizing by SSE keeps every quotient O(n·outlier²/s²)
      .withColumn("__ec", expr(sdivDuckOrSpark(
        "CAST(resid_milli AS DECIMAL(38,0))", "1000", duck = false)))
      .withColumn("n_days", col("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** #376 continued: Cook's D = e²h / (2·s²·(1−h)²) in milli units via
    * a chain of bounded non-negative integral divisions — the (n−2)
    * factor folds into the SSE division so no intermediate (like s²
    * itself) ever needs to fit a long at 100-TB revenue scale. */
  private def cooksDistance(s: SparkSession, dir: String): DataFrame = {
    val r = cooksResiduals(s, dir)
    val sse = r.agg(sum(expr("CAST(__ec AS DECIMAL(38,0)) * __ec")).as("__sse"))
    r.crossJoin(broadcast(sse))
      .withColumn("__t1", expr(
        """(CAST(__ec AS DECIMAL(38,0)) * __ec * 1000 * (n_days - 2))
           | div greatest(__sse, 1)""".stripMargin.replace("\n", " ")))
      .withColumn("__t2",
        expr("(__t1 * h_ppm) div greatest(1000000 - h_ppm, 1)"))
      .withColumn("d_milli",
        expr("(__t2 * 500000) div greatest(1000000 - h_ppm, 1)"))
      .select(col("day"), col("h_ppm").cast("long").as("leverage_ppm"),
        col("resid_milli").cast("long").as("resid_milli"),
        col("d_milli").cast("long").as("d_milli"))
      .orderBy(desc("d_milli"), asc("day")).limit(5)
  }

  private val cooksDistanceSql = {
    def sdiv(num: String, den: String) =
      s"""(CASE WHEN ($num) >= 0 THEN (($num) * 1000000) // ($den)
         | ELSE -((-($num)) * 1000000 // ($den)) END)"""
        .stripMargin.replace("\n", " ")
    def sdivRaw(num: String, den: String) =
      s"""(CASE WHEN ($num) >= 0 THEN ($num) // ($den)
         | ELSE -((-($num)) // ($den)) END)"""
        .stripMargin.replace("\n", " ")
    s"""WITH daily AS (
       |  SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
       |    sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS y
       |  FROM orders GROUP BY 1),
       |d0 AS (SELECT min(day) AS d0 FROM daily),
       |xy AS (
       |  SELECT day,
       |    CAST(date_diff('day', CAST(d0.d0 AS DATE), CAST(day AS DATE))
       |      AS BIGINT) AS x,
       |    CAST(y AS HUGEINT) AS y
       |  FROM daily, d0),
       |m AS (
       |  SELECT count(*) AS n, sum(x) AS sx, sum(x * x) AS sxx,
       |    sum(y) AS sy, sum(CAST(x AS HUGEINT) * y) AS sxy
       |  FROM xy),
       |f AS (
       |  SELECT xy.day, xy.x, xy.y, m.n, m.sx,
       |    CAST(m.n AS HUGEINT) * m.sxx - CAST(m.sx AS HUGEINT) * m.sx AS dx,
       |    ${sdiv("CAST(m.n AS HUGEINT) * m.sxy - CAST(m.sx AS HUGEINT) * m.sy",
              "CAST(m.n AS HUGEINT) * m.sxx - CAST(m.sx AS HUGEINT) * m.sx")}
       |      AS b_ppm,
       |    ${sdiv("CAST(m.sy AS HUGEINT) * m.sxx - CAST(m.sx AS HUGEINT) * m.sxy",
              "CAST(m.n AS HUGEINT) * m.sxx - CAST(m.sx AS HUGEINT) * m.sx")}
       |      AS a_ppm
       |  FROM xy, m),
       |g AS (
       |  SELECT day, n,
       |    ((dx + (CAST(n AS HUGEINT) * x - sx) * (CAST(n AS HUGEINT) * x - sx))
       |     * 1000000) // (CAST(n AS HUGEINT) * dx) AS h_ppm,
       |    CAST(y AS HUGEINT) * 1000 -
       |      ${sdivRaw("CAST(b_ppm AS HUGEINT) * x * 1000 + CAST(a_ppm AS HUGEINT) * 1000",
                "1000000")} AS resid_milli
       |  FROM f),
       |h AS (
       |  SELECT *, ${sdivRaw("resid_milli", "1000")} AS ec FROM g),
       |sse AS (SELECT sum(CAST(ec AS HUGEINT) * ec) AS sse FROM h),
       |d AS (
       |  SELECT day, h_ppm, resid_milli,
       |    ((((CAST(ec AS HUGEINT) * ec * 1000 * (n - 2))
       |        // greatest(sse.sse, 1)) * h_ppm)
       |     // greatest(1000000 - h_ppm, 1) * 500000)
       |     // greatest(1000000 - h_ppm, 1) AS d_milli
       |  FROM h, sse)
       |SELECT day, CAST(h_ppm AS BIGINT) AS leverage_ppm,
       |  CAST(resid_milli AS BIGINT) AS resid_milli,
       |  CAST(d_milli AS BIGINT) AS d_milli
       |FROM d
       |ORDER BY d_milli DESC, day ASC LIMIT 5""".stripMargin
  }

  /** #377 isotonic calibration — the monotone regression that turns
    * #225's reliability diagram into a deployable calibrator. PAVA's
    * sequential pooling is hostile to both engines, so the operator
    * evaluates the EQUIVALENT minimax characterization ŷᵢ =
    * max_{k≤i} min_{j≥i} avg(pos[k..j]) (Barlow et al., public) on the
    * QUANTIZED per-range rates: avg_ppm(k,j) = (pos·1e6) div n is an
    * integer, so the max-min runs over integers and replays exactly
    * (the quantized-minimax variant, documented — no rational
    * comparisons, no iteration order). All O(B³)=1000 range triples
    * live on the post-aggregate O(bins) frame; the raw table sees one
    * binning groupBy. Spec asserts the output is monotone and pools
    * the fixture's actual violators. */
  private def isotonic(s: SparkSession, dir: String): DataFrame = {
    val o = parallelize(s, t(s, dir, "orders"))
      .select(
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
          .as("__c"),
        (col("o_orderstatus") === "F").cast("long").as("__y"))
    val mx = o.agg(max("__c").as("__mx"))
    val bins = o.crossJoin(broadcast(mx))
      .select(expr("least((__c * 10) div (__mx + 1), 9)").as("bin"),
        col("__y"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum("__y").as("pos"))
    // O(bins) frame from here: windows/joins over ≤10 rows
    val w = Window.orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pre = bins
      .withColumn("cn", sum("n").over(w))
      .withColumn("cp", sum("pos").over(w))
    val ranges = pre.as("a").crossJoin(broadcast(pre.as("b")))
      .filter(col("a.bin") <= col("b.bin"))
      .select(col("a.bin").as("k"), col("b.bin").as("j"),
        expr("""((b.cp - a.cp + a.pos) * 1000000)
                div (b.cn - a.cn + a.n)""").as("avg_ppm"))
    val minj = ranges.as("r")
      .join(bins.select(col("bin").as("i")),
        col("r.k") <= col("i") && col("r.j") >= col("i"))
      .groupBy(col("i"), col("r.k"))
      .agg(min("avg_ppm").as("mn"))
    val iso = minj.groupBy("i").agg(max("mn").as("iso_ppm"))
    bins.join(iso, col("bin") === col("i"))
      .select(col("bin").cast("long").as("bin"), col("n"), col("pos"),
        expr("(pos * 1000000) div n").as("raw_ppm"), col("iso_ppm"))
  }

  private val isotonicSql =
    """WITH o AS (
      |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS c,
      |    CAST(o_orderstatus = 'F' AS BIGINT) AS y
      |  FROM orders),
      |mx AS (SELECT max(c) AS mx FROM o),
      |bins AS (
      |  SELECT least((c * 10) // (mx + 1), 9) AS bin,
      |    count(*) AS n, sum(y) AS pos
      |  FROM o, mx GROUP BY 1),
      |pre AS (
      |  SELECT bin, n, pos,
      |    sum(n) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
      |                 AND CURRENT ROW) AS cn,
      |    sum(pos) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
      |                   AND CURRENT ROW) AS cp
      |  FROM bins),
      |ranges AS (
      |  SELECT a.bin AS k, b.bin AS j,
      |    ((b.cp - a.cp + a.pos) * 1000000) // (b.cn - a.cn + a.n) AS avg_ppm
      |  FROM pre a JOIN pre b ON a.bin <= b.bin),
      |minj AS (
      |  SELECT i.bin AS i, r.k, min(r.avg_ppm) AS mn
      |  FROM ranges r JOIN bins i ON r.k <= i.bin AND r.j >= i.bin
      |  GROUP BY 1, 2),
      |iso AS (SELECT i, max(mn) AS iso_ppm FROM minj GROUP BY 1)
      |SELECT CAST(b.bin AS BIGINT) AS bin, CAST(b.n AS BIGINT) AS n,
      |  CAST(b.pos AS BIGINT) AS pos,
      |  CAST((b.pos * 1000000) // b.n AS BIGINT) AS raw_ppm,
      |  CAST(iso.iso_ppm AS BIGINT) AS iso_ppm
      |FROM bins b JOIN iso ON iso.i = b.bin""".stripMargin

  /** #383 quantile treatment effects — the DISTRIBUTIONAL complement
    * to #337's stratified ATE: how does urgent-vs-low priority shift
    * the order-price distribution at each quantile, not just its mean?
    * Exact discrete quantiles (value at rank ⌈p·n⌉, the documented
    * lower-quantile convention — no interpolation FP) selected from
    * one distributed global-rank scan PER GROUP; the five probe ranks
    * are computed from the group counts by integer ceil and picked by
    * an O(1) filter on the scanned frame. QTE = treated − control in
    * exact cents. */
  private def qte(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = parallelize(s, t(s, dir, "orders"))
      .select(col("o_orderkey").as("k"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"),
        substring(col("o_orderpriority"), 1, 1).cast("int").as("g"))
      .filter(col("g").isin(1, 5))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ps = Seq(10, 25, 50, 75, 90)
    def quantiles(g: Int): DataFrame = {
      val grp = o.filter(col("g") === g)
      val n = grp.count()
      val ranks = ps.map(p => (p, (p * n + 99) / 100)) // ceil(p·n/100)
      PrefixSum.withGlobalRank(grp.select("cents", "k"), Seq("cents", "k"), "__r")
        .join(broadcast(ranks.toDF("p", "__rk")), col("__r") === col("__rk"))
        .select(col("p"), col("cents"))
    }
    quantiles(1).withColumnRenamed("cents", "q_treat_cents")
      .join(quantiles(5).withColumnRenamed("cents", "q_ctrl_cents"), Seq("p"))
      .select(col("p").cast("long").as("p"), col("q_treat_cents"),
        col("q_ctrl_cents"),
        (col("q_treat_cents") - col("q_ctrl_cents")).as("qte_cents"))
  }

  private val qteSql =
    """WITH o AS (
      |  SELECT o_orderkey AS k,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
      |    CAST(substr(o_orderpriority, 1, 1) AS INT) AS g
      |  FROM orders
      |  WHERE CAST(substr(o_orderpriority, 1, 1) AS INT) IN (1, 5)),
      |p(p) AS (VALUES (10), (25), (50), (75), (90)),
      |r AS (
      |  SELECT g, cents, row_number() OVER (PARTITION BY g ORDER BY cents, k)
      |    AS rk, count(*) OVER (PARTITION BY g) AS n
      |  FROM o),
      |q AS (
      |  SELECT p.p, r.g, r.cents
      |  FROM r JOIN p ON r.rk = (p.p * r.n + 99) // 100)
      |SELECT CAST(p AS BIGINT) AS p,
      |  CAST(t.cents AS BIGINT) AS q_treat_cents,
      |  CAST(c.cents AS BIGINT) AS q_ctrl_cents,
      |  CAST(t.cents - c.cents AS BIGINT) AS qte_cents
      |FROM (SELECT p, cents FROM q WHERE g = 1) t
      |JOIN (SELECT p, cents FROM q WHERE g = 5) c USING (p)""".stripMargin

  /** #385 IPW ATE — inverse-propensity-weighted average treatment
    * effect (Horvitz–Thompson reweighting, the causal sibling of #263):
    * treatment = urgent priority, outcome = order cents, propensity
    * estimated per market-segment stratum as an exact ppm share. The
    * estimator folds per STRATUM first (one grouped agg), so the
    * 1/e(s) and 1/(1−e(s)) weights are one integral division per
    * stratum — never per row — and the stratum totals stage through
    * DECIMAL(38). Degenerate strata (e = 0 or 1) drop on both engines
    * via the nullif guard. Contrast with #337 (stratified ATE): same
    * identification, different estimator — IPW reweights, #337
    * post-stratifies. */
  private def ipwAte(s: SparkSession, dir: String): DataFrame = {
    val o = parallelize(s, t(s, dir, "orders"))
      .join(broadcast(t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment").as("seg"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("seg"),
        (substring(col("o_orderpriority"), 1, 1) === "1").cast("long").as("tr"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("y"))
    val strata = o.groupBy("seg").agg(
        count(lit(1)).as("n"), sum("tr").as("nt"),
        sum(when(col("tr") === 1, col("y")).otherwise(0L))
          .cast("decimal(38,0)").as("yt"),
        sum(when(col("tr") === 0, col("y")).otherwise(0L))
          .cast("decimal(38,0)").as("yc"))
      .withColumn("e_ppm", expr("(nt * 1000000) div n"))
      .filter(col("e_ppm") > 0 && col("e_ppm") < 1000000)
    strata.agg(
        sum("n").as("n_total"), count(lit(1)).as("n_strata"),
        sum(expr("(yt * 1000000) div e_ppm")).as("__s1"),
        sum(expr("(yc * 1000000) div (1000000 - e_ppm)")).as("__s0"))
      .select(col("n_total"), col("n_strata"),
        expr("CAST(__s1 div n_total AS BIGINT)").as("mu1_cents"),
        expr("CAST(__s0 div n_total AS BIGINT)").as("mu0_cents"),
        expr("CAST(__s1 div n_total - __s0 div n_total AS BIGINT)")
          .as("ate_cents"))
  }

  private val ipwAteSql =
    """WITH o AS (
      |  SELECT c.c_mktsegment AS seg,
      |    CAST(substr(o.o_orderpriority, 1, 1) = '1' AS BIGINT) AS tr,
      |    CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
      |st AS (
      |  SELECT seg, count(*) AS n, sum(tr) AS nt,
      |    sum(CASE WHEN tr = 1 THEN CAST(y AS HUGEINT) ELSE 0 END) AS yt,
      |    sum(CASE WHEN tr = 0 THEN CAST(y AS HUGEINT) ELSE 0 END) AS yc,
      |    (sum(tr) * 1000000) // count(*) AS e_ppm
      |  FROM o GROUP BY 1),
      |f AS (SELECT * FROM st WHERE e_ppm > 0 AND e_ppm < 1000000),
      |a AS (
      |  SELECT sum(n) AS n_total, count(*) AS n_strata,
      |    sum((yt * 1000000) // e_ppm) AS s1,
      |    sum((yc * 1000000) // (1000000 - e_ppm)) AS s0
      |  FROM f)
      |SELECT CAST(n_total AS BIGINT) AS n_total,
      |  CAST(n_strata AS BIGINT) AS n_strata,
      |  CAST(s1 // n_total AS BIGINT) AS mu1_cents,
      |  CAST(s0 // n_total AS BIGINT) AS mu0_cents,
      |  CAST(s1 // n_total - s0 // n_total AS BIGINT) AS ate_cents
      |FROM a""".stripMargin

  /** #386 caliper matching ATT — 1-nearest-neighbor matching on the
    * pre-treatment covariate (customer account balance, cents) within
    * a $100 caliper, as a LINEAR sort-merge: the first cut (caliper-
    * width buckets, adjacent-bucket pair join) generated billions of
    * candidate pairs at sf1 — dense covariates make bucket joins
    * quadratic — so nearest-below/nearest-above come from TWO
    * `PrefixSum.runningMaxExclusive` scans over the treated∪controls
    * union instead (controls strictly before treated at equal balance
    * via the 2·bal+isTreated order key; treated rows carry a MinValue
    * sentinel so equal-key ordering can't leak into the carry — the
    * documented duplicate-key-safe configuration). Each treated order
    * then takes the closer side (tie → below), requires Δ ≤ caliper,
    * and joins the per-balance REPRESENTATIVE control (min key —
    * matching with replacement, documented) for its outcome. ATT in
    * exact cents via one sign-split division. */
  private def caliperMatch(s: SparkSession, dir: String): DataFrame = {
    val cal = 10000L // caliper: $100.00 of account balance, in cents
    val o = parallelize(s, t(s, dir, "orders"))
      .join(broadcast(t(s, dir, "customer")
        .select(col("c_custkey"),
          (col("c_acctbal").cast("decimal(18,2)") * 100).cast("long")
            .as("bal"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey").as("k"), col("bal"),
        (substring(col("o_orderpriority"), 1, 1) === "1").as("tr"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("y"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sentinel = Long.MinValue
    val u = o.select(col("k"), col("bal"), col("y"),
      expr("bal * 2 + CAST(tr AS LONG)").as("__ord"),
      when(col("tr"), lit(sentinel)).otherwise(col("bal")).as("__vb"),
      expr(s"-(bal * 2) - (1 - CAST(tr AS LONG))").as("__ord2"),
      when(col("tr"), lit(sentinel)).otherwise(-col("bal")).as("__va"),
      col("tr"))
    val below = PrefixSum.runningMaxExclusive(
      u.select("k", "bal", "y", "tr", "__ord", "__vb"), "__ord", "__vb", "below")
      .filter(col("tr")).select(col("k"), col("bal"), col("y"), col("below"))
    val above = PrefixSum.runningMaxExclusive(
      u.select("k", "__ord2", "__va"), "__ord2", "__va", "__na")
      .filter(expr("__va = " + sentinel))
      // -MinValue overflows under ANSI: null out the sentinel FIRST
      .select(col("k"), expr(
        s"CASE WHEN __na IS NULL OR __na = $sentinel THEN NULL" +
          " ELSE -__na END").as("above"))
    val matched = below.join(above, Seq("k"))
      .withColumn("__db", expr(
        s"CASE WHEN below IS NULL OR below = $sentinel THEN NULL ELSE bal - below END"))
      .withColumn("__da", expr(
        "CASE WHEN above IS NULL THEN NULL ELSE above - bal END"))
      .withColumn("__mbal", expr(
        s"""CASE
           | WHEN __db IS NOT NULL AND __db <= $cal
           |  AND (__da IS NULL OR __db <= __da) THEN below
           | WHEN __da IS NOT NULL AND __da <= $cal THEN above
           | ELSE NULL END""".stripMargin.replace("\n", " ")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val reps = o.filter(!col("tr"))
      .groupBy(col("bal").as("__mbal"))
      .agg(min(struct(col("k").as("ck"), col("y").as("cy"))).as("__r"))
    val att = matched.filter(col("__mbal").isNotNull)
      .join(reps, Seq("__mbal"))
      .agg(count(lit(1)).as("n_matched"),
        sum((col("y") - col("__r.cy")).cast("decimal(38,0)")).as("__td"))
    att.crossJoin(broadcast(o.filter(col("tr"))
        .agg(count(lit(1)).as("n_treated"))))
      .select(col("n_treated"), col("n_matched"),
        expr(sdivDuckOrSpark("__td", "n_matched", duck = false))
          .cast("long").as("att_cents"))
  }

  private val caliperMatchSql = {
    val cal = 10000L
    s"""WITH o AS (
       |  SELECT o.o_orderkey AS k,
       |    CAST(CAST(c.c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS bal,
       |    substr(o.o_orderpriority, 1, 1) = '1' AS tr,
       |    CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
       |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
       |u AS (
       |  SELECT k, bal, y, tr,
       |    max(CASE WHEN NOT tr THEN bal END) OVER (
       |      ORDER BY bal * 2 + CAST(tr AS BIGINT)
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS below,
       |    min(CASE WHEN NOT tr THEN bal END) OVER (
       |      ORDER BY bal * 2 + CAST(tr AS BIGINT) DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS above
       |  FROM o),
       |m AS (
       |  SELECT k, bal, y,
       |    CASE
       |      WHEN below IS NOT NULL AND bal - below <= $cal
       |       AND (above IS NULL OR bal - below <= above - bal) THEN below
       |      WHEN above IS NOT NULL AND above - bal <= $cal THEN above
       |      ELSE NULL END AS mbal
       |  FROM u WHERE tr),
       |reps AS (
       |  SELECT bal AS mbal,
       |    min(struct_pack(ck := k, cy := y)) AS r
       |  FROM o WHERE NOT tr GROUP BY 1),
       |a AS (
       |  SELECT count(*) AS n_matched,
       |    sum(CAST(m.y AS HUGEINT) - reps.r.cy) AS td
       |  FROM m JOIN reps USING (mbal)
       |  WHERE m.mbal IS NOT NULL),
       |tn AS (SELECT count(*) AS n_treated FROM o WHERE tr)
       |SELECT CAST(tn.n_treated AS BIGINT) AS n_treated,
       |  CAST(a.n_matched AS BIGINT) AS n_matched,
       |  CAST(CASE WHEN a.td >= 0 THEN a.td // a.n_matched
       |       ELSE -((-a.td) // a.n_matched) END AS BIGINT) AS att_cents
       |FROM a, tn""".stripMargin
  }

  /** #387 fixed-effects (within) estimator — the panel-data slope of
    * daily revenue on time with NATION fixed effects, on the BALANCED
    * dense nation×day grid (zero-filled — balance makes every group's
    * demeaning denominator identical, so the pooled within estimator
    * is ONE exact rational: β = Σ_g(D·Σxy_g − Sx·Sy_g) /
    * Σ_g(D·Σxx_g − Sx²), one sign-split ppm division — no per-group
    * fractions, nothing iterative). The naive pooled-OLS slope is
    * emitted alongside: the β_fe vs β_ols gap IS the between-nation
    * confounding the operator exists to remove. Grid build is one
    * grouped agg + one broadcast cross of O(nations×days). */
  private def fixedEffects(s: SparkSession, dir: String): DataFrame = {
    val rev = parallelize(s, t(s, dir, "orders"))
      .join(broadcast(t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey").as("g"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("g"), date_format(col("o_orderdate"), "yyyy-MM-dd").as("d"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
        .as("y"))
    val days = rev.select("d").distinct()
    val d0 = days.agg(min("d").as("__d0"))
    val dayIdx = days.crossJoin(broadcast(d0))
      .select(col("d"), expr("CAST(datediff(d, __d0) AS LONG)").as("x"))
    // explicit broadcast: the calendar side is O(days) bounded — without
    // the hint a stats-boundary flip planned this as CartesianProduct
    // (caught by the r11 EXPLAINS refresh)
    val grid = rev.select("g").distinct().crossJoin(broadcast(dayIdx))
    val cells = grid.join(rev, Seq("g", "d"), "left")
      .select(col("g"), col("x"),
        coalesce(col("y"), lit(0L)).cast("decimal(38,0)").as("y"))
    val per = cells.groupBy("g").agg(
      count(lit(1)).as("nd"), sum("x").as("sx"),
      sum(expr("x * x")).as("sxx"), sum("y").as("sy"),
      sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"))
    val agg = per.agg(
      count(lit(1)).as("n_groups"), first("nd").as("n_days"),
      sum(expr("CAST(nd AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy"))
        .as("__num"),
      sum(expr("CAST(nd AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx"))
        .as("__den"),
      // pooled (no-FE) moments for the contrast column
      sum("nd").as("__n"), sum("sx").as("__sx"), sum("sxx").as("__sxx"),
      sum("sy").as("__sy"), sum("sxy").as("__sxy"))
    agg.select(col("n_groups"), col("n_days"),
      expr(sdivPpm("__num", "__den", duck = false)).cast("long")
        .as("beta_fe_ppm"),
      expr(sdivPpm(
        "CAST(__n AS DECIMAL(38,0)) * __sxy - CAST(__sx AS DECIMAL(38,0)) * __sy",
        "CAST(__n AS DECIMAL(38,0)) * __sxx - CAST(__sx AS DECIMAL(38,0)) * __sx",
        duck = false)).cast("long").as("beta_ols_ppm"))
  }

  private val fixedEffectsSql = {
    def sdiv(num: String, den: String) =
      s"""CASE WHEN ($num) >= 0 THEN (($num) * 1000000) // ($den)
         | ELSE -((-($num)) * 1000000 // ($den)) END"""
        .stripMargin.replace("\n", " ")
    s"""WITH rev AS (
       |  SELECT c.c_nationkey AS g,
       |    strftime(o.o_orderdate, '%Y-%m-%d') AS d,
       |    sum(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
       |      AS y
       |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
       |  GROUP BY 1, 2),
       |d0 AS (SELECT min(d) AS d0 FROM (SELECT DISTINCT d FROM rev)),
       |di AS (
       |  SELECT d, CAST(date_diff('day', CAST(d0.d0 AS DATE), CAST(d AS DATE))
       |    AS BIGINT) AS x
       |  FROM (SELECT DISTINCT d FROM rev), d0),
       |grid AS (
       |  SELECT g.g, di.d, di.x
       |  FROM (SELECT DISTINCT g FROM rev) g, di),
       |cells AS (
       |  SELECT grid.g, grid.x, CAST(coalesce(rev.y, 0) AS HUGEINT) AS y
       |  FROM grid LEFT JOIN rev ON rev.g = grid.g AND rev.d = grid.d),
       |per AS (
       |  SELECT g, count(*) AS nd, sum(x) AS sx, sum(x * x) AS sxx,
       |    sum(y) AS sy, sum(CAST(x AS HUGEINT) * y) AS sxy
       |  FROM cells GROUP BY 1),
       |a AS (
       |  SELECT count(*) AS n_groups, any_value(nd) AS n_days,
       |    sum(CAST(nd AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy) AS num,
       |    sum(CAST(nd AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx) AS den,
       |    sum(nd) AS n, sum(sx) AS tsx, sum(sxx) AS tsxx,
       |    sum(sy) AS tsy, sum(sxy) AS tsxy
       |  FROM per)
       |SELECT CAST(n_groups AS BIGINT) AS n_groups,
       |  CAST(n_days AS BIGINT) AS n_days,
       |  CAST(${sdiv("num", "den")} AS BIGINT) AS beta_fe_ppm,
       |  CAST(${sdiv("CAST(n AS HUGEINT) * tsxy - CAST(tsx AS HUGEINT) * tsy",
              "CAST(n AS HUGEINT) * tsxx - CAST(tsx AS HUGEINT) * tsx")}
       |    AS BIGINT) AS beta_ols_ppm
       |FROM a""".stripMargin
  }

  /** #390 Chow structural-break test — did the revenue trend CHANGE at
    * the series midpoint? Two segment fits + one pooled fit on the
    * quantized-coefficient discipline of #376 (ppm slopes by
    * sign-split division, residuals in milli-cents, SSE as exact
    * integer sums of cents² — identical arithmetic both engines), then
    * F = [(SSEp − SSE1 − SSE2)/k] / [(SSE1+SSE2)/(n−2k)] as one chain
    * of non-negative integral divisions (the quantized SSEp −
    * ΣSSE_seg is clamped at 0: exact-OLS dominance only holds up to
    * quantization). Everything past the daily groupBy is the O(days)
    * frame. */
  private def chowTest(s: SparkSession, dir: String): DataFrame = {
    val daily = parallelize(s, t(s, dir, "orders"))
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
        .as("y"))
    val d0 = daily.agg(min("day").as("__d0"), max("day").as("__d1"))
    val xy = daily.crossJoin(broadcast(d0))
      .select(expr("CAST(datediff(day, __d0) AS LONG)").as("x"),
        col("y").cast("decimal(38,0)").as("y"),
        expr("CAST(datediff(__d1, __d0) AS LONG) div 2").as("__mid"))
      .withColumn("seg", (col("x") <= col("__mid")).cast("int"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def sse(df: DataFrame, groupCols: Seq[String]): DataFrame = {
      val m = if (groupCols.isEmpty) df.groupBy(lit(1).as("__g")) else df.groupBy(groupCols.map(col): _*)
      val mo = m.agg(count(lit(1)).as("n"), sum("x").as("sx"),
        sum(expr("x * x")).as("sxx"), sum("y").as("sy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"))
      val joined = if (groupCols.isEmpty) df.crossJoin(broadcast(mo))
        else df.join(broadcast(mo), groupCols)
      joined
        .withColumn("__dx", expr(
          "CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx"))
        .withColumn("__b", expr(sdivPpm(
          "CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy",
          "greatest(__dx, 1)", duck = false)))
        .withColumn("__a", expr(sdivPpm(
          "CAST(sy AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sxy",
          "greatest(__dx, 1)", duck = false)))
        .withColumn("__ec", expr(sdivDuckOrSpark(
          "CAST(y AS DECIMAL(38,0)) * 1000 - " + sdivDuckOrSpark(
            "CAST(__b AS DECIMAL(38,0)) * x * 1000 + CAST(__a AS DECIMAL(38,0)) * 1000",
            "1000000", duck = false), "1000", duck = false)))
        .agg(sum(expr("CAST(__ec AS DECIMAL(38,0)) * __ec")).as("sse"),
          sum(lit(1L)).as("nn"))
    }
    val pooled = sse(xy, Nil).select(col("sse").as("ssep"), col("nn").as("n"))
    val segs = sse(xy, Seq("seg")).select(col("sse").as("sses"))
      .agg(sum("sses").as("sse12"))
    // raw SSE (cents²) outgrows BIGINT past sf1 — report per-day MSE
    pooled.crossJoin(broadcast(segs))
      .select(col("n").as("n_days"),
        expr("CAST(ssep div n AS BIGINT)").as("mse_pooled_c2"),
        expr("CAST(sse12 div n AS BIGINT)").as("mse_segments_c2"),
        expr("""CAST((greatest(ssep - sse12, 0) * (n - 4) * 1000)
                div (greatest(sse12, 1) * 2) AS BIGINT)""").as("f_milli"))
  }

  private val chowTestSql = {
    def sdiv(num: String, den: String) =
      s"""(CASE WHEN ($num) >= 0 THEN (($num) * 1000000) // ($den)
         | ELSE -((-($num)) * 1000000 // ($den)) END)"""
        .stripMargin.replace("\n", " ")
    def sdivRaw(num: String, den: String) =
      s"""(CASE WHEN ($num) >= 0 THEN ($num) // ($den)
         | ELSE -((-($num)) // ($den)) END)"""
        .stripMargin.replace("\n", " ")
    def fitCtes(tag: String, src: String, grp: String) =
      s"""mo$tag AS (
         |  SELECT $grp count(*) AS n, sum(x) AS sx, sum(x * x) AS sxx,
         |    sum(y) AS sy, sum(CAST(x AS HUGEINT) * y) AS sxy
         |  FROM $src ${if (grp.nonEmpty) "GROUP BY seg" else ""}),
         |f$tag AS (
         |  SELECT t.x, t.y, m.n,
         |    ${sdiv("CAST(m.n AS HUGEINT) * m.sxy - CAST(m.sx AS HUGEINT) * m.sy",
              "greatest(CAST(m.n AS HUGEINT) * m.sxx - CAST(m.sx AS HUGEINT) * m.sx, 1)")}
         |      AS b,
         |    ${sdiv("CAST(m.sy AS HUGEINT) * m.sxx - CAST(m.sx AS HUGEINT) * m.sxy",
              "greatest(CAST(m.n AS HUGEINT) * m.sxx - CAST(m.sx AS HUGEINT) * m.sx, 1)")}
         |      AS a
         |  FROM $src t JOIN mo$tag m ${if (grp.nonEmpty) "ON m.seg = t.seg" else "ON 1=1"}),
         |s$tag AS (
         |  SELECT sum(CAST(ec AS HUGEINT) * ec) AS sse, count(*) AS nn FROM (
         |    SELECT ${sdivRaw(
              s"CAST(y AS HUGEINT) * 1000 - ${sdivRaw(
                "CAST(b AS HUGEINT) * x * 1000 + CAST(a AS HUGEINT) * 1000",
                "1000000")}", "1000")} AS ec
         |    FROM f$tag))""".stripMargin
    s"""WITH daily AS (
       |  SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
       |    sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS y
       |  FROM orders GROUP BY 1),
       |d0 AS (SELECT min(day) AS a, max(day) AS b FROM daily),
       |xy AS (
       |  SELECT CAST(date_diff('day', CAST(d0.a AS DATE), CAST(day AS DATE))
       |      AS BIGINT) AS x,
       |    CAST(y AS HUGEINT) AS y,
       |    CAST(date_diff('day', CAST(d0.a AS DATE), CAST(d0.b AS DATE))
       |      AS BIGINT) // 2 AS mid
       |  FROM daily, d0),
       |xs AS (SELECT x, y, CAST(x <= mid AS INT) AS seg FROM xy),
       |${fitCtes("p", "xs", "")},
       |${fitCtes("g", "xs", "seg,")}
       |SELECT CAST(sp.nn AS BIGINT) AS n_days,
       |  CAST(sp.sse // sp.nn AS BIGINT) AS mse_pooled_c2,
       |  CAST(sg.sse // sp.nn AS BIGINT) AS mse_segments_c2,
       |  CAST((greatest(sp.sse - sg.sse, 0) * (sp.nn - 4) * 1000)
       |       // (greatest(sg.sse, 1) * 2) AS BIGINT) AS f_milli
       |FROM sp, sg""".stripMargin
  }

  /** #393 GPD peaks-over-threshold — extreme-value fit for order
    * prices above the exact p95 (the tail-risk companion to #340's
    * Gumbel block-maxima and #202's Hill index): probability-weighted-
    * moment estimators (Hosking & Wallis 1987, public) need only two
    * rank folds over the exceedances — b₀ = mean excess, b₁ =
    * Σ(n−i)·x₍ᵢ₎/(n(n−1)) — both exact-integer on the SAME
    * distributed global-rank scan that selects the threshold; the
    * shape ξ = 2 − b₀/(b₀−2b₁) is one sign-split ppm division on the
    * cleared-denominator forms (scale-free: the n²(n−1) factors
    * cancel). */
  private def gpdPot(s: SparkSession, dir: String): DataFrame = {
    val o = parallelize(s, t(s, dir, "orders"))
      .select(col("o_orderkey").as("k"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nAll = o.count()
    val thrRank = (95L * nAll + 99) / 100
    val ranked = PrefixSum.withGlobalRank(o, Seq("cents", "k"), "__r")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val thr = ranked.filter(col("__r") === thrRank)
      .select(col("cents").as("__thr"))
    // ranks are unique ⇒ the exceedance count is exactly nAll − thrRank
    val nExc = nAll - thrRank
    val exc = ranked.filter(col("__r") > thrRank)
      .crossJoin(broadcast(thr))
      .select((col("cents") - col("__thr")).as("x"),
        (col("__r") - thrRank).as("i"), col("__thr"))
    exc.agg(count(lit(1)).as("n_exceed"),
        first("__thr").as("threshold_cents"),
        sum(col("x").cast("decimal(38,0)")).as("__sx"),
        sum(expr(s"CAST(x AS DECIMAL(38,0)) * ($nExc - i)"))
          .as("__sw"))
      .select(col("n_exceed"), col("threshold_cents"),
        expr("CAST((__sx * 1000000) div n_exceed AS BIGINT)").as("b0_micro"),
        expr("""CAST((__sw * 1000000)
                div (CAST(n_exceed AS DECIMAL(38,0)) * (n_exceed - 1))
                AS BIGINT)""").as("b1_micro"),
        expr(sdivPpm(
          // ξ·1e6 = 2e6 − b0/(b0−2b1) in cleared-denominator form:
          // b0 = sx·(n−1), b0−2b1 = sx·(n−1) − 2·sw  (common n(n−1))
          "2 * (CAST(__sx AS DECIMAL(38,0)) * (n_exceed - 1) - __sw) " +
            "- CAST(__sx AS DECIMAL(38,0)) * (n_exceed - 1)",
          "CAST(__sx AS DECIMAL(38,0)) * (n_exceed - 1) - 2 * __sw",
          duck = false)).cast("long").as("xi_micro"))
  }

  private val gpdPotSql =
    s"""WITH o AS (
       |  SELECT o_orderkey AS k,
       |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
       |  FROM orders),
       |n AS (SELECT count(*) AS n, (95 * count(*) + 99) // 100 AS tr FROM o),
       |r AS (
       |  SELECT cents, row_number() OVER (ORDER BY cents, k) AS rk FROM o),
       |thr AS (SELECT r.cents AS thr FROM r, n WHERE r.rk = n.tr),
       |exc AS (
       |  SELECT r.cents - thr.thr AS x, r.rk - n.tr AS i
       |  FROM r, n, thr WHERE r.rk > n.tr),
       |cnt AS (SELECT count(*) AS ne FROM exc),
       |a AS (
       |  SELECT cnt.ne AS n_exceed, any_value(thr.thr) AS threshold_cents,
       |    sum(CAST(x AS HUGEINT)) AS sx,
       |    sum(CAST(x AS HUGEINT) * (cnt.ne - i)) AS sw
       |  FROM exc, cnt, thr GROUP BY cnt.ne)
       |SELECT CAST(n_exceed AS BIGINT) AS n_exceed,
       |  CAST(threshold_cents AS BIGINT) AS threshold_cents,
       |  CAST((sx * 1000000) // n_exceed AS BIGINT) AS b0_micro,
       |  CAST((sw * 1000000) // (CAST(n_exceed AS HUGEINT) * (n_exceed - 1))
       |    AS BIGINT) AS b1_micro,
       |  CAST(CASE WHEN ((2 * (sx * (n_exceed - 1) - sw)
       |                   - sx * (n_exceed - 1)) >= 0)
       |             = ((sx * (n_exceed - 1) - 2 * sw) >= 0)
       |    THEN (abs(2 * (sx * (n_exceed - 1) - sw) - sx * (n_exceed - 1))
       |          * 1000000) // abs(sx * (n_exceed - 1) - 2 * sw)
       |    ELSE -((abs(2 * (sx * (n_exceed - 1) - sw) - sx * (n_exceed - 1))
       |            * 1000000) // abs(sx * (n_exceed - 1) - 2 * sw)) END
       |    AS BIGINT) AS xi_micro
       |FROM a""".stripMargin

  /** #396 Theil inequality decomposition — revenue concentration
    * across nations split into BETWEEN-nation and WITHIN-nation parts
    * (Theil 1967; #142 Gini measures but cannot decompose — the
    * decomposability is why Theil exists). T = (1/Nμ)[Σx·ln x −
    * ln μ·Σx] evaluated in the ⌊ln·1e6⌋ fixed point on exact integer
    * sums: per-order x·lnq6(x) folds through DECIMAL(38), group means
    * quantize to floor cents, and every division is sign-split. The
    * identity T_total ≈ T_between + T_within holds up to quantization
    * (asserted within tolerance in the spec, never as hash
    * equality). */
  private def theilIndex(s: SparkSession, dir: String): DataFrame = {
    val o = parallelize(s, t(s, dir, "orders"))
      .join(broadcast(t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey").as("g"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("g"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("x"))
    val per = o.groupBy("g").agg(
        count(lit(1)).as("n"), sum(col("x").cast("decimal(38,0)")).as("sx"),
        sum(expr(s"CAST(x AS DECIMAL(38,0)) * ${lnQ6("x")}")).as("sxl"))
      .withColumn("mu", expr("CAST(sx div n AS BIGINT)"))
      .withColumn("tg_micro", expr(sdivDuckOrSpark(
        s"sxl - CAST(${lnQ6("mu")} AS DECIMAL(38,0)) * sx",
        "CAST(n AS DECIMAL(38,0)) * mu", duck = false)))
    val tot = per.agg(
      sum("n").as("nn"), sum("sx").as("tsx"), sum("sxl").as("tsxl"),
      // between: Σ_g S_g·lnq6(μ_g) ; within: Σ_g S_g·T_g (micro-weighted)
      sum(expr(s"sx * ${lnQ6("mu")}")).as("bnum"),
      sum(expr("sx * tg_micro")).as("wnum"))
    tot.withColumn("tmu", expr("CAST(tsx div nn AS BIGINT)"))
      .select(col("nn").as("n_orders"),
        expr(sdivDuckOrSpark(
          s"tsxl - CAST(${lnQ6("tmu")} AS DECIMAL(38,0)) * tsx",
          "CAST(nn AS DECIMAL(38,0)) * tmu", duck = false)).cast("long")
          .as("theil_total_micro"),
        expr(sdivDuckOrSpark(
          s"bnum - CAST(${lnQ6("tmu")} AS DECIMAL(38,0)) * tsx",
          "tsx", duck = false)).cast("long").as("theil_between_micro"),
        expr(sdivDuckOrSpark("wnum", "tsx", duck = false)).cast("long")
          .as("theil_within_micro"))
  }

  private val theilIndexSql = {
    def sdivRaw(num: String, den: String) =
      s"""(CASE WHEN ($num) >= 0 THEN ($num) // ($den)
         | ELSE -((-($num)) // ($den)) END)"""
        .stripMargin.replace("\n", " ")
    s"""WITH o AS (
       |  SELECT c.c_nationkey AS g,
       |    CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
       |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
       |per AS (
       |  SELECT g, count(*) AS n, sum(CAST(x AS HUGEINT)) AS sx,
       |    sum(CAST(x AS HUGEINT) * ${lnQ6("x")}) AS sxl
       |  FROM o GROUP BY 1),
       |pm AS (
       |  SELECT *, CAST(sx // n AS BIGINT) AS mu FROM per),
       |pt AS (
       |  SELECT *, ${sdivRaw(
            s"sxl - CAST(${lnQ6("mu")} AS HUGEINT) * sx",
            "CAST(n AS HUGEINT) * mu")} AS tg_micro
       |  FROM pm),
       |tot AS (
       |  SELECT sum(n) AS nn, sum(sx) AS tsx, sum(sxl) AS tsxl,
       |    sum(sx * ${lnQ6("mu")}) AS bnum,
       |    sum(sx * tg_micro) AS wnum
       |  FROM pt),
       |tm AS (SELECT *, CAST(tsx // nn AS BIGINT) AS tmu FROM tot)
       |SELECT CAST(nn AS BIGINT) AS n_orders,
       |  CAST(${sdivRaw(
            s"tsxl - CAST(${lnQ6("tmu")} AS HUGEINT) * tsx",
            "CAST(nn AS HUGEINT) * tmu")} AS BIGINT) AS theil_total_micro,
       |  CAST(${sdivRaw(
            s"bnum - CAST(${lnQ6("tmu")} AS HUGEINT) * tsx",
            "tsx")} AS BIGINT) AS theil_between_micro,
       |  CAST(${sdivRaw("wnum", "tsx")} AS BIGINT) AS theil_within_micro
       |FROM tm""".stripMargin
  }

  /** #403 James–Stein shrinkage — shrink the per-nation mean order
    * values toward the grand mean with the positive-part JS factor
    * (Efron & Morris 1975, public; the Gaussian-means sibling of #131's
    * Beta-rate shrinkage): c = max(0, 1 − (k−3)·σ̂²/Σ(x̄_g−x̄)²) with
    * σ̂² the pooled within variance of the group means (σ²/n_g
    * approximated at the balanced mean count — documented). All
    * moments fold exactly; group means quantize to floor cents;
    * Σ(x̄_g−x̄)² and the factor are single integral divisions (ppm);
    * the shrunk mean is one more. Two grouped aggregations total. */
  private def jamesStein(s: SparkSession, dir: String): DataFrame = {
    val o = parallelize(s, t(s, dir, "orders"))
      .join(broadcast(t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey").as("g"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("g"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("x"))
    // the factor chain runs in whole DOLLARS: the cents-scale
    // (nΣx²−S²) div n quotient itself outgrows BIGINT at sf0.1 (caught
    // by the sweep); the JS factor is dimensionless, so any consistent
    // unit works — output means stay exact cents
    val per = o.groupBy("g").agg(
        count(lit(1)).as("n"), sum(col("x").cast("decimal(38,0)")).as("sx"),
        sum(expr("CAST(x div 100 AS DECIMAL(38,0))")).as("sxd"),
        sum(expr("CAST(x div 100 AS DECIMAL(38,0)) * (x div 100)")).as("sxxd"))
      .withColumn("mu", expr("CAST(sx div n AS BIGINT)"))
      .withColumn("mud", expr("CAST(sxd div n AS BIGINT)"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tot = per.agg(
      count(lit(1)).as("k"), sum("n").as("nn"), sum("sx").as("tsx"),
      // pooled within-group variance numerator Σ(nΣx²−S²)/n (dollars²)
      sum(expr("(CAST(n AS DECIMAL(38,0)) * sxxd - sxd * sxd) div n")).as("wvar"),
      sum(expr("CAST(mud AS DECIMAL(38,0)) * mud")).as("smu2"),
      sum(col("mud").cast("decimal(38,0)")).as("smu"))
    val f = tot.select(col("k"), col("nn"),
        expr("CAST(tsx div nn AS BIGINT)").as("gmu"),
        // Σ(μ_g − μ̄)² over groups: k·Σμ² − (Σμ)² all integer, div k
        expr("CAST((CAST(k AS DECIMAL(38,0)) * smu2 - smu * smu) div k AS BIGINT)")
          .as("ssb"),
        // σ̂²/n̄ = wvar/(nn−k) · k/nn  (balanced-count approximation)
        expr("""CAST((wvar div (nn - k)) * k div nn AS BIGINT)""")
          .as("s2n"))
      .select(col("k"), col("gmu"),
        expr("""greatest(1000000 - ((k - 3) * s2n * 1000000)
                div greatest(ssb, 1), 0)""").as("c_ppm"))
    per.crossJoin(broadcast(f))
      .select(col("g").cast("long").as("nation"), col("n"), col("mu"),
        col("c_ppm"),
        expr("""CAST(gmu + ((mu - gmu) * c_ppm) div 1000000 AS BIGINT)""")
          .as("shrunk_mu"))
  }

  private val jamesSteinSql =
    """WITH o AS (
      |  SELECT c.c_nationkey AS g,
      |    CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
      |per AS (
      |  SELECT g, count(*) AS n, sum(CAST(x AS HUGEINT)) AS sx,
      |    sum(CAST(x // 100 AS HUGEINT)) AS sxd,
      |    sum(CAST(x // 100 AS HUGEINT) * (x // 100)) AS sxxd
      |  FROM o GROUP BY 1),
      |pm AS (SELECT *, CAST(sx // n AS BIGINT) AS mu,
      |         CAST(sxd // n AS BIGINT) AS mud FROM per),
      |tot AS (
      |  SELECT count(*) AS k, sum(n) AS nn, sum(sx) AS tsx,
      |    sum((CAST(n AS HUGEINT) * sxxd - sxd * sxd) // n) AS wvar,
      |    sum(CAST(mud AS HUGEINT) * mud) AS smu2,
      |    sum(CAST(mud AS HUGEINT)) AS smu
      |  FROM pm),
      |f AS (
      |  SELECT k, CAST(tsx // nn AS BIGINT) AS gmu,
      |    CAST((CAST(k AS HUGEINT) * smu2 - smu * smu) // k AS BIGINT) AS ssb,
      |    CAST((wvar // (nn - k)) * k // nn AS BIGINT) AS s2n
      |  FROM tot),
      |cf AS (
      |  SELECT k, gmu,
      |    greatest(1000000 - ((k - 3) * s2n * 1000000)
      |             // greatest(ssb, 1), 0) AS c_ppm
      |  FROM f)
      |SELECT CAST(pm.g AS BIGINT) AS nation, CAST(pm.n AS BIGINT) AS n,
      |  CAST(pm.mu AS BIGINT) AS mu, CAST(cf.c_ppm AS BIGINT) AS c_ppm,
      |  CAST(cf.gmu + ((pm.mu - cf.gmu) * cf.c_ppm) // 1000000 AS BIGINT)
      |    AS shrunk_mu
      |FROM pm, cf""".stripMargin

  /** #407 Beta-Binomial moment fit — the hierarchical prior #131's
    * rate shrinkage ASSUMES, actually fitted: per-customer fulfilment
    * counts (k successes of n orders) are overdispersed relative to a
    * single Binomial p; the method-of-moments Beta(α, β) estimates
    * α̂ = p̄·(1/ρ̂ − 1), β̂ = (1−p̄)·(1/ρ̂ − 1) come from the exact
    * first two moments of the per-customer rates (ppm-quantized
    * rates, DECIMAL(38) folds, every division integral). Customers
    * with a single order carry no overdispersion signal and drop (the
    * standard ≥2 restriction, applied identically in both engines). */
  private def betaBinomial(s: SparkSession, dir: String): DataFrame = {
    val per = parallelize(s, t(s, dir, "orders"))
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n"),
        sum((col("o_orderstatus") === "F").cast("long")).as("k"))
      .filter(col("n") >= 2)
      .select(col("n"), col("k"), expr("(k * 1000000) div n").as("r_ppm"))
    per.agg(count(lit(1)).as("n_cust"),
        sum(col("r_ppm").cast("decimal(38,0)")).as("__sr"),
        sum(expr("CAST(r_ppm AS DECIMAL(38,0)) * r_ppm")).as("__srr"),
        sum("n").as("__sn"))
      .select(col("n_cust"),
        expr("CAST(__sr div n_cust AS BIGINT)").as("mean_ppm"),
        expr("""CAST((CAST(n_cust AS DECIMAL(38,0)) * __srr - __sr * __sr)
                div (CAST(n_cust AS DECIMAL(38,0)) * n_cust) AS BIGINT)""")
          .as("var_ppm2"))
      .select(col("n_cust"), col("mean_ppm"), col("var_ppm2"),
        // 1/ρ − 1 with ρ = var/(p̄(1−p̄)) — BOTH in ppm² already:
        // m_micro = (p̄(1−p̄) − var)·1e6 div var
        expr("""CAST(((CAST(mean_ppm AS DECIMAL(38,0)) * (1000000 - mean_ppm)
                 - var_ppm2) * 1000000)
                div greatest(CAST(var_ppm2 AS DECIMAL(38,0)), 1)
                AS BIGINT)""").as("__m"))
      .select(col("n_cust"), col("mean_ppm"), col("var_ppm2"),
        expr("CAST((mean_ppm * __m) div 1000000 AS BIGINT)").as("alpha_micro"),
        expr("CAST(((1000000 - mean_ppm) * __m) div 1000000 AS BIGINT)")
          .as("beta_micro"))
  }

  private val betaBinomialSql =
    """WITH per AS (
      |  SELECT o_custkey, count(*) AS n,
      |    sum(CAST(o_orderstatus = 'F' AS BIGINT)) AS k
      |  FROM orders GROUP BY 1 HAVING count(*) >= 2),
      |r AS (SELECT n, k, (k * 1000000) // n AS r_ppm FROM per),
      |a AS (
      |  SELECT count(*) AS n_cust,
      |    sum(CAST(r_ppm AS HUGEINT)) AS sr,
      |    sum(CAST(r_ppm AS HUGEINT) * r_ppm) AS srr
      |  FROM r),
      |mv AS (
      |  SELECT n_cust, CAST(sr // n_cust AS BIGINT) AS mean_ppm,
      |    CAST((CAST(n_cust AS HUGEINT) * srr - sr * sr)
      |         // (CAST(n_cust AS HUGEINT) * n_cust) AS BIGINT) AS var_ppm2
      |  FROM a),
      |m AS (
      |  SELECT *, CAST(((CAST(mean_ppm AS HUGEINT) * (1000000 - mean_ppm)
      |           - var_ppm2) * 1000000)
      |          // greatest(CAST(var_ppm2 AS HUGEINT), 1)
      |          AS BIGINT) AS mm
      |  FROM mv)
      |SELECT CAST(n_cust AS BIGINT) AS n_cust,
      |  CAST(mean_ppm AS BIGINT) AS mean_ppm,
      |  CAST(var_ppm2 AS BIGINT) AS var_ppm2,
      |  CAST((mean_ppm * mm) // 1000000 AS BIGINT) AS alpha_micro,
      |  CAST(((1000000 - mean_ppm) * mm) // 1000000 AS BIGINT) AS beta_micro
      |FROM m""".stripMargin

  /** #408 learned-index error bound — the RMI audit (Kraska et al.
    * 2018, public): bucket the price key space into 16 hash-free
    * equal-width segments, fit rank ≈ a + b·key per segment from
    * exact moments (the #135 discipline: sign-split ppm
    * coefficients), and report each segment's MAX absolute prediction
    * error — the lookup window a learned index must binary-search.
    * Ranks come from ONE distributed global-rank scan; per-segment
    * fits are one grouped aggregate + a broadcast-join residual pass;
    * the max-error fold is exact integers end to end. */
  private def learnedIndex(s: SparkSession, dir: String): DataFrame = {
    val o = parallelize(s, t(s, dir, "orders"))
      .select(col("o_orderkey").as("kk"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
          .as("key"))
    val ranked = PrefixSum.withGlobalRank(o, Seq("key", "kk"), "rank")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val mx = ranked.agg(max("key").as("__mx"))
    val seg = ranked.crossJoin(broadcast(mx))
      .select(expr("least((key * 16) div (__mx + 1), 15)").as("seg"),
        col("key"), col("rank"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val fits = seg.groupBy("seg").agg(
      count(lit(1)).as("n"), sum(col("key").cast("decimal(38,0)")).as("sx"),
      sum(expr("CAST(key AS DECIMAL(38,0)) * key")).as("sxx"),
      sum(col("rank").cast("decimal(38,0)")).as("sy"),
      sum(expr("CAST(key AS DECIMAL(38,0)) * rank")).as("sxy"))
      .withColumn("__dx", expr(
        "CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx"))
      .withColumn("b_ppm", expr(sdivPpm(
        "CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy",
        "greatest(__dx, 1)", duck = false)))
      .withColumn("a_ppm", expr(sdivPpm(
        "CAST(sy AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sxy",
        "greatest(__dx, 1)", duck = false)))
    seg.join(broadcast(fits.select("seg", "n", "b_ppm", "a_ppm")), Seq("seg"))
      .select(col("seg"), col("n"), col("b_ppm"),
        abs(col("rank") - expr(sdivDuckOrSpark(
          "CAST(b_ppm AS DECIMAL(38,0)) * key + a_ppm", "1000000",
          duck = false))).as("__err"))
      .groupBy("seg")
      .agg(first("n").as("n_keys"), first("b_ppm").as("slope_ppm"),
        max("__err").cast("long").as("max_err"))
      .select(col("seg").cast("long").as("seg"), col("n_keys"),
        col("slope_ppm"), col("max_err"))
  }

  private val learnedIndexSql = {
    def sdiv(num: String, den: String) =
      s"""(CASE WHEN ($num) >= 0 THEN (($num) * 1000000) // ($den)
         | ELSE -((-($num)) * 1000000 // ($den)) END)"""
        .stripMargin.replace("\n", " ")
    def sdivRaw(num: String, den: String) =
      s"""(CASE WHEN ($num) >= 0 THEN ($num) // ($den)
         | ELSE -((-($num)) // ($den)) END)"""
        .stripMargin.replace("\n", " ")
    s"""WITH o AS (
       |  SELECT o_orderkey AS kk,
       |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS key
       |  FROM orders),
       |rk AS (
       |  SELECT key, row_number() OVER (ORDER BY key, kk) AS rank FROM o),
       |mx AS (SELECT max(key) AS mx FROM rk),
       |seg AS (
       |  SELECT least((key * 16) // (mx + 1), 15) AS seg, key, rank
       |  FROM rk, mx),
       |f AS (
       |  SELECT seg, count(*) AS n, sum(CAST(key AS HUGEINT)) AS sx,
       |    sum(CAST(key AS HUGEINT) * key) AS sxx,
       |    sum(CAST(rank AS HUGEINT)) AS sy,
       |    sum(CAST(key AS HUGEINT) * rank) AS sxy
       |  FROM seg GROUP BY 1),
       |c AS (
       |  SELECT seg, n,
       |    ${sdiv("CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy",
            "greatest(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx, 1)")}
       |      AS b_ppm,
       |    ${sdiv("CAST(sy AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sxy",
            "greatest(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx, 1)")}
       |      AS a_ppm
       |  FROM f)
       |SELECT CAST(seg.seg AS BIGINT) AS seg, CAST(c.n AS BIGINT) AS n_keys,
       |  CAST(c.b_ppm AS BIGINT) AS slope_ppm,
       |  CAST(max(abs(seg.rank -
       |    ${sdivRaw("CAST(c.b_ppm AS HUGEINT) * seg.key + c.a_ppm",
              "1000000")})) AS BIGINT) AS max_err
       |FROM seg JOIN c USING (seg)
       |GROUP BY 1, 2, 3""".stripMargin
  }

  /** #410 Rosenbaum sensitivity bounds — how much hidden bias would it
    * take to overturn #386's matched-pair conclusion? (Rosenbaum 2002,
    * public — the robustness audit every matching study owes.) On the
    * caliper-matched pairs with the BINARY outcome "order fulfilled",
    * discordant pairs D and treated-favorable count T give, for each
    * Γ ∈ {1, 2, 3}, the worst-case sign-test χ² under p* = Γ/(Γ+1):
    * z² = (T − Dp*)²/(Dp*(1−p*)) = ((Γ+1)T − ΓD)²/(Γ·D) — every term
    * integer, one division per Γ row (pairs here are the below-
    * nearest-within-caliper variant of #386's matcher, documented).
    * Γ=1 reproduces the plain McNemar-style test; the Γ where z²
    * stops being large IS the sensitivity headline. */
  private def rosenbaum(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cal = 10000L
    val o = parallelize(s, t(s, dir, "orders"))
      .join(broadcast(t(s, dir, "customer")
        .select(col("c_custkey"),
          (col("c_acctbal").cast("decimal(18,2)") * 100).cast("long")
            .as("bal"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey").as("k"), col("bal"),
        (substring(col("o_orderpriority"), 1, 1) === "1").as("tr"),
        (col("o_orderstatus") === "F").cast("long").as("y"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sentinel = Long.MinValue
    val u = o.select(col("k"), col("bal"), col("y"),
      expr("bal * 2 + CAST(tr AS LONG)").as("__ord"),
      when(col("tr"), lit(sentinel)).otherwise(col("bal")).as("__vb"),
      col("tr"))
    val below = PrefixSum.runningMaxExclusive(
      u.select("k", "bal", "y", "tr", "__ord", "__vb"), "__ord", "__vb", "below")
      .filter(col("tr"))
      .withColumn("__mbal", expr(
        s"""CASE WHEN below IS NULL OR below = $sentinel THEN NULL
           | WHEN bal - below <= $cal THEN below ELSE NULL END"""
          .stripMargin.replace("\n", " ")))
      .filter(col("__mbal").isNotNull)
    val reps = o.filter(!col("tr"))
      .groupBy(col("bal").as("__mbal"))
      .agg(min(struct(col("k").as("ck"), col("y").as("cy"))).as("__r"))
    val pairs = below.join(reps, Seq("__mbal"))
      .select(col("y"), col("__r.cy").as("cy"))
    val counts = pairs
      .agg(sum(expr("CAST(y = 1 AND cy = 0 AS LONG)")).as("t"),
        sum(expr("CAST(y <> cy AS LONG)")).as("d"))
      .collect().head
    val (tt, dd) = (counts.getLong(0), counts.getLong(1))
    Seq(1L, 2L, 3L).map { g =>
      val dev = BigInt((g + 1) * tt - g * dd)
      val z2 = if (dd == 0) 0L
        else (dev * dev * 1000 / (BigInt(g) * dd)).toLong
      (g, dd, tt, z2)
    }.toDF("gamma", "n_discordant", "n_treated_fav", "z2_milli")
  }

  private val rosenbaumSql = {
    val cal = 10000L
    s"""WITH o AS (
       |  SELECT o.o_orderkey AS k,
       |    CAST(CAST(c.c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS bal,
       |    substr(o.o_orderpriority, 1, 1) = '1' AS tr,
       |    CAST(o.o_orderstatus = 'F' AS BIGINT) AS y
       |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
       |u AS (
       |  SELECT k, bal, y, tr,
       |    max(CASE WHEN NOT tr THEN bal END) OVER (
       |      ORDER BY bal * 2 + CAST(tr AS BIGINT)
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS below
       |  FROM o),
       |m AS (
       |  SELECT k, y,
       |    CASE WHEN below IS NOT NULL AND bal - below <= $cal
       |      THEN below ELSE NULL END AS mbal
       |  FROM u WHERE tr),
       |reps AS (
       |  SELECT bal AS mbal, min(struct_pack(ck := k, cy := y)) AS r
       |  FROM o WHERE NOT tr GROUP BY 1),
       |pairs AS (
       |  SELECT m.y, reps.r.cy AS cy
       |  FROM m JOIN reps USING (mbal) WHERE m.mbal IS NOT NULL),
       |cnt AS (
       |  SELECT sum(CAST(y = 1 AND cy = 0 AS BIGINT)) AS t,
       |    sum(CAST(y <> cy AS BIGINT)) AS d
       |  FROM pairs),
       |g(g) AS (VALUES (1), (2), (3))
       |SELECT CAST(g.g AS BIGINT) AS gamma, CAST(cnt.d AS BIGINT)
       |    AS n_discordant,
       |  CAST(cnt.t AS BIGINT) AS n_treated_fav,
       |  CAST(CASE WHEN cnt.d = 0 THEN 0 ELSE
       |    (CAST((g.g + 1) * cnt.t - g.g * cnt.d AS HUGEINT)
       |     * ((g.g + 1) * cnt.t - g.g * cnt.d) * 1000)
       |    // (CAST(g.g AS HUGEINT) * cnt.d) END AS BIGINT)
       |    AS z2_milli
       |FROM g, cnt""".stripMargin
  }

  /** #411 consistent-hash rebalance audit — Karger-ring placement
    * (the sharding scheme behind every distributed cache): customer
    * keys hash onto a 2³² ring, 8 nodes × 4 virtual points each;
    * adding node 8 should move ≈1/9 of the keys and ONLY onto the new
    * node. Assignment is ONE map-side expression per key (successor
    * lookup in the broadcast sorted vnode literal — no join, no row
    * blowup); the vnode positions derive from the same multiplicative
    * hash on both engines, so the oracle rebuilds the identical ring.
    * Output per node: keys before, after, and moved-IN — the audit
    * that a resize is minimal (old nodes gain ~nothing). */
  private def consistentHash(s: SparkSession, dir: String): DataFrame = {
    val M32 = 4294967296L
    def vpos(node: Int, rep: Int): Long = {
      val x = node.toLong * 16 + rep
      val h = (BigInt(x) * BigInt(HashMult2) mod
        BigInt(TextAnalysis.FingerprintMod)).toLong
      h % M32
    }
    def ring(nNodes: Int): Seq[(Long, Int)] =
      (for (n <- 0 until nNodes; r <- 0 until 4) yield (vpos(n, r), n))
        .sortBy(_._1)
    def assignExpr(nNodes: Int, out: String): Column = {
      val vn = ring(nNodes)
      val arr = vn.map { case (p, n) => s"struct(${p}L AS pos, $n AS node)" }
        .mkString("array(", ", ", ")")
      expr(s"""coalesce(
        try_element_at(filter($arr, v -> v.pos >= __kpos), 1).node,
        $arr[0].node) AS $out""".replace("\n", " "))
    }
    val keys = parallelize(s, t(s, dir, "customer"))
      .select(expr(s"pmod(${multHashExpr("c_custkey")}, $M32)").as("__kpos"))
      .select(col("__kpos"), assignExpr(8, "before"), assignExpr(9, "after"))
    keys.groupBy(col("after").cast("long").as("node"))
      .agg(count(lit(1)).as("n_after"),
        sum(expr("CAST(before <> after AS LONG)")).as("n_moved_in"))
      .join(
        keys.groupBy(col("before").cast("long").as("node"))
          .agg(count(lit(1)).as("n_before")),
        Seq("node"), "full")
      .select(col("node"),
        coalesce(col("n_before"), lit(0L)).as("n_before"),
        coalesce(col("n_after"), lit(0L)).as("n_after"),
        coalesce(col("n_moved_in"), lit(0L)).as("n_moved_in"))
  }

  private val consistentHashSql = {
    val M32 = 4294967296L
    s"""WITH vn AS (
       |  SELECT n.n AS node, r.r AS rep,
       |    CAST((CAST(n.n * 16 + r.r AS HUGEINT) * ${HashMult2})
       |      % ${TextAnalysis.FingerprintMod} % $M32 AS BIGINT) AS pos
       |  FROM range(0, 9) n(n), range(0, 4) r(r)),
       |k AS (
       |  SELECT CAST((CAST(c_custkey AS HUGEINT) * ${HashMult})
       |    % ${TextAnalysis.FingerprintMod} % $M32 AS BIGINT) AS kpos
       |  FROM customer),
       |asg AS (
       |  SELECT kpos,
       |    coalesce(
       |      (SELECT v.node FROM vn v WHERE v.node < 8 AND v.pos >= k.kpos
       |       ORDER BY v.pos LIMIT 1),
       |      (SELECT v.node FROM vn v WHERE v.node < 8
       |       ORDER BY v.pos LIMIT 1)) AS before,
       |    coalesce(
       |      (SELECT v.node FROM vn v WHERE v.pos >= k.kpos
       |       ORDER BY v.pos LIMIT 1),
       |      (SELECT v.node FROM vn v ORDER BY v.pos LIMIT 1)) AS after
       |  FROM k),
       |a AS (
       |  SELECT after AS node, count(*) AS n_after,
       |    sum(CAST(before <> after AS BIGINT)) AS n_moved_in
       |  FROM asg GROUP BY 1),
       |b AS (SELECT before AS node, count(*) AS n_before FROM asg GROUP BY 1)
       |SELECT CAST(coalesce(a.node, b.node) AS BIGINT) AS node,
       |  CAST(coalesce(b.n_before, 0) AS BIGINT) AS n_before,
       |  CAST(coalesce(a.n_after, 0) AS BIGINT) AS n_after,
       |  CAST(coalesce(a.n_moved_in, 0) AS BIGINT) AS n_moved_in
       |FROM a FULL JOIN b ON a.node = b.node""".stripMargin
  }

  /** #413 knee-point detection — the Kneedle difference curve
    * (Satopää 2011, public) on the customer revenue concentration
    * curve: 20 equi-depth rank buckets from one distributed
    * global-rank scan, x and y normalized to exact ppm, knee =
    * argmax(y − x) with min-x tiebreak — where "the top customers"
    * stops paying for itself. Everything after the scan is the
    * O(buckets) frame; the is_knee flag is decided by one bounded
    * max(struct) broadcast. */
  private def kneePoint(s: SparkSession, dir: String): DataFrame = {
    val per = parallelize(s, t(s, dir, "orders"))
      .groupBy("o_custkey")
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
        .as("rev"))
    val n = per.count()
    val ranked = PrefixSum.withGlobalRank(
      per.select(col("rev"), col("o_custkey")), Seq("rev", "o_custkey"), "__r")
      // rank 1 = smallest: invert so bucket 1 holds the TOP customers
      .select(col("rev"), expr(s"least((($n - __r) * 20) div $n, 19)").as("b"))
    val tot = ranked.agg(sum(col("rev").cast("decimal(38,0)")).as("__t"),
      count(lit(1)).as("__n"))
    val w = Window.orderBy("b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val curve = ranked.groupBy("b")
      .agg(count(lit(1)).as("__c"), sum(col("rev").cast("decimal(38,0)"))
        .as("__s"))
      .withColumn("__cc", sum("__c").over(w))
      .withColumn("__cs", sum("__s").over(w))
      .crossJoin(broadcast(tot))
      .select(col("b").cast("long").as("bucket"),
        expr("(__cc * 1000000) div __n").as("x_ppm"),
        expr("CAST((__cs * 1000000) div __t AS BIGINT)").as("y_ppm"))
      .withColumn("diff_ppm", col("y_ppm") - col("x_ppm"))
    val knee = curve.agg(max(struct(col("diff_ppm"),
      (-col("bucket")).as("nb"))).as("__k"))
    curve.crossJoin(broadcast(knee))
      .select(col("bucket"), col("x_ppm"), col("y_ppm"), col("diff_ppm"),
        (col("diff_ppm") === col("__k.diff_ppm") &&
          col("bucket") === -col("__k.nb")).as("is_knee"))
  }

  private val kneePointSql =
    """WITH per AS (
      |  SELECT o_custkey,
      |    sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
      |      AS rev
      |  FROM orders GROUP BY 1),
      |n AS (SELECT count(*) AS n FROM per),
      |rk AS (
      |  SELECT rev, row_number() OVER (ORDER BY rev, o_custkey) AS r
      |  FROM per),
      |bk AS (
      |  SELECT rev, least(((n.n - r) * 20) // n.n, 19) AS b FROM rk, n),
      |tot AS (SELECT sum(CAST(rev AS HUGEINT)) AS t, count(*) AS n FROM bk),
      |curve AS (
      |  SELECT b, count(*) AS c, sum(CAST(rev AS HUGEINT)) AS s
      |  FROM bk GROUP BY 1),
      |cum AS (
      |  SELECT b,
      |    (sum(c) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND
      |      CURRENT ROW) * 1000000) // tot.n AS x_ppm,
      |    CAST((sum(s) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING
      |      AND CURRENT ROW) * 1000000) // tot.t AS BIGINT) AS y_ppm
      |  FROM curve, tot),
      |d AS (SELECT b, x_ppm, y_ppm, y_ppm - x_ppm AS diff_ppm FROM cum),
      |k AS (
      |  SELECT b AS kb, diff_ppm AS kd FROM d
      |  ORDER BY diff_ppm DESC, b ASC LIMIT 1)
      |SELECT CAST(d.b AS BIGINT) AS bucket, CAST(d.x_ppm AS BIGINT) AS x_ppm,
      |  d.y_ppm, CAST(d.diff_ppm AS BIGINT) AS diff_ppm,
      |  (d.diff_ppm = k.kd AND d.b = k.kb) AS is_knee
      |FROM d, k""".stripMargin

  /** #415 fuzzy phone linkage — the CATI feeder's phone key
    * (feeder.py:157) under TYPO tolerance: find pairs of phone numbers
    * that are adjacent-digit TRANSPOSITIONS of each other (the
    * dominant manual-dialing error) WITHOUT the all-pairs product.
    * Blocking key = the digit MULTISET (sorted digits): transposed
    * numbers collide there by construction, so candidates are one
    * equi-join on the block, verified by the exact adjacent-
    * transposition predicate; blocks fatter than 16× the average are
    * skipped and COUNTED (corpus-relative mega-block cap, the
    * MinHashLSH device — the synthetic sequential keys inflate
    * multiset collisions far past a real phone book, and an uncapped
    * join would go quadratic at sf100).
    * The probe set plants one transposed variant for every 16th
    * customer (hash-deterministic position, the planted-probe
    * discipline) so the detector provably fires at every SF. */
  private def fuzzyPhone(s: SparkSession, dir: String): DataFrame = {
    val base = parallelize(s, t(s, dir, "customer"))
      .select(col("c_custkey").as("k"), phoneOf(col("c_custkey")).as("ph"))
    // plant: swap digit positions (h mod 9, +1) of the 10-digit tail
    val planted = base.filter(expr(s"pmod(${multHashExpr("k")}, 16) = 0"))
      .select((col("k") + 100000000L).as("k"), expr(
        s"""concat(substring(ph, 1, 2 + pmod(${multHashExpr("k")}, 9)),
           |  substring(ph, 4 + pmod(${multHashExpr("k")}, 9), 1),
           |  substring(ph, 3 + pmod(${multHashExpr("k")}, 9), 1),
           |  substring(ph, 5 + pmod(${multHashExpr("k")}, 9)))"""
          .stripMargin.replace("\n", " ")).as("ph"))
    val organic = base.unionAll(planted)
      .withColumn("blk", expr(
        "concat_ws('', array_sort(split(substring(ph, 3), '')))"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // mega-block cap (corpus-relative, the MinHashLSH device): a block
    // over 16× the ORGANIC average would turn the candidate join
    // quadratic at sf100, so fat blocks are skipped and COUNTED. The
    // cap never fires on the healthy gate corpora, so a mega block of
    // exactly cap+1 duplicate phones is PLANTED (the bloom-FPR probe
    // discipline) — the skip path provably executes at every SF.
    val capVal = organic.groupBy("blk").agg(count(lit(1)).as("__bs"))
      .agg(expr("greatest(64, (16 * sum(__bs)) div count(1))").as("c"))
      .collect().head.getLong(0)
    val mega = s.range(capVal + 1)
      .select((col("id") + 300000000L).as("k"),
        lit("+79999999999").as("ph"), lit("99999999999").as("blk"))
    val all = organic.unionAll(mega)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // ONE capped aggregation replaces the r14 shape (block-size count +
    // size semi-join + block self-join — three more shuffles of the
    // phone table): per-block member keys collect via bottomk_distinct
    // (k is unique per row) BOUNDED at cap+1 — a mega block never
    // materializes past the sentinel, exactly the MinHashLSH candidate
    // device — and the C(n,2) candidate fan-out runs MAP-SIDE through
    // the native sorted_pairs loop. The block census (n_phones /
    // n_blocks / n_mega_blocks) reads off the SAME aggregation instead
    // of re-scanning the phone table.
    val byBlk = all.groupBy("blk")
      .agg(count(lit(1)).as("__bs"),
        graft.functions.TopKAggregate.bottomk_distinct(col("k"),
          math.min(capVal + 1, Int.MaxValue.toLong).toInt).as("ks"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val census = byBlk.agg(sum("__bs").as("n_phones"),
      count(lit(1)).as("n_blocks"),
      sum((col("__bs") > capVal).cast("long")).as("n_mega_blocks"))
    val idPairs = byBlk.filter(col("__bs").between(2L, capVal))
      .select(explode(graft.functions.NativeVec.sorted_pairs(col("ks"))).as("p"))
      .select(col("p.a").as("ka"), col("p.b").as("kb"))
    // phones join back once per pair side (keys are unique, fan-out 1:1).
    // Strategy follows the MinHashLSH verify rule: small corpus — no
    // hint, AQE broadcasts the tiny pair side and the phone table never
    // shuffles; large corpus — SHUFFLE_HASH with the slim id-pair side
    // as build (sort-merge would sort the corpus-sized phone table).
    val smallCorpus = !ScalePolicy.corpusScale(t(s, dir, "customer"))
    val pairs = (if (smallCorpus) idPairs else idPairs.hint("shuffle_hash"))
      .join(all.select(col("k").as("ka"), col("ph").as("pa")), Seq("ka"))
      .join(all.select(col("k").as("kb"), col("ph").as("pb")), Seq("kb"))
    // exact adjacent-transposition check: strings differ in EXACTLY the
    // positions i, i+1 with crossed characters — the native expression
    // (one code-point loop per pair) replacing an interpreted
    // exists(sequence(..)) lambda that sliced each candidate pair's
    // strings ~60 times (this aggregate evaluates once per candidate)
    val isTrans = graft.functions.NativeText
      .adjacent_transposition(col("pa"), col("pb"))
    pairs.agg(count(lit(1)).as("n_candidates"),
        sum(isTrans.cast("long")).as("n_transpositions"))
      .crossJoin(broadcast(census))
      .select(col("n_phones"), col("n_blocks"), col("n_mega_blocks"),
        col("n_candidates"),
        coalesce(col("n_transpositions"), lit(0L)).as("n_transpositions"))
  }

  private val fuzzyPhoneSql = {
    val h = multHashDuck("c_custkey")
    s"""WITH base AS (
       |  SELECT c_custkey AS k, ${phoneSql("c_custkey")} AS ph
       |  FROM customer),
       |planted AS (
       |  SELECT k + 100000000 AS k,
       |    concat(substring(ph, 1, 2 + pos),
       |      substring(ph, 4 + pos, 1), substring(ph, 3 + pos, 1),
       |      substring(ph, 5 + pos)) AS ph
       |  FROM (
       |    SELECT c_custkey AS k, ${phoneSql("c_custkey")} AS ph,
       |      CAST($h % 9 AS INT) AS pos
       |    FROM customer WHERE $h % 16 = 0)),
       |allp AS (
       |  SELECT k, ph,
       |    array_to_string(list_sort(string_split_regex(
       |      substring(ph, 3), '')), '') AS blk
       |  FROM (SELECT * FROM base UNION ALL SELECT * FROM planted)),
       |capq AS (
       |  SELECT greatest(64, (16 * sum(bs)) // count(*)) AS cap FROM (
       |    SELECT count(*) AS bs FROM allp GROUP BY blk)),
       |megap AS (
       |  SELECT 300000000 + r.i AS k, '+79999999999' AS ph,
       |    '99999999999' AS blk
       |  FROM range(0, 10000000) r(i), capq WHERE r.i <= capq.cap),
       |allm AS (SELECT * FROM allp UNION ALL SELECT * FROM megap),
       |sz AS (SELECT blk, count(*) AS bs FROM allm GROUP BY 1),
       |keep AS (
       |  SELECT a.* FROM allm a JOIN sz USING (blk), capq
       |  WHERE sz.bs <= capq.cap),
       |mega AS (
       |  SELECT count(*) AS n_mega FROM sz, capq WHERE sz.bs > capq.cap),
       |pairs AS (
       |  SELECT a.k AS ka, b.k AS kb, a.ph AS pa, b.ph AS pb
       |  FROM keep a JOIN keep b ON a.blk = b.blk AND a.k < b.k),
       |v AS (
       |  SELECT *,
       |    CAST(len(list_filter(range(1, length(pa)), i ->
       |      substring(pa, 1, i - 1) = substring(pb, 1, i - 1)
       |      AND substring(pa, i + 2) = substring(pb, i + 2)
       |      AND substring(pa, i, 1) = substring(pb, i + 1, 1)
       |      AND substring(pa, i + 1, 1) = substring(pb, i, 1)
       |      AND substring(pa, i, 1) <> substring(pa, i + 1, 1))) > 0
       |      AS BIGINT) AS tr
       |  FROM pairs),
       |tot AS (
       |  SELECT count(*) AS n_phones, count(DISTINCT blk) AS n_blocks
       |  FROM allm)
       |SELECT CAST(tot.n_phones AS BIGINT) AS n_phones,
       |  CAST(tot.n_blocks AS BIGINT) AS n_blocks,
       |  CAST(mega.n_mega AS BIGINT) AS n_mega_blocks,
       |  CAST(count(*) AS BIGINT) AS n_candidates,
       |  CAST(coalesce(sum(v.tr), 0) AS BIGINT) AS n_transpositions
       |FROM v, tot, mega
       |GROUP BY tot.n_phones, tot.n_blocks, mega.n_mega""".stripMargin
  }

  /** #416 group-sequential boundary check — O'Brien–Fleming interim
    * looks for the A/B stream (Pocock/OBF, public; #361's SPRT is the
    * fully-sequential sibling — this is the 4-look committee version
    * every experimentation platform ships): at information fractions
    * 1/4..4/4 of the hash-bucketed assignment, the conversion-rate z²
    * is the exact integer χ² of #204's SRM device, compared against
    * the OBF bound z_k = 2.024·√(4/k) whose SQUARES (in micro) are
    * integer LITERALS (16.387/8.194/5.462/4.097 e6·... exact
    * constants both engines). One pass: each order lands in every
    * look whose cutoff its key clears (4-row broadcast), partial-
    * aggregated. */
  private def groupSequential(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // OBF z²(k)·1e6 for K=4 looks at α≈0.05 two-sided: (2.024²·4/k)·1e6
    val bounds = Seq((1L, 16387302L), (2L, 8193651L), (3L, 5462434L),
      (4L, 4096826L)).toDF("look", "bound2_micro")
    val o = parallelize(s, t(s, dir, "orders"))
      .select(expr(s"pmod(${multHashExpr("o_orderkey")}, 2)").as("arm"),
        expr(s"pmod(${multHash2Expr("o_orderkey")}, 4)").as("__q"),
        (col("o_orderstatus") === "F").cast("long").as("y"))
    val looks = o.crossJoin(broadcast(bounds))
      .filter(col("__q") < col("look"))
      .groupBy("look", "bound2_micro")
      .agg(count(lit(1)).as("n"),
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("arm") === 0, col("y")).otherwise(0L)).as("y0"),
        sum(when(col("arm") === 1, col("y")).otherwise(0L)).as("y1"))
    // two-proportion z² = n·(y0·n1 − y1·n0)² / (n0·n1·Y·(n−Y)), Y=y0+y1
    looks.select(col("look"), col("n"),
        expr("""CAST((CAST(n AS DECIMAL(38,0))
                 * (CAST(y0 AS DECIMAL(38,0)) * (n - n0)
                    - CAST(y1 AS DECIMAL(38,0)) * n0)
                 * (CAST(y0 AS DECIMAL(38,0)) * (n - n0)
                    - CAST(y1 AS DECIMAL(38,0)) * n0) * 1000000)
                div greatest(CAST(n0 AS DECIMAL(38,0)) * (n - n0)
                  * (y0 + y1) * (n - y0 - y1), 1) AS BIGINT)""")
          .as("z2_micro"),
        col("bound2_micro"))
      .withColumn("crossed", col("z2_micro") >= col("bound2_micro"))
  }

  private val groupSequentialSql =
    s"""WITH b(look, bound2_micro) AS (VALUES
       |  (1, 16387302), (2, 8193651), (3, 5462434), (4, 4096826)),
       |o AS (
       |  SELECT CAST(${multHashDuck("o_orderkey")} % 2 AS INT) AS arm,
       |    CAST(${multHash2Duck("o_orderkey")} % 4 AS INT) AS q,
       |    CAST(o_orderstatus = 'F' AS BIGINT) AS y
       |  FROM orders),
       |l AS (
       |  SELECT b.look, b.bound2_micro, count(*) AS n,
       |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n0,
       |    sum(CASE WHEN arm = 0 THEN y ELSE 0 END) AS y0,
       |    sum(CASE WHEN arm = 1 THEN y ELSE 0 END) AS y1
       |  FROM o JOIN b ON o.q < b.look
       |  GROUP BY 1, 2)
       |SELECT CAST(look AS BIGINT) AS look, CAST(n AS BIGINT) AS n,
       |  CAST((CAST(n AS HUGEINT)
       |        * (CAST(y0 AS HUGEINT) * (n - n0) - CAST(y1 AS HUGEINT) * n0)
       |        * (CAST(y0 AS HUGEINT) * (n - n0) - CAST(y1 AS HUGEINT) * n0)
       |        * 1000000)
       |       // greatest(CAST(n0 AS HUGEINT) * (n - n0) * (y0 + y1)
       |         * (n - y0 - y1), 1) AS BIGINT) AS z2_micro,
       |  CAST(bound2_micro AS BIGINT) AS bound2_micro,
       |  (CAST((CAST(n AS HUGEINT)
       |        * (CAST(y0 AS HUGEINT) * (n - n0) - CAST(y1 AS HUGEINT) * n0)
       |        * (CAST(y0 AS HUGEINT) * (n - n0) - CAST(y1 AS HUGEINT) * n0)
       |        * 1000000)
       |       // greatest(CAST(n0 AS HUGEINT) * (n - n0) * (y0 + y1)
       |         * (n - y0 - y1), 1) AS BIGINT)) >= bound2_micro AS crossed
       |FROM l""".stripMargin

  /** #421 aggregation-reversal (Simpson's-paradox) audit — for every
    * month stratum, does the high-priority vs low-priority 'F'-status
    * rate comparison point the same way as the corpus aggregate? Rate
    * comparisons are CROSS-MULTIPLIED (f_hi·n_lo vs f_lo·n_hi), so the
    * whole audit is integer-exact with no division anywhere; products
    * fold in DECIMAL(38) for headroom past sf100 stratum counts. One
    * groupBy over orders plus a broadcast 1-row aggregate — the
    * reporting-layer trap detector every stratified dashboard needs. */
  private def aggReversal(s: SparkSession, dir: String): DataFrame = {
    val strata = t(s, dir, "orders")
      .select(date_format(col("o_orderdate"), "yyyy-MM").as("month"),
        substring(col("o_orderpriority"), 1, 1).isin("1", "2")
          .cast("long").as("__hi"),
        (col("o_orderstatus") === "F").cast("long").as("__f"))
      .groupBy("month")
      .agg(sum(col("__hi")).as("n_hi"),
        sum(col("__hi") * col("__f")).as("f_hi"),
        sum(lit(1L) - col("__hi")).as("n_lo"),
        sum((lit(1L) - col("__hi")) * col("__f")).as("f_lo"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val agg = strata.agg(
      expr("""CAST(sign(CAST(sum(f_hi) AS DECIMAL(38,0)) * sum(n_lo)
             |     - CAST(sum(f_lo) AS DECIMAL(38,0)) * sum(n_hi)) AS BIGINT)"""
        .stripMargin.replace("\n", " ")).as("__agg_dir"))
    strata.crossJoin(broadcast(agg))
      .select(col("month"), col("n_hi"), col("f_hi"), col("n_lo"), col("f_lo"),
        expr("""CAST(sign(CAST(f_hi AS DECIMAL(38,0)) * n_lo
               |     - CAST(f_lo AS DECIMAL(38,0)) * n_hi) AS BIGINT)"""
          .stripMargin.replace("\n", " ")).as("stratum_dir"),
        expr("""(CAST(sign(CAST(f_hi AS DECIMAL(38,0)) * n_lo
               |      - CAST(f_lo AS DECIMAL(38,0)) * n_hi) AS BIGINT)
               | * __agg_dir) < 0""".stripMargin.replace("\n", " "))
          .as("reversed"))
  }

  private val aggReversalSql =
    """WITH b AS (
      |  SELECT strftime(o_orderdate, '%Y-%m') AS month,
      |    CASE WHEN substr(o_orderpriority, 1, 1) IN ('1', '2')
      |      THEN 1 ELSE 0 END AS hi,
      |    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS f
      |  FROM orders),
      |s AS (
      |  SELECT month,
      |    CAST(sum(hi) AS BIGINT) AS n_hi,
      |    CAST(sum(hi * f) AS BIGINT) AS f_hi,
      |    CAST(sum(1 - hi) AS BIGINT) AS n_lo,
      |    CAST(sum((1 - hi) * f) AS BIGINT) AS f_lo
      |  FROM b GROUP BY 1),
      |a AS (
      |  SELECT CAST(sign(CAST(sum(f_hi) AS HUGEINT) * sum(n_lo)
      |    - CAST(sum(f_lo) AS HUGEINT) * sum(n_hi)) AS BIGINT) AS agg_dir
      |  FROM s)
      |SELECT month, n_hi, f_hi, n_lo, f_lo,
      |  CAST(sign(CAST(f_hi AS HUGEINT) * n_lo
      |    - CAST(f_lo AS HUGEINT) * n_hi) AS BIGINT) AS stratum_dir,
      |  (CAST(sign(CAST(f_hi AS HUGEINT) * n_lo
      |    - CAST(f_lo AS HUGEINT) * n_hi) AS BIGINT) * a.agg_dir) < 0
      |    AS reversed
      |FROM s, a""".stripMargin

  /** #422 causal mediation (Baron–Kenny / product-of-coefficients) —
    * does the discount channel mediate the returns→revenue relation?
    * T = (l_returnflag = 'R'), mediator M = discount cents, outcome
    * Y = price cents. ONE map-side-combinable moment aggregate over
    * the fact table (the #283 device — same nine exact integer moments
    * with T as x1 and M as x2), then every path coefficient is a
    * fixed-order double expression over those moments, identical on
    * both engines: a = C12/C11 (T→M), b = the #283 partial coefficient
    * of M in Y ~ T + M, direct effect c′ = the T coefficient of the
    * same solve, total c = C1y/C11, ACME = a·b, and the mediated
    * proportion a·b/c. */
  private def mediation(s: SparkSession, dir: String): DataFrame =
    parallelize(s, t(s, dir, "lineitem"))
      .select((col("l_extendedprice").cast("decimal(18,2)") * 100)
          .cast("long").as("__y"),
        (col("l_returnflag") === "R").cast("long").as("__x1"),
        (col("l_discount").cast("decimal(18,2)") * 100).cast("long").as("__x2"))
      .agg(count(lit(1)).as("n"),
        sum("__x1").as("sx1"), sum("__x2").as("sx2"),
        sum(col("__x1") * col("__x1")).as("sx11"),
        sum(col("__x2") * col("__x2")).as("sx22"),
        sum(col("__x1") * col("__x2")).as("sx12"),
        sum(col("__y")).as("sy"),
        sum(col("__x1") * col("__y")).as("sx1y"),
        sum(col("__x2") * col("__y")).as("sx2y"))
      .withColumn("a_t_m", expr(MediationAExpr))
      .withColumn("b_m_y", expr(Ols2B2Expr))
      .withColumn("direct", expr(Ols2B1Expr))
      .withColumn("total", expr(MediationTotalExpr))
      .withColumn("acme", expr(MediationAcmeExpr))
      .withColumn("prop_mediated", expr(MediationPropExpr))
      .select("n", "a_t_m", "b_m_y", "direct", "total", "acme",
        "prop_mediated")

  // T→M and T→Y simple slopes over the same centered moments; the
  // mediated effect multiplies the RAW (unrounded) path coefficients
  // so rounding composes once, identically on both engines.
  private lazy val mediationARaw =
    s"CASE WHEN $ols2C11 <> 0.0 THEN $ols2C12 / $ols2C11 ELSE 0.0 END"

  private lazy val mediationCRaw =
    s"CASE WHEN $ols2C11 <> 0.0 THEN $ols2C1y / $ols2C11 ELSE 0.0 END"

  private[graft] lazy val MediationAExpr: String =
    s"round($mediationARaw, 6)"

  private[graft] lazy val MediationTotalExpr: String =
    s"round($mediationCRaw, 6)"

  private[graft] lazy val MediationAcmeExpr: String =
    s"round(($mediationARaw) * ($Ols2B2RawExpr), 6)"

  private[graft] lazy val MediationPropExpr: String =
    s"""round(CASE WHEN ($mediationCRaw) <> 0.0
      THEN (($mediationARaw) * ($Ols2B2RawExpr)) / ($mediationCRaw)
      ELSE 0.0 END, 6)"""

  private lazy val mediationSql =
    s"""WITH b AS (
       |  SELECT CAST(l_extendedprice * 100 AS BIGINT) AS y,
       |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS x1,
       |    CAST(l_discount * 100 AS BIGINT) AS x2
       |  FROM lineitem),
       |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(x1) AS BIGINT) AS sx1, CAST(sum(x2) AS BIGINT) AS sx2,
       |  CAST(sum(x1 * x1) AS BIGINT) AS sx11,
       |  CAST(sum(x2 * x2) AS BIGINT) AS sx22,
       |  CAST(sum(x1 * x2) AS BIGINT) AS sx12,
       |  CAST(sum(y) AS BIGINT) AS sy,
       |  CAST(sum(x1 * y) AS BIGINT) AS sx1y,
       |  CAST(sum(x2 * y) AS BIGINT) AS sx2y
       |  FROM b)
       |SELECT n, ${MediationAExpr.replace("\n", " ")} AS a_t_m,
       |  ${Ols2B2Expr.replace("\n", " ")} AS b_m_y,
       |  ${Ols2B1Expr.replace("\n", " ")} AS direct,
       |  ${MediationTotalExpr.replace("\n", " ")} AS total,
       |  ${MediationAcmeExpr.replace("\n", " ")} AS acme,
       |  ${MediationPropExpr.replace("\n", " ")} AS prop_mediated
       |FROM m""".stripMargin

  /** #423 seasonal/trend strength (Hyndman's STL strength measures) —
    * how much of the monthly revenue series does the #169
    * decomposition actually explain? Re-runs the same exact-ppm
    * decomposition (13-month centered MA trend, month-of-year
    * seasonal means — SIGN-SPLIT round-nearest, since off-season
    * detrended sums go negative), quantizes each component back to
    * EXACT cents by sign-split integer division (truncation parity
    * on negatives),
    * and folds the three variance numerators n·Σx²−(Σx)² in
    * DECIMAL(38). F_seasonal = max(0, 1 − Var(R)/Var(S+R)) and
    * F_trend = max(0, 1 − Var(R)/Var(T+R)) emerge as ppm integers by
    * positive-operand division — ZERO floating point anywhere. */
  private def stlStrength(s: SparkSession, dir: String): DataFrame = {
    val m = t(s, dir, "orders")
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
        .as("rev"))
    val w = Window.orderBy("month").rowsBetween(-6, 6)
    val tr = m
      .withColumn("__n", count(lit(1)).over(w))
      .withColumn("__s", sum(col("rev")).over(w))
      .withColumn("trend_ppm",
        when(col("__n") === 13,
          expr("(2 * CAST(__s AS DECIMAL(38,0)) * 1000000 + 13) div 26")))
      .withColumn("det_ppm",
        col("rev").cast("decimal(38,0)") * 1000000L - col("trend_ppm"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the detrended sum goes NEGATIVE in off-season months, so the
    // round-nearest device sign-splits like sdivC below — plain
    // (2a+b) div (2b) would truncate negative means toward zero
    val seas = tr.filter(col("det_ppm").isNotNull)
      .groupBy(substring(col("month"), 6, 2).as("moy"))
      .agg(count(lit(1)).as("k"), sum(col("det_ppm")).as("sd"))
      .select(col("moy"),
        expr("""CASE WHEN sd >= 0
               | THEN (2 * CAST(sd AS DECIMAL(38,0)) + k) div (2 * CAST(k AS DECIMAL(38,0)))
               | ELSE -((2 * -CAST(sd AS DECIMAL(38,0)) + k) div (2 * CAST(k AS DECIMAL(38,0)))) END"""
          .stripMargin.replace("\n", " ")).as("seasonal_ppm"))
    def sdivC(x: String): String =
      s"CASE WHEN ($x) >= 0 THEN ($x) div 1000000 ELSE -((-($x)) div 1000000) END"
    tr.filter(col("trend_ppm").isNotNull)
      .join(broadcast(seas), substring(col("month"), 6, 2) === col("moy"))
      .select(
        expr(sdivC("det_ppm - seasonal_ppm")).as("__r"),
        expr(sdivC("det_ppm")).as("__sr"),
        expr(sdivC("CAST(rev AS DECIMAL(38,0)) * 1000000 - seasonal_ppm"))
          .as("__tr"))
      .agg(count(lit(1)).as("__n"),
        // cents² per month can pass 1e18 — every square folds in
        // DECIMAL(38) (the #283 syy discipline), never bare BIGINT
        sum(col("__r").cast("decimal(38,0)")).as("__s_r"),
        sum(col("__r").cast("decimal(38,0)") * col("__r")).as("__q_r"),
        sum(col("__sr").cast("decimal(38,0)")).as("__s_sr"),
        sum(col("__sr").cast("decimal(38,0)") * col("__sr")).as("__q_sr"),
        sum(col("__tr").cast("decimal(38,0)")).as("__s_tr"),
        sum(col("__tr").cast("decimal(38,0)") * col("__tr")).as("__q_tr"))
      .select(col("__n").cast("long").as("n_months"),
        expr(StlStrengthExpr("__q_sr", "__s_sr")).as("strength_seasonal_ppm"),
        expr(StlStrengthExpr("__q_tr", "__s_tr")).as("strength_trend_ppm"))
  }

  /** max(0, 1e6 − 1e6·varR/varX) from the exact DECIMAL(38) variance
    * numerators (n cancels). Operands are non-negative, so plain
    * truncating div == flooring // — no sign split needed. */
  private def StlStrengthExpr(qx: String, sx: String): String =
    s"""CAST(CASE WHEN (__n * CAST($qx AS DECIMAL(38,0)) - CAST($sx AS DECIMAL(38,0)) * $sx) > 0
       | THEN greatest(0, 1000000 -
       |   ((__n * CAST(__q_r AS DECIMAL(38,0)) - CAST(__s_r AS DECIMAL(38,0)) * __s_r) * 1000000)
       |   div (__n * CAST($qx AS DECIMAL(38,0)) - CAST($sx AS DECIMAL(38,0)) * $sx))
       | ELSE 0 END AS BIGINT)""".stripMargin.replace("\n", " ")

  private lazy val stlStrengthSql = {
    def sdivC(x: String): String =
      s"CASE WHEN ($x) >= 0 THEN ($x) // 1000000 ELSE -((-($x)) // 1000000) END"
    def strength(qx: String, sx: String): String =
      s"""CAST(CASE WHEN (n0 * CAST($qx AS HUGEINT) - CAST($sx AS HUGEINT) * $sx) > 0
         | THEN greatest(0, 1000000 -
         |   ((n0 * CAST(q_r AS HUGEINT) - CAST(s_r AS HUGEINT) * s_r) * 1000000)
         |   // (n0 * CAST($qx AS HUGEINT) - CAST($sx AS HUGEINT) * $sx))
         | ELSE 0 END AS BIGINT)""".stripMargin.replace("\n", " ")
    s"""WITH m AS (
       |  SELECT strftime(o_orderdate, '%Y-%m') AS month,
       |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
       |         AS BIGINT) AS rev
       |  FROM orders GROUP BY 1),
       |tr AS (
       |  SELECT month, rev,
       |    CASE WHEN count(*) OVER win = 13 THEN
       |      (2 * CAST(sum(rev) OVER win AS HUGEINT) * 1000000 + 13) // 26
       |    END AS trend_ppm
       |  FROM m
       |  WINDOW win AS (ORDER BY month ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING)),
       |dt AS (
       |  SELECT month, rev, trend_ppm,
       |    CAST(rev AS HUGEINT) * 1000000 - trend_ppm AS det_ppm
       |  FROM tr),
       |se0 AS (
       |  SELECT substr(month, 6, 2) AS moy,
       |    CAST(sum(det_ppm) AS HUGEINT) AS sd,
       |    CAST(count(*) AS HUGEINT) AS k
       |  FROM dt WHERE det_ppm IS NOT NULL GROUP BY 1),
       |se AS (
       |  SELECT moy, CASE WHEN sd >= 0
       |    THEN (2 * sd + k) // (2 * k)
       |    ELSE -((2 * -sd + k) // (2 * k)) END AS seasonal_ppm
       |  FROM se0),
       |c AS (
       |  SELECT ${sdivC("det_ppm - seasonal_ppm")} AS r,
       |    ${sdivC("det_ppm")} AS sr,
       |    ${sdivC("CAST(rev AS HUGEINT) * 1000000 - seasonal_ppm")} AS trv
       |  FROM dt JOIN se ON substr(month, 6, 2) = se.moy
       |  WHERE trend_ppm IS NOT NULL),
       |f AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n0,
       |    sum(CAST(r AS HUGEINT)) AS s_r,
       |    sum(CAST(r AS HUGEINT) * r) AS q_r,
       |    sum(CAST(sr AS HUGEINT)) AS s_sr,
       |    sum(CAST(sr AS HUGEINT) * sr) AS q_sr,
       |    sum(CAST(trv AS HUGEINT)) AS s_tr,
       |    sum(CAST(trv AS HUGEINT) * trv) AS q_tr
       |  FROM c)
       |SELECT n0 AS n_months,
       |  ${strength("q_sr", "s_sr")} AS strength_seasonal_ppm,
       |  ${strength("q_tr", "s_tr")} AS strength_trend_ppm
       |FROM f""".stripMargin
  }

  val rows: Seq[Q] = Seq(
    Q("q_topn_per_group", topnPerGroup, topnPerGroupSql),
    Q("q_lineitem_pricing", lineitemPricing, lineitemPricingSql),
    Q("q_revenue_join", revenueJoin, revenueJoinSql),
    Q("q_rollup_agg", rollupAgg, rollupAggSql),
    Q("q_edit_distance", editDistance, editDistanceSql),
    Q("q_approx_distinct", approxDistinct, approxDistinctSql),
    Q("q_pivot_status", pivotStatus, pivotStatusSql),
    Q("q_percentiles", percentiles, percentilesSql),
    Q("q_skew_join", skewJoin, skewJoinSql),
    Q("q_bloom_prune", bloomPrune, bloomPruneSql),
    Q("q_table_checksum", tableChecksum, tableChecksumSql),
    Q("q_quantile_sketch", quantileSketch, quantileSketchSql),
    Q("q_corr_matrix", corrMatrix, corrMatrixSql),
    Q("q_bucketed_join", bucketedJoin, bucketedJoinSql, bench = false),
    Q("q_table_diff", tableDiff, tableDiffSql),
    Q("q_fuzzy_join", fuzzyJoin, fuzzyJoinSql),
    Q("q_schema_evolution", schemaEvolution, schemaEvolutionSql, bench = false),
    Q("q_stats_pushdown", statsPushdown, statsPushdownSql),
    Q("q_partitioned_scan", partitionedScan, partitionedScanSql, bench = false),
    Q("q_cube", cubeAgg, cubeAggSql),
    Q("q_equidepth_hist", equidepthHist, equidepthHistSql),
    Q("q_fk_integrity", fkIntegrity, fkIntegritySql),
    Q("q_zorder", zorder, zorderSql),
    Q("q_hll_union", hllUnion, hllUnionSql),
    Q("q_unpivot", unpivotMetrics, unpivotMetricsSql),
    Q("q_jsonl_ingest", jsonlIngest, jsonlIngestSql, bench = false),
    Q("q_grouping_sets", groupingSets, groupingSetsSql),
    Q("q_scd2_lookup", scd2Lookup, scd2LookupSql),
    Q("q_bitmap_index", bitmapIndex, bitmapIndexSql),
    Q("q_benford", benford, benfordSql),
    Q("q_rfm", rfm, rfmSql),
    Q("q_orc_roundtrip", orcRoundtrip, orcRoundtripSql),
    Q("q_raking", raking, rakingSql),
    Q("q_csv_ingest", csvIngest, csvIngestSql),
    Q("q_k_anonymity", kAnonymity, kAnonymitySql),
    Q("q_compaction_plan", compactionPlan, compactionPlanSql),
    Q("q_zonemap_prune", zonemapPrune, zonemapPruneSql),
    Q("q_join_skew_audit", joinSkewAudit, joinSkewAuditSql),
    Q("q_fd_audit", fdAudit, fdAuditSql),
    Q("q_negative_sampling", negativeSampling, negativeSamplingSql),
    Q("q_binary_ingest", binaryIngest, binaryIngestSql, bench = false),
    Q("q_join_card_est", joinCardEst, joinCardEstSql),
    Q("q_calibration_ece", calibrationEce, calibrationEceSql),
    Q("q_woe_encode", woeEncode, woeEncodeSql),
    Q("q_brand_triples", brandTriples, brandTriplesSql),
    Q("q_info_gain", infoGain, infoGainSql),
    Q("q_target_encode", targetEncode, targetEncodeSql),
    Q("q_lift_curve", liftCurve, liftCurveSql),
    Q("q_auc", aucExact, aucExactSql),
    Q("q_pr_curve", prCurve, prCurveSql),
    Q("q_response_bias", responseBias, responseBiasSql),
    Q("q_design_effect", designEffect, designEffectSql),
    Q("q_horvitz_thompson", horvitzThompson, horvitzThompsonSql),
    Q("q_stratum_variance", stratumVariance, stratumVarianceSql),
    Q("q_icc_anova", iccAnova, iccAnovaSql),
    Q("q_nps", npsTable, npsTableSql),
    Q("q_wilson_ci", wilsonCi, wilsonCiSql),
    Q("q_weighted_median", weightedMedian, weightedMedianSql),
    Q("q_jackknife", jackknife, jackknifeSql),
    Q("q_ratio_estimator", ratioEstimator, ratioEstimatorSql),
    Q("q_hot_deck", hotDeck, hotDeckSql),
    Q("q_cochran_armitage", cochranArmitage, cochranArmitageSql),
    Q("q_greg_estimator", gregEstimator, gregEstimatorSql),
    Q("q_cramers_v", cramersV, cramersVSql),
    Q("q_anova", anova, anovaSql),
    Q("q_ols2", ols2, ols2Sql),
    Q("q_cusum", cusumDetect, cusumDetectSql),
    Q("q_l_diversity", lDiversity, lDiversitySql),
    Q("q_wilcoxon", wilcoxon, wilcoxonSql),
    Q("q_t_closeness", tCloseness, tClosenessSql),
    Q("q_mann_kendall", mannKendall, mannKendallSql),
    Q("q_sax", saxSymbols, saxSymbolsSql),
    Q("q_control_chart", controlChart, controlChartSql),
    Q("q_grubbs", grubbs, grubbsSql),
    Q("q_friedman", friedman, friedmanSql),
    Q("q_levene", levene, leveneSql),
    Q("q_effect_sizes", effectSizes, effectSizesSql),
    Q("q_bh_fdr", bhFdr, bhFdrSql),
    Q("q_qq_normal", qqNormal, qqNormalSql),
    Q("q_jarque_bera", jarqueBera, jarqueBeraSql),
    Q("q_durbin_watson", durbinWatson, durbinWatsonSql),
    Q("q_matrix_profile", matrixProfile, matrixProfileSql),
    Q("q_seasonal_mk", seasonalMk, seasonalMkSql),
    Q("q_ljung_box", ljungBox, ljungBoxSql),
    Q("q_cliffs_delta", cliffsDelta, cliffsDeltaSql),
    Q("q_hurst", hurst, hurstSql),
    Q("q_invoice_aging", invoiceAging, invoiceAgingSql),
    Q("q_abc_xyz", abcXyz, abcXyzSql),
    Q("q_price_index", priceIndex, priceIndexSql),
    Q("q_hhi", hhi, hhiSql),
    Q("q_cycle_time", cycleTime, cycleTimeSql),
    Q("q_price_volume_bridge", priceVolumeBridge, priceVolumeBridgeSql),
    Q("q_mantel_haenszel", mantelHaenszel, mantelHaenszelSql),
    Q("q_pacf", pacf, pacfSql),
    Q("q_periodogram", periodogram, periodogramSql),
    Q("q_permutation_test", permutationTest, permutationTestSql),
    Q("q_tukey_hsd", tukeyHsd, tukeyHsdSql),
    Q("q_did", did, didSql),
    Q("q_iv_wald", ivWald, ivWaldSql),
    Q("q_elasticity", elasticity, elasticitySql),
    Q("q_stratified_ate", stratifiedAte, stratifiedAteSql),
    Q("q_gumbel_fit", gumbelFit, gumbelFitSql),
    Q("q_bloom_fpr", bloomFpr, bloomFprSql),
    Q("q_assoc_rules", assocRules, assocRulesSql),
    Q("q_rdd_cutoff", rddCutoff, rddCutoffSql),
    Q("q_energy_distance", energyDistance, energyDistanceSql),
    Q("q_cochran_q", cochranQ, cochranQSql),
    Q("q_page_trend", pageTrend, pageTrendSql),
    Q("q_jonckheere", jonckheere, jonckheereSql),
    Q("q_conformal_interval", conformalInterval, conformalIntervalSql),
    Q("q_cooks_distance", cooksDistance, cooksDistanceSql),
    Q("q_isotonic", isotonic, isotonicSql),
    Q("q_qte", qte, qteSql),
    Q("q_ipw_ate", ipwAte, ipwAteSql),
    Q("q_caliper_match", caliperMatch, caliperMatchSql),
    Q("q_fixed_effects", fixedEffects, fixedEffectsSql),
    Q("q_chow_test", chowTest, chowTestSql),
    Q("q_gpd_pot", gpdPot, gpdPotSql),
    Q("q_theil_index", theilIndex, theilIndexSql),
    Q("q_james_stein", jamesStein, jamesSteinSql),
    Q("q_beta_binomial", betaBinomial, betaBinomialSql),
    Q("q_learned_index", learnedIndex, learnedIndexSql),
    Q("q_rosenbaum", rosenbaum, rosenbaumSql),
    Q("q_consistent_hash", consistentHash, consistentHashSql),
    Q("q_knee_point", kneePoint, kneePointSql),
    Q("q_fuzzy_phone", fuzzyPhone, fuzzyPhoneSql),
    Q("q_group_sequential", groupSequential, groupSequentialSql),
    Q("q_agg_reversal", aggReversal, aggReversalSql),
    Q("q_mediation", mediation, mediationSql),
    Q("q_stl_strength", stlStrength, stlStrengthSql),
  )
}

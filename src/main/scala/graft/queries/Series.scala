package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators._
import graft.streaming.EventsStream

/** Queries whose primary input is the `events` table (through
  * `Common.events`): windows, sessions, streams, funnels and the
  * time-series statistics. */
object Series extends QueryFamily("series") {
  import Common._
  import FixedPoint.{lnQ, sdivPpm}

  /** events with `ts` additionally exposed as epoch-microsecond long
    * (`ts_us`) for queries doing pure integer time arithmetic that must
    * match a DuckDB `epoch_ns`/`epoch_us` oracle bit-for-bit. */
  private def eventsMicros(s: SparkSession, dir: String): DataFrame =
    events(s, dir).withColumn("ts_us", unix_micros(col("ts")))

  /** ISO day-of-week from an epoch-µs column by pure integer
    * arithmetic (1970-01-01 was a Thursday): dow = (day + 3) mod 7 + 1
    * — no engine calendar function crosses the oracle boundary.
    * Shared by #174 Mann–Whitney, #182 hist2d, #203 mutual info. */
  private def isoDowExpr(tsUsCol: String): String =
    s"pmod($tsUsCol div 86400000000 + 3, 7) + 1"

  /** #32 skew-resistant aggregation: two-phase salted count/sum over the
    * events stream's few-hot-keys distribution. Values route through
    * DECIMAL so the two-phase sum is exactly the one-phase sum. */
  private def skewAgg(s: SparkSession, dir: String): DataFrame =
    SkewedAgg.saltedCountSum(
      events(s, dir).withColumn("value", col("value").cast("decimal(18,2)")),
      "event_type", "value", salts = 16)
      .select(col("event_type"), col("n"), col("total").cast("double").as("total"))

  private val skewAggSql =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM events GROUP BY 1""".stripMargin

  /** #28 tumbling-window aggregation over events (batch parity of the
    * streaming job in graft.streaming.EventsStream). */
  private def eventsWindow(s: SparkSession, dir: String): DataFrame =
    EventsStream.hourlyStats(events(s, dir))
      .select(col("window_start"), col("event_type"), col("n"),
        col("total_value").cast("double").as("total_value"))

  private val eventsWindowSql =
    """SELECT date_trunc('hour', ts) AS window_start, event_type,
      |  count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1, 2""".stripMargin

  /** #29 gap-based sessionization, batch form (lag-gap cumulative sum;
    * streaming form is EventsStream.sessionize via flatMapGroupsWithState). */
  private def sessionize(s: SparkSession, dir: String): DataFrame = {
    val gapMicros = 1800L * 1000000L // 30 min
    val byUser = Window.partitionBy("user_id").orderBy(col("__t"), col("event_id"))
    events(s, dir)
      .withColumn("__t", unix_micros(col("ts")))
      .withColumn("__new",
        when(col("__t") - lag(col("__t"), 1).over(byUser) > gapMicros, 1)
          .when(lag(col("__t"), 1).over(byUser).isNull, 1)
          .otherwise(0))
      .withColumn("session_id",
        sum(col("__new")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)).cast("int"))
      .select("event_id", "user_id", "session_id")
  }

  private val sessionizeSql =
    """WITH b AS (SELECT event_id, user_id, epoch_us(ts) AS t FROM events),
      |l AS (SELECT event_id, user_id, t,
      |        lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS pt
      |      FROM b),
      |n AS (SELECT event_id, user_id, t,
      |        CASE WHEN pt IS NULL OR t - pt > 1800000000 THEN 1 ELSE 0 END AS nw
      |      FROM l)
      |SELECT event_id, user_id,
      |  CAST(sum(nw) OVER (PARTITION BY user_id ORDER BY t, event_id
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT) AS session_id
      |FROM n""".stripMargin

  /** #33 as-of join: each event annotated with the most recent
    * prior-or-equal signup of the same user (point-in-time lookup). */
  private def asofJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val left = ev.select("event_id", "user_id", "ts")
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts"), col("event_id").as("prior_signup_id"))
    AsofJoin.lastPriorMatch(left, signups, "user_id", "ts", "ts",
      "prior_signup_id", "prior_signup_id")
      .select("event_id", "user_id", "prior_signup_id")
  }

  private val asofJoinSql =
    """WITH l AS (SELECT event_id AS prior_signup_id, user_id, epoch_us(ts) AS t
      |           FROM events WHERE event_type = 'signup')
      |SELECT e.event_id, e.user_id, l.prior_signup_id
      |FROM (SELECT event_id, user_id, epoch_us(ts) AS t FROM events) e
      |ASOF LEFT JOIN l ON e.user_id = l.user_id AND l.t <= e.t""".stripMargin

  /** #51 as-of join with a freshness bound: the point-in-time lookup
    * EXPIRES when the matched row is older than the tolerance ("most
    * recent signup within the last hour") — same single-window plan as
    * #33, the bound applied to the carried timestamp, never a range
    * join. */
  private def asofTolerance(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val left = ev.select("event_id", "user_id", "ts")
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts"), col("event_id").as("prior_signup_id"))
    AsofJoin.lastPriorMatchWithin(left, signups, "user_id", "ts", "ts",
      "prior_signup_id", "recent_signup_id", toleranceSeconds = 3600L)
      .select("event_id", "user_id", "recent_signup_id")
  }

  private val asofToleranceSql =
    """WITH l AS (SELECT event_id AS sid, user_id, epoch_us(ts) AS t
      |           FROM events WHERE event_type = 'signup')
      |SELECT e.event_id, e.user_id,
      |  CASE WHEN l.t >= e.t - 3600000000 THEN l.sid ELSE NULL END AS recent_signup_id
      |FROM (SELECT event_id, user_id, epoch_us(ts) AS t FROM events) e
      |ASOF LEFT JOIN l ON e.user_id = l.user_id AND l.t <= e.t""".stripMargin

  /** #37 JSON extraction from the events payload column (semi-structured
    * props ride as strings; extraction is codegen'd, no UDF). */
  private def jsonExtract(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k_val"))

  private val jsonExtractSql =
    """SELECT event_id,
      |  CAST(json_extract_string(props, '$.k') AS INT) AS k_val
      |FROM events""".stripMargin

  /** #39 moving-window sum per user over the event stream (5-row frame;
    * DECIMAL so the frame sum is order-independent exact). */
  private def movingSum(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(-4, 0)
    events(s, dir)
      .withColumn("mov_sum",
        sum(col("value").cast("decimal(18,2)")).over(w).cast("double"))
      .select("event_id", "user_id", "mov_sum")
  }

  private val movingSumSql =
    """SELECT event_id, user_id,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (
      |    PARTITION BY user_id ORDER BY epoch_us(ts), event_id
      |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS DOUBLE) AS mov_sum
      |FROM events""".stripMargin

  /** #56 streaming ingest dedup (batch parity): earliest event per
    * (user, type) via one `min_by` aggregate — the batch form of
    * `dropDuplicatesWithinWatermark` (EventsStream.firstTouch; the
    * streaming form runs in EventsStreamSpec). */
  private def streamDedup(s: SparkSession, dir: String): DataFrame =
    EventsStream.firstTouch(events(s, dir))
      .select(col("user_id"), col("event_type"), col("first_event_id"),
        unix_micros(col("first_ts")).as("first_us"))

  private val streamDedupSql =
    """SELECT user_id, event_type, event_id AS first_event_id, epoch_us(ts) AS first_us
      |FROM (SELECT user_id, event_type, event_id, ts,
      |        row_number() OVER (PARTITION BY user_id, event_type
      |             ORDER BY epoch_us(ts), event_id) AS rn
      |      FROM events)
      |WHERE rn = 1""".stripMargin

  /** #57 fixed-bin histogram of event values per type: one map-side-
    * combinable pass (bin = clamped floor-div), the profiling primitive
    * that needs no pre-scan. (A dynamic-range histogram adds one min/max
    * pass first — same aggregate after.) */
  private def histogram(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .select(col("event_type"),
        least(greatest(floor(col("value") / 50), lit(0)), lit(9)).cast("int").as("bin"))
      .groupBy("event_type", "bin")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("bin_lo", (col("bin") * 50).cast("double"))

  private val histogramSql =
    """SELECT event_type,
      |  CAST(least(greatest(floor(value / 50), 0), 9) AS INT) AS bin,
      |  count(*) AS cnt,
      |  CAST(CAST(least(greatest(floor(value / 50), 0), 9) AS INT) * 50 AS DOUBLE) AS bin_lo
      |FROM events GROUP BY 1, 2""".stripMargin

  /** #58 incremental aggregation: the history partition (3/4 of events)
    * is pre-reduced to its algebraic (cnt, DECIMAL sum) state; the delta
    * partition folds in by state merge — no history rescan. The oracle
    * recomputes the aggregate over ALL events, proving merge-of-partials
    * ≡ full recompute. */
  private def incrementalAgg(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val history = IncrementalAgg.state(
      ev.filter(pmod(col("event_id"), lit(4)) =!= 0), "user_id", "value")
    val delta = IncrementalAgg.state(
      ev.filter(pmod(col("event_id"), lit(4)) === 0), "user_id", "value")
    IncrementalAgg.merge("user_id", history, delta)
      .select(col("user_id"), col("cnt").as("n_events"),
        col("total").cast("double").as("total"))
  }

  private val incrementalAggSql =
    """SELECT user_id, count(*) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
      |FROM events GROUP BY 1""".stripMargin

  /** #59 range join: every event matched to the 6-hour "campaign
    * windows" it falls in (campaigns = each 100th signup). NO equality
    * key exists, so a naive join is a BroadcastNestedLoopJoin — the
    * grid-bucket rewrite (RangeJoin) makes it a shuffled equi-join on
    * the time bucket. The oracle compares at µs precision on both
    * sides (epoch_us), matching Spark's timestamp grain. */
  private def rangeJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val campaigns = ev
      .filter(col("event_type") === "signup" && pmod(col("event_id"), lit(100)) === 0)
      .select(col("event_id").as("campaign_id"), col("ts").as("start_ts"),
        (col("ts") + expr("INTERVAL 6 HOURS")).as("end_ts"))
    RangeJoin.pointInInterval(ev.select("event_id", "ts"), "ts",
        campaigns, "start_ts", "end_ts", bucketSeconds = 21600)
      .select("event_id", "campaign_id")
  }

  private val rangeJoinSql =
    """WITH c AS (SELECT event_id AS campaign_id, epoch_us(ts) AS s
      |           FROM events WHERE event_type = 'signup' AND event_id % 100 = 0)
      |SELECT e.event_id, c.campaign_id
      |FROM (SELECT event_id, epoch_us(ts) AS t FROM events) e
      |JOIN c ON c.s <= e.t AND e.t < c.s + 21600000000""".stripMargin

  /** #63 ordered funnel signup → view → purchase: per user the earliest
    * completion micros of each step, each step at-or-after the previous
    * step's earliest completion. Every stage filters the fact rows to
    * its step BEFORE shuffling and joins frontiers on the one funnel
    * key (co-partitioned; AQE reuses the exchange). */
  private def funnel(s: SparkSession, dir: String): DataFrame =
    Funnel.firstCompletion(
      events(s, dir).withColumn("__us", unix_micros(col("ts"))),
      "user_id", col("__us"),
      Seq(
        "t_signup_us" -> (col("event_type") === "signup"),
        "t_view_us" -> (col("event_type") === "view"),
        "t_purchase_us" -> (col("event_type") === "purchase")))

  private val funnelSql =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
      |s1 AS (SELECT user_id, min(t) AS t1 FROM e
      |       WHERE event_type = 'signup' GROUP BY 1),
      |s2 AS (SELECT e.user_id, min(e.t) AS t2 FROM e
      |       JOIN s1 ON e.user_id = s1.user_id AND e.t >= s1.t1
      |       WHERE e.event_type = 'view' GROUP BY 1),
      |s3 AS (SELECT e.user_id, min(e.t) AS t3 FROM e
      |       JOIN s2 ON e.user_id = s2.user_id AND e.t >= s2.t2
      |       WHERE e.event_type = 'purchase' GROUP BY 1)
      |SELECT s1.user_id, s1.t1 AS t_signup_us, s2.t2 AS t_view_us,
      |  s3.t3 AS t_purchase_us,
      |  CAST(CASE WHEN s3.t3 IS NOT NULL THEN 3
      |            WHEN s2.t2 IS NOT NULL THEN 2
      |            ELSE 1 END AS INT) AS depth
      |FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
      |        LEFT JOIN s3 ON s1.user_id = s3.user_id""".stripMargin

  /** #64 cohort retention: users grouped by first-event date, distinct
    * actives per day offset — the retention matrix as two hash
    * aggregates and one co-partitioned join (no per-cohort loop). */
  private def retention(s: SparkSession, dir: String): DataFrame =
    TimeSeries.cohortRetention(events(s, dir), "user_id", to_date(col("ts")))

  private val retentionSql =
    """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
      |c AS (SELECT user_id, min(d) AS cd FROM e GROUP BY 1)
      |SELECT strftime(c.cd, '%Y-%m-%d') AS cohort_date,
      |  CAST(date_diff('day', c.cd, e.d) AS INT) AS day_offset,
      |  count(DISTINCT e.user_id) AS n_users
      |FROM e JOIN c ON e.user_id = c.user_id
      |GROUP BY 1, 2""".stripMargin

  /** #65 per-user hourly gap fill: a dense zero-filled hour grid between
    * each sampled user's first and last event — resampling via exact
    * long bucket ids and a per-key `sequence` explode (no global
    * calendar table, no double-precision timestamp math). */
  private def gapFill(s: SparkSession, dir: String): DataFrame =
    TimeSeries.denseCounts(
      events(s, dir).filter(col("user_id") % 29 === 0),
      "user_id", unix_micros(col("ts")), bucketUs = 3600L * 1000000L)

  private val gapFillSql =
    """WITH e AS (SELECT user_id, epoch_us(ts) // 3600000000 AS b
      |           FROM events WHERE user_id % 29 = 0),
      |c AS (SELECT user_id, b, count(*) AS n FROM e GROUP BY 1, 2),
      |s AS (SELECT user_id, min(b) AS b0, max(b) AS b1 FROM e GROUP BY 1),
      |g AS (SELECT user_id, unnest(generate_series(b0, b1)) AS bucket_id FROM s)
      |SELECT g.user_id, g.bucket_id,
      |  CAST(coalesce(c.n, 0) AS BIGINT) AS n_events
      |FROM g LEFT JOIN c ON g.user_id = c.user_id AND g.bucket_id = c.b""".stripMargin

  /** #82 z-score anomaly detection per event type — the monitoring
    * primitive over a metric stream. Group moments accumulate as EXACT
    * DECIMAL sums (one map-side-combinable aggregate over the stats
    * pass); the per-row z uses the sample std-dev in one deterministic
    * double expression off those sums, broadcast back — the detection
    * pass is map-only at any scale (same two-pass shape as q_bm25's
    * global normalization). */
  private def anomalyZscore(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
      .select(col("event_id"), col("event_type"),
        col("value").cast("decimal(18,2)").as("v"))
    val stats = ev.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s1"),
        sum(col("v") * col("v")).as("s2"))
    val nD = col("n").cast("double")
    val s1 = col("s1").cast("double"); val s2 = col("s2").cast("double")
    ev.join(broadcast(stats), Seq("event_type"))
      .withColumn("z",
        (col("v").cast("double") - s1 / nD) /
          sqrt((nD * s2 - s1 * s1) / (nD * (nD - lit(1.0)))))
      .filter(abs(col("z")) > 3.0)
      .select(col("event_id"), col("event_type"),
        col("v").cast("double").as("value"), round(col("z"), 6).as("z"))
  }

  private val anomalyZscoreSql =
    """WITH d AS (
      |  SELECT event_id, event_type, CAST(value AS DECIMAL(18,2)) AS v
      |  FROM events),
      |s AS (
      |  SELECT event_type, count(*) AS n, sum(v) AS s1, sum(v*v) AS s2
      |  FROM d GROUP BY 1),
      |z AS (
      |  SELECT d.event_id, d.event_type, CAST(d.v AS DOUBLE) AS value,
      |    (CAST(d.v AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) /
      |      sqrt((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE) -
      |            CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) /
      |           (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) AS z
      |  FROM d JOIN s USING (event_type))
      |SELECT event_id, event_type, value, round(z, 6) AS z
      |FROM z WHERE abs(z) > 3.0""".stripMargin

  /** #83 interval (stream-stream) join, batch form: views attributed to
    * the purchase they precede within 30 minutes, per user — the
    * attribution join every event pipeline runs. The join is an
    * EQUI-join on user_id with the time band as a residual predicate
    * (co-partitioned shuffle, per-user fan-out only — never a range
    * explosion across users); timestamp-interval arithmetic is
    * micros-exact, matching the oracle's epoch_us form. The join itself
    * IS EventsStream.viewsBeforePurchase — one definition of the band,
    * run in batch here and under watermarks in streaming
    * (EventsStreamSpec pins the parity). */
  private def streamJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).select("event_id", "ts", "user_id", "event_type")
    val purchases = ev.filter(col("event_type") === "purchase")
      .drop("event_type")
    val views = ev.filter(col("event_type") === "view").drop("event_type")
    // the SAME join the streaming form runs (one definition of the band;
    // EventsStreamSpec pins batch/stream parity on it), wrapped with the
    // zero-count left side batch reporting wants
    val attributed = EventsStream.viewsBeforePurchase(purchases, views)
      .groupBy("purchase_id").agg(count(lit(1)).as("__n"))
    purchases
      .select(col("event_id").as("purchase_id"), col("user_id"))
      .join(attributed, Seq("purchase_id"), "left_outer")
      .select(col("purchase_id"), col("user_id"),
        coalesce(col("__n"), lit(0L)).as("n_views"))
  }

  private val streamJoinSql =
    """WITH b AS (
      |  SELECT event_id, user_id, event_type, epoch_us(ts) AS t FROM events),
      |p AS (SELECT event_id AS purchase_id, user_id, t AS pt FROM b
      |      WHERE event_type = 'purchase'),
      |v AS (SELECT user_id, t AS vt, event_id AS view_id FROM b
      |      WHERE event_type = 'view')
      |SELECT purchase_id, p.user_id AS user_id,
      |  CAST(count(view_id) AS BIGINT) AS n_views
      |FROM p LEFT JOIN v
      |  ON p.user_id = v.user_id AND v.vt >= p.pt - 1800000000 AND v.vt < p.pt
      |GROUP BY 1, 2""".stripMargin

  /** #86 time-weighted average (TWAP) per user — the correct mean of a
    * sampled-at-irregular-intervals metric, where each value holds
    * until the next observation. Durations are exact epoch-micros
    * longs; values go through exact cents (v·100 as long); the weighted
    * sum accumulates as DECIMAL(38,0) — overflow-proof and
    * order-independent — and only the final division is double. The
    * lead() window partitions per user (bounded), then one grouped
    * aggregate; single-observation users carry no duration and are
    * excluded (no 0/0). */
  private def timeWeightedAvg(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("__t"), col("event_id"))
    events(s, dir)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("__t"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("__c"))
      .withColumn("__dur", lead(col("__t"), 1).over(w) - col("__t"))
      .filter(col("__dur").isNotNull)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_intervals"),
        // cast BEFORE the multiply: a long×long product of cents×micros
        // can exceed Long.MaxValue (≈5000.00 held for a year); the
        // DECIMAL(18,0)×DECIMAL(18,0) product is exact at (37,0)
        sum(col("__c").cast("decimal(18,0)") * col("__dur").cast("decimal(18,0)"))
          .as("__wv"),
        sum(col("__dur")).as("__d"))
      .filter(col("__d") > 0)
      .select(col("user_id"), col("n_intervals"),
        round(col("__wv").cast("double") / (lit(100.0) * col("__d").cast("double")), 6)
          .as("twap"))
  }

  private val timeWeightedAvgSql =
    """WITH b AS (
      |  SELECT event_id, user_id, epoch_us(ts) AS t,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
      |  FROM events),
      |l AS (
      |  SELECT user_id, c,
      |    lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id) - t AS dur
      |  FROM b),
      |g AS (
      |  SELECT user_id, count(*) AS n_intervals,
      |    sum(CAST(c AS DECIMAL(18,0)) * CAST(dur AS DECIMAL(18,0))) AS wv,
      |    sum(dur) AS d
      |  FROM l WHERE dur IS NOT NULL GROUP BY 1)
      |SELECT user_id, CAST(n_intervals AS BIGINT) AS n_intervals,
      |  round(CAST(wv AS DOUBLE) / (100.0 * CAST(d AS DOUBLE)), 6) AS twap
      |FROM g WHERE d > 0""".stripMargin

  /** #91 hopping (sliding) window aggregation — overlapping 10-minute
    * windows every 5 minutes over the event stream, the smoothed-rate
    * view a tumbling window can't give. Spark's `window(ts, w, s)`
    * explodes each row into w/s = 2 window assignments MAP-SIDE and
    * hash-aggregates — constant fan-out, no self-join, no range join;
    * the oracle replays the same assignment arithmetically (the two
    * slide-aligned starts covering each timestamp, in exact epoch
    * micros). DECIMAL value sums keep the hash gate shuffle-order-proof. */
  private def hoppingWindow(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).as("__t"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"),
        col("__t").cast("double").as("total_value"))

  private val hoppingWindowSql =
    """WITH ev AS (SELECT event_type, value, epoch_us(ts) AS us FROM events),
      |assigned AS (
      |  SELECT event_type, value,
      |    (us // 300000000 - k) * 300000000 AS start_us
      |  FROM ev CROSS JOIN (SELECT unnest([0, 1]) AS k)
      |  WHERE (us // 300000000 - k) * 300000000 > us - 600000000)
      |SELECT make_timestamp(start_us) AS window_start, event_type,
      |  count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM assigned GROUP BY 1, 2""".stripMargin

  /** #93 robust outlier detection via median absolute deviation — the
    * heavy-tail-safe alternative to q_anomaly_zscore (one wild value
    * drags a mean/stddev band; the median/MAD band doesn't move). Two
    * exact order statistics per event type via distributed rank
    * selection (never a per-group value buffer), each broadcast back as
    * a bounded stats row; the flag pass is map-only over the full scan.
    * Threshold arithmetic is written identically in both engines
    * ((3·1.4826)·mad, left-assoc double) so the boundary bits agree. */
  private def madOutlier(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).select(col("event_type"), col("value"))
    val med = DistributedPercentiles.exact(ev, "event_type", "value", Seq(("med", 0.5)))
    val dev = ev.join(broadcast(med), Seq("event_type"))
      .withColumn("__dev", abs(col("value") - col("med")))
    val mad = DistributedPercentiles.exact(
      dev.select(col("event_type"), col("__dev")), "event_type", "__dev",
      Seq(("mad", 0.5)))
    dev.join(broadcast(mad), Seq("event_type"))
      .withColumn("__out",
        (abs(col("value") - col("med")) > lit(3.0) * lit(1.4826) * col("mad")).cast("int"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("__out")).as("n_outliers"),
        first(col("med")).as("med"), first(col("mad")).as("mad"))
  }

  private val madOutlierSql =
    """WITH med AS (
      |  SELECT event_type, quantile_cont(value, 0.5) AS med
      |  FROM events GROUP BY 1),
      |mad AS (
      |  SELECT e.event_type, quantile_cont(abs(e.value - m.med), 0.5) AS mad
      |  FROM events e JOIN med m USING (event_type) GROUP BY 1)
      |SELECT e.event_type, count(*) AS n,
      |  CAST(sum(CAST(abs(e.value - m.med) > 3 * 1.4826 * d.mad AS INT)) AS BIGINT)
      |    AS n_outliers,
      |  any_value(m.med) AS med, any_value(d.mad) AS mad
      |FROM events e JOIN med m USING (event_type) JOIN mad d USING (event_type)
      |GROUP BY 1""".stripMargin

  /** #94 distribution drift via the population stability index — the
    * monitoring gate a feeder runs before loading a new batch: compare
    * the value distribution of the later ingestion half against the
    * earlier half, per event type. Bin counts come from ONE map-side-
    * combinable aggregate over the fixed q_histogram grid (no pre-scan;
    * the id cut is a broadcast 1-row min/max agg); PSI folds the ≤10
    * per-bin terms in FIXED POINT (Σ ⌊term·1e9⌋ longs) so the cross-bin
    * double sum is shuffle-order-proof. Laplace +1 smoothing keeps
    * empty bins finite. PSI > 0.2 = "investigate before load". */
  private def driftPsi(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    // integer `div`, not `/` + cast: double-divide-then-cast truncates on
    // the JVM but rounds in engines that round-half-even on CAST
    val cut = ev.agg(min("event_id").as("__mn"), max("event_id").as("__mx"))
      .select(expr("(__mn + __mx) div 2").as("cut"))
    val binned = ev.crossJoin(broadcast(cut))
      .select(col("event_type"),
        when(col("event_id") <= col("cut"), 0).otherwise(1).as("period"),
        least(greatest(floor(col("value") / 50), lit(0)), lit(9)).cast("int").as("bin"))
      .groupBy("event_type", "bin")
      .agg(sum(when(col("period") === 0, 1L).otherwise(0L)).as("c0"),
        sum(when(col("period") === 1, 1L).otherwise(0L)).as("c1"))
    val totals = Window.partitionBy("event_type")
    binned
      .withColumn("n0", sum("c0").over(totals))
      .withColumn("n1", sum("c1").over(totals))
      .withColumn("p", (col("c0") + lit(1)).cast("double") / (col("n0") + lit(10)).cast("double"))
      .withColumn("q", (col("c1") + lit(1)).cast("double") / (col("n1") + lit(10)).cast("double"))
      .withColumn("__term", floor((col("p") - col("q")) * log(col("p") / col("q")) * lit(1e9)).cast("long"))
      .groupBy("event_type")
      .agg(sum("c0").as("n_before"), sum("c1").as("n_after"),
        round(sum("__term").cast("double") / lit(1e9), 6).as("psi"))
  }

  private val driftPsiSql =
    """WITH cut AS (
      |  SELECT (min(event_id) + max(event_id)) // 2 AS cut FROM events),
      |binned AS (
      |  SELECT event_type,
      |    CAST(least(greatest(floor(value / 50), 0), 9) AS INT) AS bin,
      |    sum(CASE WHEN event_id <= cut THEN 1 ELSE 0 END) AS c0,
      |    sum(CASE WHEN event_id <= cut THEN 0 ELSE 1 END) AS c1
      |  FROM events CROSS JOIN cut GROUP BY 1, 2),
      |terms AS (
      |  SELECT event_type, c0, c1,
      |    CAST(floor((p - q) * ln(p / q) * 1e9) AS BIGINT) AS term
      |  FROM (SELECT event_type, c0, c1,
      |          CAST(c0 + 1 AS DOUBLE) / CAST(sum(c0) OVER (PARTITION BY event_type) + 10 AS DOUBLE) AS p,
      |          CAST(c1 + 1 AS DOUBLE) / CAST(sum(c1) OVER (PARTITION BY event_type) + 10 AS DOUBLE) AS q
      |        FROM binned))
      |SELECT event_type, CAST(sum(c0) AS BIGINT) AS n_before,
      |  CAST(sum(c1) AS BIGINT) AS n_after,
      |  round(CAST(sum(term) AS DOUBLE) / 1e9, 6) AS psi
      |FROM terms GROUP BY 1""".stripMargin

  /** #97 out-of-order ingestion audit — how late do events arrive
    * relative to the high-watermark (the watermark-lag signal that
    * sizes streaming state and bounds `withWatermark` tolerances)?
    * Lateness = prev_max(ts) − ts over ARRIVAL order (event_id), an
    * exclusive prefix max. The naive form — `max(ts) OVER (ORDER BY
    * event_id ROWS UNBOUNDED PRECEDING AND 1 PRECEDING)` — is an
    * unpartitioned window, one reducer; `PrefixSum.runningMaxExclusive`
    * is the two-phase distributed scan instead (O(partitions) driver
    * combine). Tolerance 10 min = the `withWatermark` default this
    * audit would validate. The synthetic feed arrives perfectly
    * time-ordered, which left n_late = 0 at every SF (a vacuous audit,
    * r9 vacuity sweep) — so every 97th event is deterministically
    * DELAYED 2h in event time (the q_dead_letter fixture-injection
    * precedent: the audit path must fire on the data it gates). */
  private def lateArrival(s: SparkSession, dir: String): DataFrame = {
    val tolUs = 600000000L // 10 min
    val ev = events(s, dir)
      .select(col("event_id"), col("event_type"),
        (unix_micros(col("ts")) -
          when(col("event_id") % 97 === 0, 7200000000L).otherwise(0L))
          .as("us"))
    PrefixSum.runningMaxExclusive(ev, "event_id", "us")
      .withColumn("late_us", greatest(coalesce(col("prev_max") - col("us"), lit(0L)), lit(0L)))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum((col("late_us") > tolUs).cast("long")).as("n_late"),
        max("late_us").as("max_late_us"))
  }

  private val lateArrivalSql =
    """WITH b AS (
      |  SELECT event_id, event_type,
      |    epoch_us(ts) - CASE WHEN event_id % 97 = 0
      |      THEN 7200000000 ELSE 0 END AS us
      |  FROM events),
      |w AS (
      |  SELECT event_type,
      |    greatest(coalesce(max(us) OVER (ORDER BY event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) - us, 0), 0)
      |      AS late_us
      |  FROM b)
      |SELECT event_type, count(*) AS n,
      |  CAST(sum(CASE WHEN late_us > 600000000 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_late,
      |  max(late_us) AS max_late_us
      |FROM w GROUP BY 1""".stripMargin

  /** #98 dead-letter routing — the feeder's "skip the rows that won't
    * load, keep the reasons" semantic (feeder.py:157-160 reports
    * skipped rows) upgraded to schema validation: each raw JSON payload
    * either parses clean or routes to a dead-letter with the FIRST
    * failing check (malformed → missing field → bad type → out of
    * range). Corruption is injected deterministically (the fuzzy-join
    * fixture pattern) since the synthetic feed is all-valid. Map-only
    * codegen'd pass — validation never shuffles; the output is the
    * dead-letter table itself, grouped for the load report. */
  private def deadLetter(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
      .withColumn("raw",
        when(col("event_id") % 37 === 0, expr("substr(props, 1, length(props) - 1)"))
          .when(col("event_id") % 41 === 0, lit("""{"j": 1}"""))
          .when(col("event_id") % 43 === 0, lit("""{"k": "oops"}"""))
          .otherwise(col("props")))
    ev.withColumn("reason",
        when(get_json_object(col("raw"), "$").isNull, "malformed_json")
          .when(get_json_object(col("raw"), "$.k").isNull, "missing_field")
          .when(expr("try_cast(get_json_object(raw, '$.k') AS INT)").isNull, "bad_type")
          .when(expr("try_cast(get_json_object(raw, '$.k') AS INT)") > 95, "out_of_range")
          .otherwise("ok"))
      .filter(col("reason") =!= "ok")
      .groupBy("event_type", "reason")
      .agg(count(lit(1)).as("n"), min("event_id").as("first_event_id"))
  }

  private val deadLetterSql =
    """WITH fed AS (
      |  SELECT event_id, event_type,
      |    CASE WHEN event_id % 37 = 0 THEN substr(props, 1, length(props) - 1)
      |         WHEN event_id % 41 = 0 THEN '{"j": 1}'
      |         WHEN event_id % 43 = 0 THEN '{"k": "oops"}'
      |         ELSE props END AS raw
      |  FROM events),
      |checked AS (
      |  SELECT event_id, event_type,
      |    CASE WHEN NOT json_valid(raw) THEN 'malformed_json'
      |         WHEN json_extract_string(raw, '$.k') IS NULL THEN 'missing_field'
      |         WHEN try_cast(json_extract_string(raw, '$.k') AS INT) IS NULL THEN 'bad_type'
      |         WHEN try_cast(json_extract_string(raw, '$.k') AS INT) > 95 THEN 'out_of_range'
      |         ELSE 'ok' END AS reason
      |  FROM fed)
      |SELECT event_type, reason, count(*) AS n, min(event_id) AS first_event_id
      |FROM checked WHERE reason <> 'ok'
      |GROUP BY 1, 2""".stripMargin

  /** #99 session windows via the DECLARATIVE built-in — the same
    * gap-based sessions as `q_sessionize` but as `session_window(ts,
    * gap)`, Spark's native session aggregate: windows [ts, ts+gap)
    * merge while they overlap, so a session ends at last_event + gap
    * and a new event at exactly the closing boundary starts a NEW
    * session (end-exclusive — the oracle breaks on `t - prev >= gap`
    * where the lag-based q_sessionize breaks on `>`). One shuffle on
    * user_id, per-key in-order merge — no unbounded window, and the
    * same plan shape Structured Streaming uses for native streaming
    * sessionization (vs sessionize's explicit state machine). */
  private def sessionWindowFn(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"))

  private val sessionWindowFnSql =
    """WITH b AS (
      |  SELECT event_id, user_id, epoch_us(ts) AS t FROM events),
      |l AS (
      |  SELECT user_id, t,
      |    lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS pt
      |  FROM b),
      |m AS (
      |  SELECT user_id, t,
      |    CASE WHEN pt IS NULL OR t - pt >= 1800000000 THEN 1 ELSE 0 END AS brk
      |  FROM l),
      |sid AS (
      |  SELECT user_id, t,
      |    sum(brk) OVER (PARTITION BY user_id ORDER BY t
      |      ROWS UNBOUNDED PRECEDING) AS sess
      |  FROM m)
      |SELECT user_id, make_timestamp(min(t)) AS session_start,
      |  make_timestamp(max(t) + 1800000000) AS session_end,
      |  count(*) AS n_events
      |FROM sid GROUP BY user_id, sess""".stripMargin

  /** #101 Welch two-sample t-test per event type — did the value mean
    * move between the two ingestion halves? (The mean-shift complement
    * of q_drift_psi's shape test and q_mad_outlier's tail test.) ALL
    * moments (n, Σv, Σv²) for both halves come from ONE map-side-
    * combinable aggregate in exact DECIMAL — the non-associative double
    * arithmetic (means, variances, the t statistic) happens only in the
    * final deterministic projection, so the result is bit-stable under
    * any partitioning. |t| > 1.96 flags a mean shift at ~95%. */
  private def welchTtest(s: SparkSession, dir: String): DataFrame = {
    val ev0 = events(s, dir)
    // one PLANTED calibration group: the natural event types draw both
    // halves from the same distribution, so mean_shift never fired at
    // any SF and a broken detector was invisible (r10 vacuity audit).
    // 'calib_shift' clones the view rows and moves its second half by
    // +25 — the t-test must flag exactly this known injected effect.
    val ev = ev0.select("event_type", "event_id", "value")
      .unionAll(ev0.filter(col("event_type") === "view")
        .select(lit("calib_shift").as("event_type"), col("event_id"),
          col("value")))
    val cut = ev0.agg(min("event_id").as("__mn"), max("event_id").as("__mx"))
      .select(expr("(__mn + __mx) div 2").as("cut"))
    val v0 = col("value").cast("decimal(18,6)")
    val m = ev.crossJoin(broadcast(cut))
      .withColumn("__p0", col("event_id") <= col("cut"))
      .withColumn("__v", when(col("event_type") === "calib_shift" && !col("__p0"),
        v0 + lit(BigDecimal(25))).otherwise(v0))
      .groupBy("event_type")
      .agg(sum(when(col("__p0"), 1L).otherwise(0L)).as("n0"),
        sum(when(col("__p0"), col("__v")).otherwise(lit(null))).as("s0"),
        sum(when(col("__p0"), col("__v") * col("__v")).otherwise(lit(null))).as("q0"),
        sum(when(!col("__p0"), 1L).otherwise(0L)).as("n1"),
        sum(when(!col("__p0"), col("__v")).otherwise(lit(null))).as("s1"),
        sum(when(!col("__p0"), col("__v") * col("__v")).otherwise(lit(null))).as("q1"))
    def mean(sc: Column, n: Column) = sc.cast("double") / n.cast("double")
    def variance(qc: Column, sc: Column, n: Column) =
      (qc.cast("double") - sc.cast("double") * sc.cast("double") / n.cast("double")) /
        (n.cast("double") - 1.0)
    m.select(col("event_type"), col("n0"), col("n1"),
        round((mean(col("s0"), col("n0")) - mean(col("s1"), col("n1"))) /
          sqrt(variance(col("q0"), col("s0"), col("n0")) / col("n0").cast("double") +
            variance(col("q1"), col("s1"), col("n1")) / col("n1").cast("double")), 6)
          .as("t_stat"))
      .withColumn("mean_shift", abs(col("t_stat")) > 1.96)
  }

  private val welchTtestSql =
    """WITH cut AS (
      |  SELECT (min(event_id) + max(event_id)) // 2 AS cut FROM events),
      |ev AS (
      |  SELECT event_type, event_id, value FROM events
      |  UNION ALL
      |  SELECT 'calib_shift', event_id, value FROM events
      |  WHERE event_type = 'view'),
      |sh AS (
      |  SELECT event_type, event_id,
      |    CASE WHEN event_type = 'calib_shift' AND event_id > cut
      |      THEN CAST(value AS DECIMAL(18,6)) + 25
      |      ELSE CAST(value AS DECIMAL(18,6)) END AS v
      |  FROM ev CROSS JOIN cut),
      |m AS (
      |  SELECT event_type,
      |    sum(CASE WHEN event_id <= cut THEN 1 ELSE 0 END) AS n0,
      |    sum(CASE WHEN event_id <= cut THEN v END) AS s0,
      |    sum(CASE WHEN event_id <= cut THEN v * v END) AS q0,
      |    sum(CASE WHEN event_id > cut THEN 1 ELSE 0 END) AS n1,
      |    sum(CASE WHEN event_id > cut THEN v END) AS s1,
      |    sum(CASE WHEN event_id > cut THEN v * v END) AS q1
      |  FROM sh CROSS JOIN cut GROUP BY 1)
      |SELECT event_type, CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
      |  round(
      |    (CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)) /
      |    sqrt(
      |      ((CAST(q0 AS DOUBLE) - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)) / (CAST(n0 AS DOUBLE) - 1.0)) / CAST(n0 AS DOUBLE) +
      |      ((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0)) / CAST(n1 AS DOUBLE)),
      |    6) AS t_stat,
      |  abs(round(
      |    (CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)) /
      |    sqrt(
      |      ((CAST(q0 AS DOUBLE) - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)) / (CAST(n0 AS DOUBLE) - 1.0)) / CAST(n0 AS DOUBLE) +
      |      ((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0)) / CAST(n1 AS DOUBLE)),
      |    6)) > 1.96 AS mean_shift
      |FROM m""".stripMargin

  /** #108 approximate-quantile audit — the scale path for percentiles
    * over HIGH-CARDINALITY groups (DistributedPercentiles' documented
    * boundary: its driver state is O(groups × partitions)):
    * `approx_percentile` keeps a bounded per-group sketch inside the
    * ordinary two-phase aggregate, no driver involvement at all. The
    * audit checks the sketch's ACTUAL guarantee — rank error, not value
    * error (adjacent values can sit >1% apart at small n): the rank of
    * each returned element must land within ε·n + 2 of the target rank
    * (ε = 1/accuracy; +2 absorbs duplicate-rank and boundary
    * conventions). Exact values come from distributed rank selection;
    * the oracle pins them and the flag (the q_approx_distinct
    * contract). */
  private def approxQuantileAudit(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).select(col("event_type"), col("value"))
    val exact = DistributedPercentiles.exact(ev, "event_type", "value",
      Seq(("p50", 0.5), ("p95", 0.95)))
    val approx = ev.groupBy("event_type")
      .agg(percentile_approx(col("value"), array(lit(0.5), lit(0.95)), lit(10000))
        .as("__a"))
      .select(col("event_type"), element_at(col("__a"), 1).as("__a50"),
        element_at(col("__a"), 2).as("__a95"))
    def rankOk(rank: Column, p: Double, n: Column) =
      abs(rank.cast("double") - lit(p) * n.cast("double")) <=
        lit(1e-4) * n.cast("double") + lit(2.0)
    ev.join(broadcast(approx), Seq("event_type"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("__n"),
        sum((col("value") <= col("__a50")).cast("long")).as("__r50"),
        sum((col("value") <= col("__a95")).cast("long")).as("__r95"))
      .join(broadcast(exact), Seq("event_type"))
      .select(col("event_type"), col("p50"), col("p95"),
        (rankOk(col("__r50"), 0.5, col("__n")) &&
          rankOk(col("__r95"), 0.95, col("__n"))).as("approx_ok"))
  }

  private val approxQuantileAuditSql =
    """SELECT event_type,
      |  quantile_cont(value, 0.5) AS p50,
      |  quantile_cont(value, 0.95) AS p95,
      |  TRUE AS approx_ok
      |FROM events GROUP BY 1""".stripMargin

  /** #109 two-sample Kolmogorov–Smirnov test between ingestion halves —
    * the FULL-distribution drift test closing the monitoring family
    * (PSI = binned shape, Welch = mean, KS = sup-norm CDF distance,
    * bin-free). KS needs running ranks in global value order — the
    * one-reducer-window trap — so it rides `PrefixSum.runningTotal`
    * (two-phase distributed scan) with BOTH samples' counts packed into
    * one long (half-0 rows add 2³¹, half-1 rows add 1; exact for
    * samples < 2³¹ rows — repartition the scan per shard beyond that).
    * The statistic itself is EXACT INTEGER arithmetic: sup|c0·n1 −
    * c1·n0| / (n0·n1), no double accumulation anywhere; doubles appear
    * only in the final division and the α=0.05 critical-value compare. */
  private def ksTest(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val cut = ev.agg(min("event_id").as("__mn"), max("event_id").as("__mx"))
      .select(expr("(__mn + __mx) div 2").as("cut"))
    val marked = ev.crossJoin(broadcast(cut))
      .select(struct(col("value"), col("event_id")).as("__ord"),
        when(col("event_id") <= col("cut"), lit(2147483648L)).otherwise(lit(1L)).as("__x"))
    val scanned = PrefixSum.runningTotal(marked, "__ord", "__x")
      .select(expr("running_total div 2147483648").as("c0"),
        pmod(col("running_total"), lit(2147483648L)).as("c1"))
    val totals = scanned.agg(max("c0").as("n0"), max("c1").as("n1"))
    scanned.crossJoin(broadcast(totals))
      .agg(first(col("n0")).as("n0"), first(col("n1")).as("n1"),
        max(abs(col("c0") * col("n1") - col("c1") * col("n0"))).as("__num"))
      .select(col("n0"), col("n1"),
        round(col("__num").cast("double") /
          (col("n0").cast("double") * col("n1").cast("double")), 6).as("ks_stat"))
      .withColumn("shifted",
        col("ks_stat") > lit(1.36) * sqrt((col("n0") + col("n1")).cast("double") /
          (col("n0").cast("double") * col("n1").cast("double"))))
  }

  private val ksTestSql =
    """WITH cut AS (
      |  SELECT (min(event_id) + max(event_id)) // 2 AS cut FROM events),
      |b AS (
      |  SELECT value, event_id,
      |    CASE WHEN event_id <= cut THEN 1 ELSE 0 END AS is0
      |  FROM events CROSS JOIN cut),
      |r AS (
      |  SELECT sum(is0) OVER w AS c0, sum(1 - is0) OVER w AS c1
      |  FROM b WINDOW w AS (ORDER BY value, event_id ROWS UNBOUNDED PRECEDING)),
      |t AS (
      |  SELECT CAST(max(c0) AS BIGINT) AS n0, CAST(max(c1) AS BIGINT) AS n1,
      |    CAST(max(abs(c0 * (SELECT max(c1) FROM r) -
      |                 c1 * (SELECT max(c0) FROM r))) AS BIGINT) AS num
      |  FROM r)
      |SELECT n0, n1,
      |  round(CAST(num AS DOUBLE) / (CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE)), 6)
      |    AS ks_stat,
      |  round(CAST(num AS DOUBLE) / (CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE)), 6) >
      |    1.36 * sqrt(CAST(n0 + n1 AS DOUBLE) / (CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE)))
      |    AS shifted
      |FROM t""".stripMargin

  /** #110 chi-square homogeneity test — did the event-type MIX change
    * between the two ingestion halves? (The categorical complement of
    * the drift family: PSI = binned shape, Welch t = mean, KS = CDF,
    * chi-square = discrete category frequencies.) Observed counts per
    * (event_type, half) come from ONE map-side-combinable aggregate in
    * exact longs; expected counts and per-cell (obs−exp)²/exp happen in
    * a deterministic per-row projection over the O(types) grouped rows,
    * and the cross-cell fold is fixed-point ⌊cell·1e9⌋ longs (the
    * q_drift_psi pattern) so the statistic is bit-stable under any
    * partitioning. The 95% critical value is the closed-form
    * Wilson–Hilferty approximation — deterministic on both engines, no
    * inverse-gamma lookup. */
  private def chisqTest(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val cut = ev.agg(min("event_id").as("__mn"), max("event_id").as("__mx"))
      .select(expr("(__mn + __mx) div 2").as("cut"))
    val g = ev.crossJoin(broadcast(cut))
      .groupBy("event_type")
      .agg(sum(when(col("event_id") <= col("cut"), 1L).otherwise(0L)).as("o0"),
        sum(when(col("event_id") > col("cut"), 1L).otherwise(0L)).as("o1"))
    val tot = g.agg(sum("o0").as("n0"), sum("o1").as("n1"), count(lit(1)).as("k"))
    val e0 = (col("o0") + col("o1")).cast("double") * col("n0").cast("double") /
      (col("n0") + col("n1")).cast("double")
    val e1 = (col("o0") + col("o1")).cast("double") * col("n1").cast("double") /
      (col("n0") + col("n1")).cast("double")
    val d0 = col("o0").cast("double") - e0
    val d1 = col("o1").cast("double") - e1
    val cells = g.crossJoin(broadcast(tot))
      .withColumn("__c", floor(lit(1e9) * (d0 * d0 / e0 + d1 * d1 / e1)).cast("long"))
    cells.groupBy("n0", "n1", "k")
      .agg(sum("__c").as("__sc"))
      .select(col("n0"), col("n1"), (col("k") - 1).cast("long").as("dof"),
        round(col("__sc").cast("double") / 1e9, 6).as("chi2"))
      .withColumn("shifted",
        col("chi2") > col("dof").cast("double") *
          { val d = col("dof").cast("double")
            val x = lit(1.0) - lit(2.0) / (lit(9.0) * d) +
              lit(1.645) * sqrt(lit(2.0) / (lit(9.0) * d))
            x * x * x })
  }

  private val chisqTestSql =
    """WITH cut AS (
      |  SELECT (min(event_id) + max(event_id)) // 2 AS cut FROM events),
      |g AS (
      |  SELECT event_type,
      |    sum(CASE WHEN event_id <= cut THEN 1 ELSE 0 END) AS o0,
      |    sum(CASE WHEN event_id > cut THEN 1 ELSE 0 END) AS o1
      |  FROM events CROSS JOIN cut GROUP BY 1),
      |t AS (
      |  SELECT CAST(sum(o0) AS BIGINT) AS n0, CAST(sum(o1) AS BIGINT) AS n1,
      |    count(*) AS k
      |  FROM g),
      |c AS (
      |  SELECT n0, n1, k,
      |    CAST(floor(1e9 * (
      |      (CAST(o0 AS DOUBLE) - CAST(o0 + o1 AS DOUBLE) * CAST(n0 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE)) *
      |      (CAST(o0 AS DOUBLE) - CAST(o0 + o1 AS DOUBLE) * CAST(n0 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE)) /
      |      (CAST(o0 + o1 AS DOUBLE) * CAST(n0 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE)) +
      |      (CAST(o1 AS DOUBLE) - CAST(o0 + o1 AS DOUBLE) * CAST(n1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE)) *
      |      (CAST(o1 AS DOUBLE) - CAST(o0 + o1 AS DOUBLE) * CAST(n1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE)) /
      |      (CAST(o0 + o1 AS DOUBLE) * CAST(n1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE)))) AS BIGINT) AS cc
      |  FROM g CROSS JOIN t),
      |s AS (
      |  SELECT n0, n1, CAST(k - 1 AS BIGINT) AS dof,
      |    round(CAST(sum(cc) AS DOUBLE) / 1e9, 6) AS chi2
      |  FROM c GROUP BY 1, 2, 3)
      |SELECT n0, n1, dof, chi2,
      |  chi2 > CAST(dof AS DOUBLE) *
      |    (1.0 - 2.0 / (9.0 * CAST(dof AS DOUBLE)) + 1.645 * sqrt(2.0 / (9.0 * CAST(dof AS DOUBLE)))) *
      |    (1.0 - 2.0 / (9.0 * CAST(dof AS DOUBLE)) + 1.645 * sqrt(2.0 / (9.0 * CAST(dof AS DOUBLE)))) *
      |    (1.0 - 2.0 / (9.0 * CAST(dof AS DOUBLE)) + 1.645 * sqrt(2.0 / (9.0 * CAST(dof AS DOUBLE))))
      |    AS shifted
      |FROM s""".stripMargin

  /** #112 lag-k autocorrelation of the hourly event-count series per
    * event type — "is traffic self-similar hour over hour?" (burst and
    * seasonality detection; the ACF is what sizes streaming watermarks
    * and batch cadences). The series is the DENSE per-type hour grid
    * (gap hours are REAL zeros via the q_gap_fill `sequence` explode —
    * skipping them would silently correlate non-adjacent hours); the
    * lagged pairing is ONE equi-join on (event_type, hr+lag) after a
    * constant 3× map-side lag explode — co-partitioned, no window, no
    * per-lag rescan. All Pearson moments (n, Σx, Σy, Σxy, Σx², Σy²) are
    * exact longs; the only doubles are the final per-(type,lag)
    * projection, so the result is bit-stable under any partitioning.
    * Zero-variance series yield NULL (guarded on both engines). */
  private def autocorr(s: SparkSession, dir: String): DataFrame = {
    val maxLag = 3
    val ev = events(s, dir)
    val hc = ev
      .groupBy(col("event_type"), expr("unix_micros(ts) div 3600000000").as("hr"))
      .agg(count(lit(1)).as("cnt"))
    val span = hc.groupBy("event_type").agg(min("hr").as("h0"), max("hr").as("h1"))
    val grid = span
      .select(col("event_type"), explode(expr("sequence(h0, h1)")).as("hr"))
      .join(hc, Seq("event_type", "hr"), "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
    val lagged = grid
      .select(col("event_type"), col("hr"), col("cnt").as("x"),
        explode(array((1 to maxLag).map(lit): _*)).as("lag"))
      .withColumn("hr", col("hr") + col("lag"))
    val m = lagged
      .join(grid.select(col("event_type"), col("hr"), col("cnt").as("y")),
        Seq("event_type", "hr"))
      .groupBy("event_type", "lag")
      .agg(count(lit(1)).as("n_pairs"),
        sum("x").as("sx"), sum("y").as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"))
    val np = col("n_pairs").cast("double")
    val cov = np * col("sxy").cast("double") - col("sx").cast("double") * col("sy").cast("double")
    val vx = np * col("sxx").cast("double") - col("sx").cast("double") * col("sx").cast("double")
    val vy = np * col("syy").cast("double") - col("sy").cast("double") * col("sy").cast("double")
    m.select(col("event_type"), col("lag").cast("int").as("lag"), col("n_pairs"),
      when(vx > 0.0 && vy > 0.0, round(cov / sqrt(vx * vy), 6)).as("acf"))
  }

  private val autocorrSql =
    """WITH hc AS (
      |  SELECT event_type, epoch_us(ts) // 3600000000 AS hr, count(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |span AS (
      |  SELECT event_type, min(hr) AS h0, max(hr) AS h1 FROM hc GROUP BY 1),
      |g0 AS (
      |  SELECT s.event_type, CAST(u.hr AS BIGINT) AS hr
      |  FROM span s, unnest(range(s.h0, s.h1 + 1)) AS u(hr)),
      |grid AS (
      |  SELECT g0.event_type, g0.hr, CAST(coalesce(c.cnt, 0) AS BIGINT) AS cnt
      |  FROM g0 LEFT JOIN hc c ON c.event_type = g0.event_type AND c.hr = g0.hr),
      |m AS (
      |  SELECT a.event_type, l.lag, count(*) AS n_pairs,
      |    sum(a.cnt) AS sx, sum(b.cnt) AS sy, sum(a.cnt * b.cnt) AS sxy,
      |    sum(a.cnt * a.cnt) AS sxx, sum(b.cnt * b.cnt) AS syy
      |  FROM grid a
      |  CROSS JOIN (SELECT unnest(range(1, 4)) AS lag) l
      |  JOIN grid b ON b.event_type = a.event_type AND b.hr = a.hr + l.lag
      |  GROUP BY 1, 2)
      |SELECT event_type, CAST(lag AS INT) AS lag, n_pairs,
      |  CASE WHEN CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0.0
      |        AND CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0.0
      |    THEN round(
      |      (CAST(n_pairs AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
      |      sqrt((CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
      |           (CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
      |      6)
      |  END AS acf
      |FROM m""".stripMargin

  /** #121 interval coverage — union-of-intervals time per user (uptime /
    * activity coverage, the dual of q_gap_fill's missing-bucket view):
    * each event opens an interval [ts, ts + value minutes]; overlapping
    * intervals merge into islands via the per-user EXCLUSIVE running
    * max of interval ends (a user-bounded window — never global), an
    * island counter from the gap flags, and one aggregate per island.
    * All arithmetic is exact epoch micros; no double time math. The
    * classic coalesce-overlaps shape every billing/SLA pipeline needs. */
  private def intervalCoverage(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("__s"),
        (unix_micros(col("ts")) +
          (col("value").cast("decimal(18,2)") * 60000000L).cast("long")).as("__e"))
    val w = Window.partitionBy("user_id").orderBy(col("__s"), col("__e"), col("event_id"))
    val flagged = ev
      .withColumn("__pmax", max(col("__e")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__new", when(col("__pmax").isNull || col("__s") > col("__pmax"), 1L).otherwise(0L))
      .withColumn("__island", sum(col("__new")).over(w))
    flagged.groupBy("user_id", "__island")
      .agg(min("__s").as("__is"), max("__e").as("__ie"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_islands"),
        sum(col("__ie") - col("__is")).as("covered_us"))
  }

  private val intervalCoverageSql =
    """WITH iv AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS s,
      |    epoch_us(ts) + CAST(CAST(value AS DECIMAL(18,2)) * 60000000 AS BIGINT) AS e
      |  FROM events),
      |f AS (
      |  SELECT user_id, s, e,
      |    CASE WHEN max(e) OVER (PARTITION BY user_id ORDER BY s, e, event_id
      |                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
      |           OR s > max(e) OVER (PARTITION BY user_id ORDER BY s, e, event_id
      |                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |         THEN 1 ELSE 0 END AS new_island,
      |    event_id
      |  FROM iv),
      |g AS (
      |  SELECT user_id, s, e,
      |    sum(new_island) OVER (PARTITION BY user_id ORDER BY s, e, event_id
      |                          ROWS UNBOUNDED PRECEDING) AS island
      |  FROM f),
      |i AS (
      |  SELECT user_id, island, min(s) AS i_s, max(e) AS i_e
      |  FROM g GROUP BY 1, 2)
      |SELECT user_id, count(*) AS n_islands,
      |  CAST(sum(i_e - i_s) AS BIGINT) AS covered_us
      |FROM i GROUP BY 1""".stripMargin

  /** #122 CUSUM changepoint detection — WHERE did the hourly rate
    * shift? (The drift family's localization step: PSI/t/KS/chi-square
    * say "something moved"; CUSUM points at the hour.) Over each
    * type's dense zero-filled hourly series, the cumulative deviation
    * S_t = Σ_{i≤t}(x_i − μ) peaks at the changepoint. Computed in
    * EXACT integers: N_t = n·prefix_t − t·total (= n²·S_t-scaled)
    * needs no double mean — the prefix runs in a per-type window
    * (bounded by series length), the argmax is a deterministic
    * (|N|, hr) ordering, and the only double is the final normalized
    * statistic. */
  private def changepoint(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val hc = ev
      .groupBy(col("event_type"), expr("unix_micros(ts) div 3600000000").as("hr"))
      .agg(count(lit(1)).as("cnt"))
    val span = hc.groupBy("event_type").agg(min("hr").as("h0"), max("hr").as("h1"))
    val grid = span
      .select(col("event_type"), explode(expr("sequence(h0, h1)")).as("hr"))
      .join(hc, Seq("event_type", "hr"), "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
    val totals = grid.groupBy("event_type")
      .agg(sum("cnt").as("__tot"), count(lit(1)).as("n_hours"))
    val w = Window.partitionBy("event_type").orderBy("hr")
    val scanned = grid
      .withColumn("__t", row_number().over(w).cast("long"))
      .withColumn("__pre", sum("cnt").over(w))
      .join(broadcast(totals), Seq("event_type"))
      // N_t = n·prefix_t − t·total = n·S_t exactly (no double mean)
      .withColumn("__N", col("n_hours") * col("__pre") - col("__t") * col("__tot"))
    scanned.groupBy("event_type")
      .agg(max("n_hours").as("n_hours"), max("__tot").as("__mtot"),
        max_by(struct(col("hr"), abs(col("__N")).as("a")),
          // ties on |N| resolve to the EARLIEST hour: flip hr under max_by
          struct(abs(col("__N")), -col("hr"))).as("__peak"))
      .select(col("event_type"), col("n_hours"),
        col("__peak.hr").as("cp_hr"),
        round(col("__peak.a").cast("double") /
          (col("n_hours").cast("double") * col("__mtot").cast("double")), 6)
          .as("cusum_stat"))
  }

  private val changepointSql =
    """WITH hc AS (
      |  SELECT event_type, epoch_us(ts) // 3600000000 AS hr, count(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |span AS (
      |  SELECT event_type, min(hr) AS h0, max(hr) AS h1 FROM hc GROUP BY 1),
      |g0 AS (
      |  SELECT s.event_type, CAST(u.hr AS BIGINT) AS hr
      |  FROM span s, unnest(range(s.h0, s.h1 + 1)) AS u(hr)),
      |grid AS (
      |  SELECT g0.event_type, g0.hr, CAST(coalesce(c.cnt, 0) AS BIGINT) AS cnt
      |  FROM g0 LEFT JOIN hc c ON c.event_type = g0.event_type AND c.hr = g0.hr),
      |t AS (
      |  SELECT event_type, sum(cnt) AS tot, count(*) AS n_hours
      |  FROM grid GROUP BY 1),
      |sc AS (
      |  SELECT g.event_type, g.hr, t.n_hours, t.tot,
      |    CAST(row_number() OVER (PARTITION BY g.event_type ORDER BY g.hr) AS BIGINT) AS tt,
      |    sum(g.cnt) OVER (PARTITION BY g.event_type ORDER BY g.hr
      |                     ROWS UNBOUNDED PRECEDING) AS pre
      |  FROM grid g JOIN t ON g.event_type = t.event_type),
      |n AS (
      |  SELECT event_type, hr, n_hours, tot,
      |    abs(n_hours * pre - tt * tot) AS a,
      |    row_number() OVER (PARTITION BY event_type
      |                       ORDER BY abs(n_hours * pre - tt * tot) DESC, hr) AS rk
      |  FROM sc)
      |SELECT event_type, CAST(n_hours AS BIGINT) AS n_hours, hr AS cp_hr,
      |  round(CAST(a AS DOUBLE) / (CAST(n_hours AS DOUBLE) * CAST(tot AS DOUBLE)), 6)
      |    AS cusum_stat
      |FROM n WHERE rk = 1""".stripMargin

  /** #127 rolling median — robust per-key smoothing over the last 25
    * events (the heavy-tail-safe alternative to q_moving_sum's mean
    * family; what latency and price monitors actually plot). The frame
    * is a bounded per-user window (25 rows — state is O(frame), never
    * the user's history); the median interpolates even-sized frames
    * with the same `lo + (hi−lo)·0.5` form DuckDB's quantile_cont
    * uses, so the hash gate holds bit-for-bit at 6dp. */
  private def rollingQuantile(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val w = Window.partitionBy("user_id")
      .orderBy(unix_micros(col("ts")), col("event_id"))
      .rowsBetween(-24, 0)
    val sorted = sort_array(collect_list(col("value")).over(w))
    val m = size(sorted)
    val lo = element_at(sorted, floor((m + 1) / 2.0).cast("int"))
    val hi = element_at(sorted, (floor(m / 2.0) + 1).cast("int"))
    ev.select(col("event_id"), col("user_id"), col("value"),
      round(lo + (hi - lo) * 0.5, 6).as("roll_med"))
  }

  private val rollingQuantileSql =
    """SELECT event_id, user_id, value,
      |  round(quantile_cont(value, 0.5) OVER (
      |    PARTITION BY user_id ORDER BY epoch_us(ts), event_id
      |    ROWS BETWEEN 24 PRECEDING AND CURRENT ROW), 6) AS roll_med
      |FROM events""".stripMargin

  /** #129 ECDF / quantile normalization — map every value to its
    * empirical cumulative probability (the rank-based feature transform
    * robust to any distribution; what "quantile normalization" means in
    * feature pipelines). cume_dist's single-reducer `ORDER BY` window
    * never appears: the global rank comes from the distributed
    * two-phase scan (`PrefixSum.withGlobalRank` on (value, event_id)),
    * and tie-correctness (all rows of an equal value share the ecdf =
    * count(≤ value)/n) is one window over the VALUE group — bounded by
    * the tie count, not the table. */
  private def ecdfNormalize(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).select(col("event_id"), col("value"))
    val ranked = PrefixSum.withGlobalRank(ev, Seq("value", "event_id"), "__r")
    val n = ranked.agg(max("__r").as("__n"))
    ranked
      .withColumn("__cum", max("__r").over(Window.partitionBy("value")))
      .crossJoin(broadcast(n))
      .select(col("event_id"), col("value"),
        round(col("__cum").cast("double") / col("__n").cast("double"), 6).as("ecdf"))
  }

  private val ecdfNormalizeSql =
    """SELECT event_id, value,
      |  round(cume_dist() OVER (ORDER BY value), 6) AS ecdf
      |FROM events""".stripMargin

  /** #133 cumulative distinct users by day — "distinct-ever as of d"
    * without a running COUNT(DISTINCT) window (which would re-scan
    * history per day): each user collapses to a FIRST-SEEN day (one
    * aggregate), daily new-user counts form a tiny per-day series, and
    * the running total is a window over THAT series (O(days) rows —
    * bounded however large the fact table). The incremental-dashboard
    * shape: day d's value needs only day d's new users. */
  private def cumulativeDistinct(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val firstSeen = ev.groupBy("user_id")
      .agg(min(to_date(col("ts"))).as("day"))
    val daily = firstSeen.groupBy("day").agg(count(lit(1)).as("new_users"))
    val w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    daily
      .withColumn("cum_users", sum("new_users").over(w))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("new_users"), col("cum_users"))
  }

  private val cumulativeDistinctSql =
    """WITH fs AS (
      |  SELECT user_id, min(CAST(ts AS DATE)) AS day FROM events GROUP BY 1),
      |d AS (SELECT day, count(*) AS new_users FROM fs GROUP BY 1)
      |SELECT strftime(day, '%Y-%m-%d') AS day, new_users,
      |  CAST(sum(new_users) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT)
      |    AS cum_users
      |FROM d""".stripMargin

  /** #134 rolling active users (DAU/WAU) — trailing-window distinct
    * counts per day, the retention dashboard's backbone. A windowed
    * COUNT(DISTINCT) re-buffers 7 days of users per output row; the
    * distributed form dedups to (user, day) ONCE, then each user-day
    * SUPPORTS the next 7 calendar days via a constant 7× map-side
    * explode and one (day, user) distinct aggregate — fan-out is fixed,
    * state never exceeds the dedup'd activity set. Only days inside the
    * observed span are emitted. */
  private def rollingActive(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val userDays = ev.select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val span = ev.agg(max(to_date(col("ts"))).as("__dmax"))
    // DAU and WAU fold in ONE aggregation over the 7-day support
    // fan-out: a user contributes to day d's WAU through any offset k,
    // and to its DAU exactly through k = 0 (day + 0 = the activity day
    // itself) — countDistinct over the k=0 slice ≡ the separate DAU
    // aggregate, and a day with no same-day activity counts 0 distinct,
    // ≡ the old left join's coalesce(dau, 0). Replaces two independent
    // countDistinct pipelines + a join (r14 shape: 5 exchanges) with
    // one two-phase distinct aggregation; the activity set had only
    // this consumer left, so its persist went too.
    supported(userDays, span)
      .groupBy(col("__d").as("day"))
      .agg(countDistinct(col("user_id")).as("wau"),
        countDistinct(when(col("__k") === 0, col("user_id"))).as("dau"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("dau"), col("wau"))
  }

  /** rollingActive's 7-day support fan-out, capped at the span end. */
  private def supported(userDays: DataFrame, span: DataFrame): DataFrame =
    userDays
      .select(col("user_id"), col("day"),
        explode(expr("sequence(0, 6)")).as("__k"))
      .select(col("user_id"), col("__k"), date_add(col("day"), col("__k")).as("__d"))
      .crossJoin(broadcast(span))
      .filter(col("__d") <= col("__dmax"))

  private val rollingActiveSql =
    """WITH ud AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |mx AS (SELECT max(CAST(ts AS DATE)) AS dmax FROM events),
      |sup AS (
      |  SELECT ud.user_id, ud.day + CAST(k AS INT) AS d
      |  FROM ud CROSS JOIN range(0, 7) r(k) CROSS JOIN mx
      |  WHERE ud.day + CAST(k AS INT) <= mx.dmax),
      |wau AS (SELECT d AS day, count(DISTINCT user_id) AS wau FROM sup GROUP BY 1),
      |dau AS (SELECT day, count(DISTINCT user_id) AS dau FROM ud GROUP BY 1)
      |SELECT strftime(w.day, '%Y-%m-%d') AS day,
      |  CAST(coalesce(d.dau, 0) AS BIGINT) AS dau, w.wau
      |FROM wau w LEFT JOIN dau d ON w.day = d.day""".stripMargin

  /** #135 linear trend fit — OLS slope/intercept of the hourly event
    * rate per type (the TREND member of the drift family: PSI/χ²/KS say
    * "shifted", CUSUM says "when", the slope says "how fast it's
    * drifting"). Over the dense zero-filled hourly grid, ALL regression
    * moments (n, Σt, Σt², Σy, Σty with t the hour index) fold as exact
    * longs in ONE aggregate; slope, intercept, and R² are computed only
    * in the final deterministic projection. The capacity-planning
    * number every ingestion dashboard extrapolates from. */
  private def linearFit(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    // persisted: O(types·hours) rows feed the span aggregate AND the
    // grid join — one events scan instead of two
    val hc = ev
      .groupBy(col("event_type"), expr("unix_micros(ts) div 3600000000").as("hr"))
      .agg(count(lit(1)).as("cnt")).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val span = hc.groupBy("event_type").agg(min("hr").as("h0"), max("hr").as("h1"))
    val grid = span
      .select(col("event_type"), explode(expr("sequence(h0, h1)")).as("hr"))
      .join(hc, Seq("event_type", "hr"), "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
      .join(broadcast(span.select(col("event_type"), col("h0"))), Seq("event_type"))
      .withColumn("__t", col("hr") - col("h0"))
    val m = grid.groupBy("event_type")
      .agg(count(lit(1)).as("n_hours"), sum("__t").as("st"),
        sum(col("__t") * col("__t")).as("stt"), sum("cnt").as("sy"),
        sum(col("__t") * col("cnt")).as("sty"),
        sum(col("cnt") * col("cnt")).as("syy"))
    val n = col("n_hours").cast("double")
    val cov = n * col("sty").cast("double") - col("st").cast("double") * col("sy").cast("double")
    val vt = n * col("stt").cast("double") - col("st").cast("double") * col("st").cast("double")
    val vy = n * col("syy").cast("double") - col("sy").cast("double") * col("sy").cast("double")
    m.select(col("event_type"), col("n_hours"),
      round(cov / vt, 6).as("slope"),
      round((col("sy").cast("double") - cov / vt * col("st").cast("double")) / n, 6)
        .as("intercept"),
      when(vy > 0.0, round(cov * cov / (vt * vy), 6)).as("r2"))
  }

  private val linearFitSql =
    """WITH hc AS (
      |  SELECT event_type, epoch_us(ts) // 3600000000 AS hr, count(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |span AS (
      |  SELECT event_type, min(hr) AS h0, max(hr) AS h1 FROM hc GROUP BY 1),
      |g0 AS (
      |  SELECT s.event_type, CAST(u.hr AS BIGINT) AS hr, s.h0
      |  FROM span s, unnest(range(s.h0, s.h1 + 1)) AS u(hr)),
      |grid AS (
      |  SELECT g0.event_type, g0.hr - g0.h0 AS t,
      |    CAST(coalesce(c.cnt, 0) AS BIGINT) AS cnt
      |  FROM g0 LEFT JOIN hc c ON c.event_type = g0.event_type AND c.hr = g0.hr),
      |m AS (
      |  SELECT event_type, count(*) AS n_hours, sum(t) AS st, sum(t * t) AS stt,
      |    sum(cnt) AS sy, sum(t * cnt) AS sty, sum(cnt * cnt) AS syy
      |  FROM grid GROUP BY 1)
      |SELECT event_type, CAST(n_hours AS BIGINT) AS n_hours,
      |  round((CAST(n_hours AS DOUBLE) * CAST(sty AS DOUBLE) - CAST(st AS DOUBLE) * CAST(sy AS DOUBLE)) /
      |        (CAST(n_hours AS DOUBLE) * CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)), 6) AS slope,
      |  round((CAST(sy AS DOUBLE) -
      |         (CAST(n_hours AS DOUBLE) * CAST(sty AS DOUBLE) - CAST(st AS DOUBLE) * CAST(sy AS DOUBLE)) /
      |         (CAST(n_hours AS DOUBLE) * CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)) *
      |         CAST(st AS DOUBLE)) / CAST(n_hours AS DOUBLE), 6) AS intercept,
      |  CASE WHEN CAST(n_hours AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0.0
      |    THEN round(
      |      (CAST(n_hours AS DOUBLE) * CAST(sty AS DOUBLE) - CAST(st AS DOUBLE) * CAST(sy AS DOUBLE)) *
      |      (CAST(n_hours AS DOUBLE) * CAST(sty AS DOUBLE) - CAST(st AS DOUBLE) * CAST(sy AS DOUBLE)) /
      |      ((CAST(n_hours AS DOUBLE) * CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)) *
      |       (CAST(n_hours AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
      |  END AS r2
      |FROM m""".stripMargin

  /** #137 EWMA smoothing (α = 1/2, 16-lag horizon) of per-user event
    * values — the streaming-metric smoother. A recursive filter looks
    * un-distributable, but truncating the geometrically vanishing
    * memory at 16 lags makes each smoothed point a FINITE dyadic dot
    * product: ewma_t = Σ_{k<16} v_{t-k}·2^(15−k) / Σ_k 2^(15−k).
    * Weights are exact powers of two (shiftleft, never pow doubles)
    * and values exact cents, so the whole numerator folds as longs —
    * shuffle-order-proof, replayed bit-for-bit by the oracle; the
    * truncation error vs the infinite filter is ≤ 2^-16 of the value
    * scale, below the 6dp output rounding. Shape: one per-user
    * row_number window (bounded), a CONSTANT 16× map-side explode (the
    * q_rolling_active fan-out discipline — no per-row re-buffering, no
    * self-join), one (user, target-row) aggregate; the target row's
    * identity rides its own k=0 contribution, so there is no join
    * back, and phantom targets past the user's last event drop where
    * that marker is null. Max |numerator| = cents·2^16 — value-domain
    * bounded, corpus-size independent. */
  private def ewma(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    ev.select(col("user_id"), col("event_id"), col("ts"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("__c"))
      .withColumn("__rn", row_number().over(w).cast("long"))
      .select(col("user_id"), col("__rn"), col("__c"), col("event_id"),
        col("ts"), explode(sequence(lit(0), lit(15))).as("__k"))
      .select(col("user_id"), (col("__rn") + col("__k")).as("__tgt"),
        col("__k"), col("event_id"), col("ts"),
        (col("__c") * expr("shiftleft(CAST(1 AS BIGINT), CAST(15 - __k AS INT))"))
          .as("__wv"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(15 - __k AS INT))").as("__wt"))
      .groupBy("user_id", "__tgt")
      .agg(sum("__wv").as("__sv"), sum("__wt").as("__sw"),
        count(lit(1)).as("n_terms"),
        max(when(col("__k") === 0, col("event_id"))).as("event_id"),
        max(when(col("__k") === 0, col("ts"))).as("ts"))
      .filter(col("event_id").isNotNull)
      .select(col("user_id"), col("event_id"), col("ts"), col("n_terms"),
        round(col("__sv").cast("double") / col("__sw").cast("double") / 100.0, 6)
          .as("ewma"))
  }

  private val ewmaSql =
    """WITH b AS (
      |  SELECT user_id, event_id, ts,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
      |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS rn
      |  FROM events),
      |x AS (
      |  SELECT b.user_id, b.rn + u.k AS tgt, u.k, b.event_id, b.ts,
      |    b.c * (CAST(1 AS BIGINT) << CAST(15 - u.k AS INTEGER)) AS wv,
      |    (CAST(1 AS BIGINT) << CAST(15 - u.k AS INTEGER)) AS wt
      |  FROM b, unnest(range(0, 16)) AS u(k)),
      |g AS (
      |  SELECT user_id, tgt,
      |    CAST(sum(wv) AS BIGINT) AS sv, CAST(sum(wt) AS BIGINT) AS sw,
      |    CAST(count(*) AS BIGINT) AS n_terms,
      |    max(CASE WHEN k = 0 THEN event_id END) AS event_id,
      |    max(CASE WHEN k = 0 THEN ts END) AS ts
      |  FROM x GROUP BY 1, 2)
      |SELECT user_id, event_id, ts, n_terms,
      |  round(CAST(sv AS DOUBLE) / CAST(sw AS DOUBLE) / 100.0, 6) AS ewma
      |FROM g WHERE event_id IS NOT NULL""".stripMargin

  /** #138 cohort LTV triangle — lifetime purchase revenue by
    * first-seen cohort week × weeks-since-cohort, the
    * revenue-follow-up of q_retention's activity matrix. Users collapse
    * to their first event week in one aggregate (O(users) rows,
    * persisted: read for cohort sizes AND the purchase join); purchases
    * join that map on user_id (the one corpus shuffle — co-partitioned,
    * broadcast when the user dimension is small, AQE decides); revenue
    * folds as exact cents into O(weeks²) triangle cells; the cumulative
    * LTV is a running window over the per-cohort offset series —
    * O(weeks) rows, never event-scale. Week arithmetic is pure integer
    * day-diff div 7 off Monday-truncated dates (both engines truncate
    * weeks to Monday), so no timestamp doubles anywhere. */
  private def cohortLtv(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val firsts = ev.groupBy("user_id")
      .agg(to_date(date_trunc("week", min(col("ts")))).as("cohort_week"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = firsts.groupBy("cohort_week").agg(count(lit(1)).as("cohort_size"))
    ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("__c"))
      .join(firsts, Seq("user_id"))
      .withColumn("week_no",
        expr("CAST(datediff(to_date(ts), cohort_week) div 7 AS BIGINT)"))
      .groupBy("cohort_week", "week_no")
      .agg(countDistinct("user_id").as("buyers"),
        count(lit(1)).as("n_purchases"), sum("__c").as("rev_cents"))
      .join(broadcast(sizes), Seq("cohort_week"))
      .withColumn("cum_rev_cents", sum("rev_cents")
        .over(Window.partitionBy("cohort_week").orderBy("week_no")))
      // ISO string, not DateType: the house convention for day/week
      // outputs (parquet date32 and DuckDB DATE reach the driver's
      // hash compare as different dtypes)
      .select(date_format(col("cohort_week"), "yyyy-MM-dd").as("cohort_week"),
        col("week_no"), col("cohort_size"),
        col("buyers"), col("n_purchases"), col("rev_cents"),
        col("cum_rev_cents"))
  }

  private val cohortLtvSql =
    """WITH f AS (
      |  SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
      |  FROM events GROUP BY 1),
      |s AS (SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_size
      |      FROM f GROUP BY 1),
      |p AS (
      |  SELECT f.cohort_week,
      |    CAST(date_diff('day', f.cohort_week, CAST(e.ts AS DATE)) // 7 AS BIGINT) AS week_no,
      |    e.user_id,
      |    CAST(CAST(e.value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
      |  FROM events e JOIN f USING (user_id) WHERE e.event_type = 'purchase'),
      |g AS (
      |  SELECT cohort_week, week_no,
      |    CAST(count(DISTINCT user_id) AS BIGINT) AS buyers,
      |    CAST(count(*) AS BIGINT) AS n_purchases,
      |    CAST(sum(c) AS BIGINT) AS rev_cents
      |  FROM p GROUP BY 1, 2)
      |SELECT strftime(g.cohort_week, '%Y-%m-%d') AS cohort_week,
      |  g.week_no, s.cohort_size, g.buyers, g.n_purchases,
      |  g.rev_cents,
      |  CAST(sum(g.rev_cents) OVER (PARTITION BY g.cohort_week ORDER BY g.week_no) AS BIGINT) AS cum_rev_cents
      |FROM g JOIN s USING (cohort_week)""".stripMargin

  /** #139 last-touch channel attribution — every purchase credits the
    * user's most recent view/click within a 7-day lookback, unmatched
    * purchases fall to 'direct'. This is exactly the as-of shape, so it
    * reuses AsofJoin's union + last(ignoreNulls) carry: ONE shuffle on
    * (user, time), no range explosion, the tolerance a residual
    * predicate on the carried timestamp (q_asof_tolerance's plan).
    * Revenue folds as exact cents; the only doubles are the final
    * share division (tiny O(channels) row set, explicit broadcast of
    * the 1-row total — the Tfidf scalar pattern). The per-channel
    * aggregate is persisted: it feeds both the total and the final
    * projection, and re-deriving it re-runs the corpus as-of. */
  private def attribution(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("__c"))
    val touches = ev.filter(col("event_type").isin("view", "click"))
      .select(col("user_id"), col("ts"), col("event_type").as("touch_type"))
    val byChannel = AsofJoin.lastPriorMatchWithin(purchases, touches, "user_id",
        "ts", "ts", "touch_type", "touch", toleranceSeconds = 7L * 86400L)
      .groupBy(coalesce(col("touch"), lit("direct")).as("channel"))
      .agg(count(lit(1)).as("n_purchases"), sum("__c").as("rev_cents"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tot = byChannel.agg(sum("n_purchases").as("__tot"))
    byChannel.crossJoin(broadcast(tot))
      .select(col("channel"), col("n_purchases"), col("rev_cents"),
        round(col("n_purchases").cast("double") / col("__tot").cast("double"), 6)
          .as("share"))
  }

  private val attributionSql =
    """WITH p AS (SELECT user_id, epoch_us(ts) AS t,
      |             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
      |           FROM events WHERE event_type = 'purchase'),
      |tch AS (SELECT user_id, epoch_us(ts) AS t, event_type FROM events
      |        WHERE event_type IN ('view', 'click')),
      |a AS (
      |  SELECT p.c,
      |    CASE WHEN tch.t >= p.t - 604800000000 THEN tch.event_type END AS touch
      |  FROM p ASOF LEFT JOIN tch ON p.user_id = tch.user_id AND tch.t <= p.t),
      |g AS (SELECT coalesce(touch, 'direct') AS channel,
      |        CAST(count(*) AS BIGINT) AS n_purchases,
      |        CAST(sum(c) AS BIGINT) AS rev_cents
      |      FROM a GROUP BY 1),
      |tot AS (SELECT sum(n_purchases) AS tot FROM g)
      |SELECT channel, n_purchases, rev_cents,
      |  round(CAST(n_purchases AS DOUBLE) / CAST(tot.tot AS DOUBLE), 6) AS share
      |FROM g, tot""".stripMargin

  /** #140 inter-arrival gap percentiles per event type — the
    * burstiness profile that sizes streaming watermarks and retry
    * budgets (pairs with q_late_arrival's order audit and
    * q_autocorr's seasonality). Gaps come from a per-(user, type) lag
    * window — bounded per key, never global; the p50/p95 are EXACT
    * interpolated order statistics via the distributed rank-selection
    * path (DistributedPercentiles: range-partition, O(partitions)
    * driver combine — no single-reducer sort, no buffering aggregate).
    * n_gaps needs NO window at all: each (user, type) run of m events
    * contributes m−1 gaps, so n_gaps = count − distinct users in one
    * map-side-combinable aggregate. Micros stay exact in doubles
    * (< 2^53); seconds appear only in the final rounded projection. */
  private def interarrival(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("__t"), col("event_id"))
    val gaps = ev
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("__t"))
      .withColumn("__gap", col("__t") - lag(col("__t"), 1).over(w))
      .filter(col("__gap").isNotNull)
    val counts = ev.groupBy("event_type")
      .agg((count(lit(1)) - countDistinct("user_id")).as("n_gaps"))
    DistributedPercentiles.exact(gaps, "event_type", "__gap",
        Seq("p50" -> 0.5, "p95" -> 0.95))
      .join(broadcast(counts), Seq("event_type"))
      .select(col("event_type"), col("n_gaps"),
        round(col("p50") / lit(1000000.0), 6).as("p50_s"),
        round(col("p95") / lit(1000000.0), 6).as("p95_s"))
  }

  private val interarrivalSql =
    """WITH b AS (SELECT user_id, event_type, event_id, epoch_us(ts) AS t
      |           FROM events),
      |l AS (SELECT event_type,
      |        t - lag(t) OVER (PARTITION BY user_id, event_type
      |                         ORDER BY t, event_id) AS gap
      |      FROM b),
      |g AS (SELECT event_type, gap FROM l WHERE gap IS NOT NULL)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
      |  round(quantile_cont(CAST(gap AS DOUBLE), 0.5) / 1000000.0, 6) AS p50_s,
      |  round(quantile_cont(CAST(gap AS DOUBLE), 0.95) / 1000000.0, 6) AS p95_s
      |FROM g GROUP BY 1""".stripMargin

  /** #141 session path mining — the top-20 five-step journey shapes
    * ("view>click>purchase…"), the aggregate complement of
    * q_transition_matrix's one-step probabilities. Sessions come from
    * the q_sessionize gap rule (30 min); each session is then CUT TO
    * ITS FIRST FIVE EVENTS with a row_number window BEFORE any
    * collection, so the per-session state is ≤ 5 structs however long
    * a bot session runs — the bounded-collect discipline. The path
    * string builds from an array_sort over those ≤5 (t, id, type)
    * structs (deterministic under any shuffle order); the top-20 cut
    * is TakeOrderedAndProject (per-partition top-k, k-row driver
    * merge) with the (count desc, path asc) tie-break pinned on both
    * engines. */
  private def sessionPaths(s: SparkSession, dir: String): DataFrame = {
    val gapMicros = 1800L * 1000000L
    val byUser = Window.partitionBy("user_id").orderBy(col("__t"), col("event_id"))
    val bySession = Window.partitionBy("user_id", "session_id")
      .orderBy(col("__t"), col("event_id"))
    events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("__t"))
      .withColumn("__new",
        when(col("__t") - lag(col("__t"), 1).over(byUser) > gapMicros, 1)
          .when(lag(col("__t"), 1).over(byUser).isNull, 1)
          .otherwise(0))
      .withColumn("session_id",
        sum(col("__new")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("__rn", row_number().over(bySession))
      .filter(col("__rn") <= 5)
      .groupBy("user_id", "session_id")
      .agg(collect_list(struct(col("__t"), col("event_id"), col("event_type")))
        .as("__evs"))
      .select(expr(
        "concat_ws('>', transform(array_sort(__evs), x -> x.event_type))")
        .as("path"))
      .groupBy("path").agg(count(lit(1)).as("n_sessions"))
      .orderBy(desc("n_sessions"), col("path")).limit(20)
  }

  private val sessionPathsSql =
    """WITH b AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS t
      |           FROM events),
      |l AS (SELECT *, lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS pt
      |      FROM b),
      |n AS (SELECT user_id, event_id, event_type, t,
      |        CASE WHEN pt IS NULL OR t - pt > 1800000000 THEN 1 ELSE 0 END AS nw
      |      FROM l),
      |sess AS (SELECT user_id, event_id, event_type, t,
      |           sum(nw) OVER (PARTITION BY user_id ORDER BY t, event_id
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |         FROM n),
      |cut AS (SELECT user_id, session_id, event_type, t, event_id,
      |          row_number() OVER (PARTITION BY user_id, session_id
      |                             ORDER BY t, event_id) AS rn
      |        FROM sess),
      |p AS (SELECT user_id, session_id,
      |        array_to_string(list(event_type ORDER BY t, event_id), '>') AS path
      |      FROM cut WHERE rn <= 5 GROUP BY 1, 2)
      |SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
      |FROM p GROUP BY 1 ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin

  /** #142 Gini coefficient of per-user purchase revenue — the
    * concentration/inequality audit ("how top-heavy is spend?"),
    * the scalar complement of q_rate_shrinkage's per-source ranking.
    * G = (2·Σᵢ i·x₍ᵢ₎ − (n+1)·Σx) / (n·Σx) needs every value's GLOBAL
    * ascending rank — which comes from the distributed two-phase
    * prefix scan (`PrefixSum.withGlobalRank`: range-partition,
    * per-partition count, O(partitions) driver offsets), never a
    * single-reducer row_number window. The rank·value dot product
    * folds as DECIMAL(38,0) (rank ≤ n and cents ≤ 1e7 can overflow a
    * long at 1e12 users) — exact and order-independent; doubles only
    * in the final one-row projection. */
  private def gini(s: SparkSession, dir: String): DataFrame = {
    val perUser = events(s, dir).filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(sum((col("value").cast("decimal(18,2)") * 100).cast("long")).as("cents"))
    PrefixSum.withGlobalRank(perUser, Seq("cents", "user_id"), "__r")
      .agg(count(lit(1)).as("n_users"), sum("cents").as("total_cents"),
        sum(col("__r").cast("decimal(38,0)") * col("cents").cast("decimal(38,0)"))
          .as("__s"))
      .select(col("n_users"), col("total_cents"),
        round((lit(2.0) * col("__s").cast("double")
            - (col("n_users") + 1).cast("double") * col("total_cents").cast("double"))
          / (col("n_users").cast("double") * col("total_cents").cast("double")), 6)
          .as("gini"))
  }

  private val giniSql =
    """WITH u AS (
      |  SELECT user_id,
      |    CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |r AS (SELECT cents,
      |        CAST(row_number() OVER (ORDER BY cents, user_id) AS BIGINT) AS rk
      |      FROM u),
      |m AS (SELECT CAST(count(*) AS BIGINT) AS n_users,
      |        CAST(sum(cents) AS BIGINT) AS total_cents,
      |        sum(CAST(rk AS HUGEINT) * CAST(cents AS HUGEINT)) AS s
      |      FROM r)
      |SELECT n_users, total_cents,
      |  round((2.0 * CAST(s AS DOUBLE)
      |         - CAST(n_users + 1 AS DOUBLE) * CAST(total_cents AS DOUBLE))
      |        / (CAST(n_users AS DOUBLE) * CAST(total_cents AS DOUBLE)), 6) AS gini
      |FROM m""".stripMargin

  /** #143 hour-of-day seasonality profile per event type — the diurnal
    * shape that q_autocorr detects and q_linear_fit detrends:
    * seasonal_idx = 24·cnt_h / total (1.0 = flat). ONE
    * map-side-combinable (type, hour) aggregate over the corpus; the
    * O(24·V) cell table feeds its own totals AND the final projection
    * through one shared exchange (the corpus is scanned once), totals
    * broadcast back, division double only in the final projection.
    * Session timezone is pinned UTC on both engines, so hour() agrees. */
  private def seasonality(s: SparkSession, dir: String): DataFrame = {
    val cells = events(s, dir)
      .groupBy(col("event_type"), hour(col("ts")).cast("long").as("hod"))
      .agg(count(lit(1)).as("cnt"))
    val totals = cells.groupBy("event_type").agg(sum("cnt").as("__tot"))
    cells.join(broadcast(totals), Seq("event_type"))
      .select(col("event_type"), col("hod"), col("cnt"),
        round(lit(24.0) * col("cnt").cast("double") / col("__tot").cast("double"), 6)
          .as("seasonal_idx"))
  }

  private val seasonalitySql =
    """WITH c AS (
      |  SELECT event_type, CAST(hour(ts) AS BIGINT) AS hod,
      |    CAST(count(*) AS BIGINT) AS cnt
      |  FROM events GROUP BY 1, 2),
      |t AS (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS tot FROM c GROUP BY 1)
      |SELECT c.event_type, c.hod, c.cnt,
      |  round(24.0 * CAST(c.cnt AS DOUBLE) / CAST(t.tot AS DOUBLE), 6) AS seasonal_idx
      |FROM c JOIN t USING (event_type)""".stripMargin

  /** #145 conversion-lag histogram — how long after the last view does
    * a purchase land? The distribution that sizes attribution lookbacks
    * (q_attribution picks the channel; this audits the 7-day window
    * itself). Same as-of carry (one shuffle, tolerance residual), the
    * carried payload is the view's exact epoch-micros, the lag buckets
    * to whole hours with integer `div` — no timestamp doubles. The
    * O(lookback-hours) histogram feeds its own total through the same
    * exchange, share divides against the broadcast 1-row matched count. */
  private def conversionLag(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"),
        unix_micros(col("ts")).as("__pt"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("view_t"))
    val hist = AsofJoin.lastPriorMatchWithin(purchases, views, "user_id",
        "ts", "ts", "view_t", "touch_t", toleranceSeconds = 7L * 86400L)
      .filter(col("touch_t").isNotNull)
      .select(expr("CAST((__pt - touch_t) div 3600000000 AS BIGINT)").as("lag_h"))
      .groupBy("lag_h").agg(count(lit(1)).as("n"))
    val tot = hist.agg(sum("n").as("__tot"))
    hist.crossJoin(broadcast(tot))
      .select(col("lag_h"), col("n"),
        round(col("n").cast("double") / col("__tot").cast("double"), 6).as("share"))
  }

  private val conversionLagSql =
    """WITH p AS (SELECT user_id, epoch_us(ts) AS t FROM events
      |           WHERE event_type = 'purchase'),
      |v AS (SELECT user_id, epoch_us(ts) AS t FROM events
      |      WHERE event_type = 'view'),
      |a AS (
      |  SELECT p.t AS pt,
      |    CASE WHEN v.t >= p.t - 604800000000 THEN v.t END AS vt
      |  FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.t <= p.t),
      |h AS (SELECT CAST((pt - vt) // 3600000000 AS BIGINT) AS lag_h,
      |        CAST(count(*) AS BIGINT) AS n
      |      FROM a WHERE vt IS NOT NULL GROUP BY 1),
      |t AS (SELECT sum(n) AS tot FROM h)
      |SELECT lag_h, n,
      |  round(CAST(n AS DOUBLE) / CAST(t.tot AS DOUBLE), 6) AS share
      |FROM h, t""".stripMargin

  /** #146 ingestion-completeness audit — per event type, which days of
    * its active span are MISSING (the batch-pipeline "did every
    * partition land?" gate; the audit complement of q_gap_fill's
    * zero-filling). Observed (type, day) presence collapses to one
    * distinct aggregate (persisted: feeds the span AND the anti-join);
    * the expected grid explodes map-side from the O(types) span row
    * (`sequence` of dates — no global calendar table); missing days =
    * grid anti-join observed, with a ≤10-day sorted sample collected
    * per type (bounded diagnostic, never an unbounded list). Counts
    * stay exact; completeness is the one final division. */
  private def completeness(s: SparkSession, dir: String): DataFrame = {
    val obs0 = events(s, dir)
      .select(col("event_type"), to_date(col("ts")).as("day")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // one PLANTED sparse series ('__probe', every 7th day of the real
    // span): the natural types cover every day at every SF, so
    // days_missing/sample_missing never fired and the gap detector was
    // unverifiable (r10 vacuity audit — the qualityGate probe device)
    val probe = obs0.agg(min("day").as("__lo"), max("day").as("__hi"))
      .select(lit("__probe").as("event_type"),
        explode(expr("sequence(__lo, __hi, interval 7 day)")).as("day"))
    val obs = obs0.unionAll(probe)
    val span = obs.groupBy("event_type")
      .agg(min("day").as("first_day"), max("day").as("last_day"),
        count(lit(1)).as("days_present"))
    val missing = span
      .select(col("event_type"),
        explode(expr("sequence(first_day, last_day)")).as("day"))
      .join(obs, Seq("event_type", "day"), "left_anti")
      .groupBy("event_type")
      .agg(count(lit(1)).as("days_missing"),
        concat_ws(",", slice(sort_array(collect_list(col("day").cast("string"))),
          1, 10)).as("sample_missing"))
    span.join(missing, Seq("event_type"), "left")
      // ISO strings for the day bounds (house convention — DateType
      // output reaches the driver's hash compare as a different dtype
      // than DuckDB DATE)
      .select(col("event_type"),
        date_format(col("first_day"), "yyyy-MM-dd").as("first_day"),
        date_format(col("last_day"), "yyyy-MM-dd").as("last_day"),
        (datediff(col("last_day"), col("first_day")) + 1).cast("long")
          .as("days_expected"),
        col("days_present"),
        coalesce(col("days_missing"), lit(0L)).as("days_missing"),
        coalesce(col("sample_missing"), lit("")).as("sample_missing"),
        round(col("days_present").cast("double")
          / (datediff(col("last_day"), col("first_day")) + 1).cast("double"), 6)
          .as("completeness"))
  }

  private val completenessSql =
    """WITH obs0 AS (
      |  SELECT DISTINCT event_type, CAST(ts AS DATE) AS day FROM events),
      |obs AS (
      |  SELECT event_type, day FROM obs0
      |  UNION ALL
      |  SELECT '__probe', CAST(u.d AS DATE)
      |  FROM (SELECT min(day) AS lo, max(day) AS hi FROM obs0),
      |    unnest(generate_series(CAST(lo AS TIMESTAMP), CAST(hi AS TIMESTAMP),
      |      INTERVAL 7 DAY)) AS u(d)),
      |span AS (
      |  SELECT event_type, min(day) AS first_day, max(day) AS last_day,
      |    CAST(count(*) AS BIGINT) AS days_present
      |  FROM obs GROUP BY 1),
      |grid AS (
      |  SELECT s.event_type, CAST(u.d AS DATE) AS day
      |  FROM span s,
      |    unnest(generate_series(CAST(s.first_day AS TIMESTAMP),
      |      CAST(s.last_day AS TIMESTAMP), INTERVAL 1 DAY)) AS u(d)),
      |miss AS (
      |  SELECT g.event_type, CAST(count(*) AS BIGINT) AS days_missing,
      |    array_to_string(list(CAST(g.day AS VARCHAR) ORDER BY g.day)[1:10], ',')
      |      AS sample_missing
      |  FROM grid g LEFT JOIN obs o
      |    ON o.event_type = g.event_type AND o.day = g.day
      |  WHERE o.day IS NULL GROUP BY 1)
      |SELECT s.event_type,
      |  strftime(s.first_day, '%Y-%m-%d') AS first_day,
      |  strftime(s.last_day, '%Y-%m-%d') AS last_day,
      |  CAST(date_diff('day', s.first_day, s.last_day) + 1 AS BIGINT) AS days_expected,
      |  s.days_present,
      |  coalesce(m.days_missing, 0) AS days_missing,
      |  coalesce(m.sample_missing, '') AS sample_missing,
      |  round(CAST(s.days_present AS DOUBLE)
      |        / CAST(date_diff('day', s.first_day, s.last_day) + 1 AS DOUBLE), 6)
      |    AS completeness
      |FROM span s LEFT JOIN miss m USING (event_type)""".stripMargin

  /** #147 Pareto concentration — the smallest user set covering 80% of
    * purchase revenue ("do 20% of users make 80% of spend?"), the
    * set-valued complement of q_gini's scalar. Descending rank and
    * INCLUSIVE running revenue come from ONE combined two-phase scan
    * (`PrefixSum.withRankAndRunningTotal` on (−cents, user)) —
    * O(partitions) driver state, never a single-reducer window.
    * The 80% threshold is exact
    * integer ceiling arithmetic ((4T+4) div 5); a user is in the top
    * set iff the running total BEFORE them is still under the
    * threshold — counted in one aggregate against the broadcast
    * 1-row total. Doubles only in the final share projections. */
  private def paretoShare(s: SparkSession, dir: String): DataFrame = {
    val perUser = events(s, dir).filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(sum((col("value").cast("decimal(18,2)") * 100).cast("long")).as("cents"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tot = perUser.agg(count(lit(1)).as("__n"), sum("cents").as("__T"))
    // rank + running revenue in ONE two-phase scan (see q_abc_xyz) —
    // the rank itself is unused downstream, the combined scan just
    // erases the second range shuffle + driver collect + rank join
    PrefixSum.withRankAndRunningTotal(
        perUser.withColumn("__negc", -col("cents")), Seq("__negc", "user_id"),
        "cents", "__r", "running_total")
      .crossJoin(broadcast(tot))
      .withColumn("__thr", expr("CAST((4 * __T + 4) div 5 AS BIGINT)"))
      .agg(max("__n").as("n_users"), max("__T").as("total_cents"),
        max("__thr").as("threshold_cents"),
        sum(when(col("running_total") - col("cents") < col("__thr"), 1L)
          .otherwise(0L)).as("top_users"),
        min(when(col("running_total") >= col("__thr"), col("running_total")))
          .as("covered_cents"))
      .select(col("n_users"), col("total_cents"), col("threshold_cents"),
        col("top_users"),
        round(col("top_users").cast("double") / col("n_users").cast("double"), 6)
          .as("top_share"),
        col("covered_cents"))
  }

  private val paretoShareSql =
    """WITH u AS (
      |  SELECT user_id,
      |    CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |t AS (SELECT CAST(count(*) AS BIGINT) AS n_users,
      |        CAST(sum(cents) AS BIGINT) AS total,
      |        CAST((4 * sum(cents) + 4) // 5 AS BIGINT) AS thr
      |      FROM u),
      |r AS (SELECT cents,
      |        CAST(sum(cents) OVER (ORDER BY cents DESC, user_id) AS BIGINT) AS rt
      |      FROM u)
      |SELECT t.n_users, t.total AS total_cents, t.thr AS threshold_cents,
      |  CAST(sum(CASE WHEN r.rt - r.cents < t.thr THEN 1 ELSE 0 END) AS BIGINT)
      |    AS top_users,
      |  round(CAST(sum(CASE WHEN r.rt - r.cents < t.thr THEN 1 ELSE 0 END) AS DOUBLE)
      |        / CAST(t.n_users AS DOUBLE), 6) AS top_share,
      |  CAST(min(CASE WHEN r.rt >= t.thr THEN r.rt END) AS BIGINT) AS covered_cents
      |FROM r, t GROUP BY t.n_users, t.total, t.thr""".stripMargin

  /** #150 burstiness (Fano factor) of the hourly event rate per type —
    * Var/mean of counts on the DENSE zero-filled hour grid (the
    * q_linear_fit grid, reused: a Poisson-like stream sits at F ≈ 1,
    * bursty traffic far above — the signal that picks streaming
    * trigger intervals). Counts and both moments fold exactly —
    * squares through DECIMAL(38,0) (an hourly count of 1e9 at full
    * scale squares past a long); the variance numerator n·Σc² − (Σc)²
    * stays in exact decimal arithmetic and ONLY the final Fano/mean
    * divisions are doubles. */
  private def burstiness(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    // persisted: O(types·hours) rows feed the span aggregate AND the
    // grid join — one events scan instead of two
    val hc = ev
      .groupBy(col("event_type"), expr("unix_micros(ts) div 3600000000").as("hr"))
      .agg(count(lit(1)).as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val span = hc.groupBy("event_type").agg(min("hr").as("h0"), max("hr").as("h1"))
    val grid = span
      .select(col("event_type"), explode(expr("sequence(h0, h1)")).as("hr"))
      .join(hc, Seq("event_type", "hr"), "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
    val m = grid.groupBy("event_type")
      .agg(count(lit(1)).as("n_hours"), sum("cnt").as("__s1"),
        sum(col("cnt").cast("decimal(19,0)") * col("cnt").cast("decimal(19,0)"))
          .as("__s2"))
    val num = (col("n_hours").cast("decimal(38,0)") * col("__s2")) -
      (col("__s1").cast("decimal(38,0)") * col("__s1").cast("decimal(38,0)"))
    m.select(col("event_type"), col("n_hours"),
      round(col("__s1").cast("double") / col("n_hours").cast("double"), 6)
        .as("mean_rate"),
      round(num.cast("double")
        / (col("n_hours").cast("double") * col("__s1").cast("double")), 6)
        .as("fano"))
  }

  private val burstinessSql =
    """WITH hc AS (
      |  SELECT event_type, epoch_us(ts) // 3600000000 AS hr,
      |    CAST(count(*) AS BIGINT) AS cnt
      |  FROM events GROUP BY 1, 2),
      |span AS (SELECT event_type, min(hr) AS h0, max(hr) AS h1 FROM hc GROUP BY 1),
      |g0 AS (
      |  SELECT s.event_type, CAST(u.hr AS BIGINT) AS hr
      |  FROM span s, unnest(range(s.h0, s.h1 + 1)) AS u(hr)),
      |grid AS (
      |  SELECT g0.event_type, CAST(coalesce(c.cnt, 0) AS BIGINT) AS cnt
      |  FROM g0 LEFT JOIN hc c ON c.event_type = g0.event_type AND c.hr = g0.hr),
      |m AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
      |    CAST(sum(cnt) AS BIGINT) AS s1,
      |    sum(CAST(cnt AS HUGEINT) * CAST(cnt AS HUGEINT)) AS s2
      |  FROM grid GROUP BY 1)
      |SELECT event_type, n_hours,
      |  round(CAST(s1 AS DOUBLE) / CAST(n_hours AS DOUBLE), 6) AS mean_rate,
      |  round(CAST(CAST(n_hours AS HUGEINT) * s2
      |             - CAST(s1 AS HUGEINT) * CAST(s1 AS HUGEINT) AS DOUBLE)
      |        / (CAST(n_hours AS DOUBLE) * CAST(s1 AS DOUBLE)), 6) AS fano
      |FROM m""".stripMargin

  /** #153 Tukey IQR outlier fences on per-user spend per event type —
    * the classic robust band (1.5·IQR beyond the quartiles), closing
    * the robust-detection family with q_mad_outlier (median-centered)
    * and q_anomaly_zscore (moment-based). Exactness story: spend folds
    * to EXACT integer cents per row before summing (order-independent),
    * the quartiles come from `DistributedPercentiles` (rank selection,
    * no per-group value buffering), and with integer values at
    * p ∈ {.25,.75} the interpolation is EXACT DYADIC — Spark's
    * `(ceil−pos)·lo + (pos−floor)·hi` and DuckDB's `lo + f·(hi−lo)`
    * land on the identical double, so fences and comparisons are
    * bit-stable across engines with no tolerance. Fences are O(types)
    * rows broadcast back; detection is one map-only pass + one
    * aggregate. */
  private def outlierIqr(s: SparkSession, dir: String): DataFrame = {
    val u = events(s, dir)
      .groupBy(col("event_type"), col("user_id"))
      .agg(sum((col("value").cast("decimal(18,2)") * 100).cast("long"))
        .as("cents"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val q = DistributedPercentiles.exact(u, "event_type", "cents",
      Seq("q1" -> 0.25, "q3" -> 0.75))
    val f = q.select(col("event_type"), col("q1"), col("q3"),
      (col("q1") - lit(1.5) * (col("q3") - col("q1"))).as("lo"),
      (col("q3") + lit(1.5) * (col("q3") - col("q1"))).as("hi"))
    u.join(broadcast(f), Seq("event_type"))
      .groupBy(col("event_type"),
        round(col("q1") / 100.0, 6).as("q1_spend"),
        round(col("q3") / 100.0, 6).as("q3_spend"),
        round(col("lo") / 100.0, 6).as("lo_fence"),
        round(col("hi") / 100.0, 6).as("hi_fence"))
      .agg(count(lit(1)).as("n_users"),
        count(when(col("cents") < col("lo") || col("cents") > col("hi"), 1))
          .as("n_outliers"))
      .select("event_type", "n_users", "n_outliers",
        "q1_spend", "q3_spend", "lo_fence", "hi_fence")
  }

  private val outlierIqrSql =
    """WITH u AS (
      |  SELECT event_type, user_id,
      |    CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
      |      AS cents
      |  FROM events GROUP BY 1, 2),
      |q AS (
      |  SELECT event_type, quantile_cont(cents, 0.25) AS q1,
      |    quantile_cont(cents, 0.75) AS q3
      |  FROM u GROUP BY 1),
      |f AS (SELECT event_type, q1, q3, q1 - 1.5*(q3 - q1) AS lo,
      |        q3 + 1.5*(q3 - q1) AS hi FROM q)
      |SELECT u.event_type, CAST(count(*) AS BIGINT) AS n_users,
      |  CAST(count(*) FILTER (WHERE u.cents < f.lo OR u.cents > f.hi) AS BIGINT)
      |    AS n_outliers,
      |  round(f.q1/100.0, 6) AS q1_spend, round(f.q3/100.0, 6) AS q3_spend,
      |  round(f.lo/100.0, 6) AS lo_fence, round(f.hi/100.0, 6) AS hi_fence
      |FROM u JOIN f USING (event_type)
      |GROUP BY 1, q1_spend, q3_spend, lo_fence, hi_fence""".stripMargin

  /** #157 CUPED variance-reduced A/B readout — the experimentation
    * workhorse: adjust each user's post-period metric by their
    * PRE-period baseline (θ = cov(pre,post)/var(pre), pooled) so arm
    * means compare with the between-user variance removed. Exactness
    * story: per-user pre/post spend folds to integer cents split at
    * the EXACT integer-micros midpoint of the observed time span; all
    * second moments accumulate as DECIMAL(38,0) (order-independent;
    * a 1e9-user corpus with 1e13-scale per-user products stays inside
    * 38 digits); θ and the adjusted means go through doubles only in
    * the FINAL textually-parallel expressions, so both engines execute
    * the identical IEEE operation sequence. One fact scan, O(arms)
    * output, every join a 1-row broadcast. */
  private def cuped(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
    val span = ev.agg(min("us").as("mn"), max("us").as("mx"))
      .select(expr("(mn + mx) div 2").as("mid"))
    val users = ev.crossJoin(broadcast(span))
      .groupBy(col("user_id"))
      .agg(sum(when(col("us") < col("mid"), col("cents")).otherwise(0L)).as("x"),
        sum(when(col("us") >= col("mid"), col("cents")).otherwise(0L)).as("y"))
      .select(col("user_id"), (col("user_id") % 2).cast("int").as("arm"),
        col("x"), col("y"))
    val pooled = users.agg(
      count(lit(1)).cast("decimal(38,0)").as("n"),
      sum(col("x").cast("decimal(38,0)")).as("sx"),
      sum(col("y").cast("decimal(38,0)")).as("sy"),
      // cast BEFORE the product: per-user cents can square past BIGINT
      sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"),
      sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"))
    users.groupBy(col("arm"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("na"),
        sum(col("x").cast("decimal(38,0)")).as("sxa"),
        sum(col("y").cast("decimal(38,0)")).as("sya"))
      .crossJoin(broadcast(pooled))
      .select(col("arm"), col("na").cast("long").as("n_users"),
        expr("""round(CAST(sya AS DOUBLE) / CAST(na AS DOUBLE) / 100.0, 6)""")
          .as("mean_post"),
        expr("""round((CAST(sya AS DOUBLE) / CAST(na AS DOUBLE)
               | - (CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE))
               |   * (CAST(sxa AS DOUBLE) / CAST(na AS DOUBLE)
               |      - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))) / 100.0, 6)
               |""".stripMargin.replace("\n", " ")).as("mean_post_adj"),
        expr("""round(CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE), 6)""")
          .as("theta"))
  }

  private val cupedSql =
    """WITH ev AS (
      |  SELECT user_id, epoch_us(ts) AS us,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM events),
      |mid AS (SELECT (min(us) + max(us)) // 2 AS mid FROM ev),
      |u AS (
      |  SELECT user_id, CAST(user_id % 2 AS INT) AS arm,
      |    CAST(sum(CASE WHEN us < (SELECT mid FROM mid) THEN cents ELSE 0 END)
      |         AS BIGINT) AS x,
      |    CAST(sum(CASE WHEN us >= (SELECT mid FROM mid) THEN cents ELSE 0 END)
      |         AS BIGINT) AS y
      |  FROM ev GROUP BY 1, 2),
      |p AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS n,
      |    CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
      |    CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
      |    CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
      |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
      |  FROM u)
      |SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
      |  round(CAST(sum(CAST(y AS HUGEINT)) AS DOUBLE) / CAST(count(*) AS DOUBLE)
      |        / 100.0, 6) AS mean_post,
      |  round((CAST(sum(CAST(y AS HUGEINT)) AS DOUBLE) / CAST(count(*) AS DOUBLE)
      |   - (CAST(p.n * p.sxy - p.sx * p.sy AS DOUBLE)
      |      / CAST(p.n * p.sxx - p.sx * p.sx AS DOUBLE))
      |     * (CAST(sum(CAST(x AS HUGEINT)) AS DOUBLE) / CAST(count(*) AS DOUBLE)
      |        - CAST(p.sx AS DOUBLE) / CAST(p.n AS DOUBLE))) / 100.0, 6)
      |    AS mean_post_adj,
      |  round(CAST(p.n * p.sxy - p.sx * p.sy AS DOUBLE)
      |        / CAST(p.n * p.sxx - p.sx * p.sx AS DOUBLE), 6) AS theta
      |FROM u, p GROUP BY arm, p.n, p.sx, p.sy, p.sxy, p.sxx""".stripMargin

  /** #158 winsorized (clamped) per-user spend per event type — the
    * curation alternative to q_outlier_iqr's DROP: clip to the
    * [p12.5, p87.5] band and keep the row. The percentiles are
    * DELIBERATELY dyadic (1/8, 7/8): at dyadic p over integer cents,
    * Spark's `(ceil−pos)·lo + (pos−floor)·hi` and DuckDB's
    * `lo + f·(hi−lo)` are BOTH exact in binary floating point, so the
    * clamp thresholds are bit-identical across engines and every
    * clamped value is an exact multiple of 2⁻³ — double sums of such
    * values are exact and order-independent, no tolerance needed.
    * Thresholds come from `DistributedPercentiles` (rank selection, no
    * per-group buffering), are O(types) rows, and broadcast back;
    * clamping is one map-only pass. */
  private def winsorize(s: SparkSession, dir: String): DataFrame = {
    val u = events(s, dir)
      .groupBy(col("event_type"), col("user_id"))
      .agg(sum((col("value").cast("decimal(18,2)") * 100).cast("long"))
        .as("cents"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val q = DistributedPercentiles.exact(u, "event_type", "cents",
      Seq("lo" -> 0.125, "hi" -> 0.875))
    u.join(broadcast(q), Seq("event_type"))
      .select(col("event_type"),
        when(col("cents") < col("lo"), col("lo"))
          .when(col("cents") > col("hi"), col("hi"))
          .otherwise(col("cents").cast("double")).as("w"),
        (col("cents") < col("lo")).cast("int").as("is_lo"),
        (col("cents") > col("hi")).cast("int").as("is_hi"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_users"),
        sum(col("is_lo")).as("n_clamped_lo"),
        sum(col("is_hi")).as("n_clamped_hi"),
        round(sum(col("w")) / 100.0, 6).as("winsorized_spend"))
  }

  private val winsorizeSql =
    """WITH u AS (
      |  SELECT event_type, user_id,
      |    CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
      |      AS cents
      |  FROM events GROUP BY 1, 2),
      |q AS (
      |  SELECT event_type, quantile_cont(cents, 0.125) AS lo,
      |    quantile_cont(cents, 0.875) AS hi
      |  FROM u GROUP BY 1)
      |SELECT u.event_type, CAST(count(*) AS BIGINT) AS n_users,
      |  CAST(count(*) FILTER (WHERE u.cents < q.lo) AS BIGINT) AS n_clamped_lo,
      |  CAST(count(*) FILTER (WHERE u.cents > q.hi) AS BIGINT) AS n_clamped_hi,
      |  round(sum(CASE WHEN u.cents < q.lo THEN q.lo
      |                 WHEN u.cents > q.hi THEN q.hi
      |                 ELSE CAST(u.cents AS DOUBLE) END) / 100.0, 6)
      |    AS winsorized_spend
      |FROM u JOIN q USING (event_type) GROUP BY 1""".stripMargin

  /** #159 erasure (right-to-be-forgotten) audit — the governance pass a
    * 100-TB lakehouse runs before a purge: given a deletion registry
    * (here the deterministic custkey % 13 = 0 slice of `customer`),
    * report per table how many rows the purge removes, how many
    * survive, and an exact integral fingerprint of the survivors. The
    * registry is a BROADCAST dimension (explicit hint) for the direct
    * hits on `orders` and `events`; the CASCADE to `lineitem` flows
    * through the purged order keys as a plain anti-join — at scale
    * that set is O(fact/13), far too big to broadcast, and AQE may
    * still downgrade it when it happens to be small. Survivor
    * fingerprints are exact integer sums of the table keys —
    * order-independent, engine-portable. */
  private def erasureAudit(s: SparkSession, dir: String): DataFrame = {
    val ids = t(s, dir, "customer")
      .filter(col("c_custkey") % 13 === 0)
      .select(col("c_custkey").as("__id"))
    val ev = events(s, dir).select(col("user_id"), col("event_id"))
    val ord = t(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"))
    val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"))
    def audit(name: String, df: DataFrame, key: Column, fp: Column,
              purged: DataFrame, purgeKey: Column, bcast: Boolean): DataFrame = {
      val dim = if (bcast) broadcast(purged) else purged
      val kept = df.join(dim, key === purgeKey, "left_anti")
      val total = df.agg(count(lit(1)).as("n_total"))
      kept.agg(count(lit(1)).as("n_kept"),
          coalesce(sum(fp), lit(0L)).as("survivor_fp"))
        .crossJoin(broadcast(total))
        .select(lit(name).as("table_name"), col("n_total"),
          (col("n_total") - col("n_kept")).as("n_purged"), col("n_kept"),
          col("survivor_fp"))
    }
    val purgedOrders = ord.join(broadcast(ids),
        col("o_custkey") === col("__id"), "left_semi")
      .select(col("o_orderkey").as("__ok"))
    audit("events", ev, col("user_id"), col("event_id"), ids, col("__id"),
        bcast = true)
      .unionAll(audit("orders", ord, col("o_custkey"), col("o_orderkey"),
        ids, col("__id"), bcast = true))
      .unionAll(audit("lineitem", li, col("l_orderkey"),
        col("l_orderkey") * 8 + col("l_linenumber"), purgedOrders,
        col("__ok"), bcast = false))
  }

  private val erasureAuditSql =
    """WITH ids AS (SELECT c_custkey AS id FROM customer WHERE c_custkey % 13 = 0),
      |po AS (SELECT o_orderkey FROM orders WHERE o_custkey IN (SELECT id FROM ids))
      |SELECT 'events' AS table_name,
      |  (SELECT CAST(count(*) AS BIGINT) FROM events) AS n_total,
      |  (SELECT CAST(count(*) AS BIGINT) FROM events
      |   WHERE user_id IN (SELECT id FROM ids)) AS n_purged,
      |  (SELECT CAST(count(*) AS BIGINT) FROM events
      |   WHERE user_id NOT IN (SELECT id FROM ids)) AS n_kept,
      |  (SELECT coalesce(CAST(sum(event_id) AS BIGINT), 0) FROM events
      |   WHERE user_id NOT IN (SELECT id FROM ids)) AS survivor_fp
      |UNION ALL
      |SELECT 'orders',
      |  (SELECT CAST(count(*) AS BIGINT) FROM orders),
      |  (SELECT CAST(count(*) AS BIGINT) FROM orders
      |   WHERE o_custkey IN (SELECT id FROM ids)),
      |  (SELECT CAST(count(*) AS BIGINT) FROM orders
      |   WHERE o_custkey NOT IN (SELECT id FROM ids)),
      |  (SELECT coalesce(CAST(sum(o_orderkey) AS BIGINT), 0) FROM orders
      |   WHERE o_custkey NOT IN (SELECT id FROM ids))
      |UNION ALL
      |SELECT 'lineitem',
      |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
      |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem
      |   WHERE l_orderkey IN (SELECT o_orderkey FROM po)),
      |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem
      |   WHERE l_orderkey NOT IN (SELECT o_orderkey FROM po)),
      |  (SELECT coalesce(CAST(sum(l_orderkey * 8 + l_linenumber) AS BIGINT), 0)
      |   FROM lineitem
      |   WHERE l_orderkey NOT IN (SELECT o_orderkey FROM po))""".stripMargin

  /** #162 month-over-month revenue growth — the KPI trend table every
    * reporting layer derives from the order fact. The fact collapses
    * to O(months) rows FIRST (one map-side-combinable aggregate), so
    * the unpartitioned ordered window that computes the lag runs over
    * a calendar-bounded set (~84 rows however big the fact is) — the
    * single-partition window is bounded by TIME, not data. Growth is
    * fixed-point ppm vs the previous OBSERVED month (gaps skip to the
    * last month with revenue), exact integral division on
    * DECIMAL(38,0) operands (a 1e15-cent month × 1e6 passes BIGINT);
    * the first month's growth is NULL on both engines. */
  private def momGrowth(s: SparkSession, dir: String): DataFrame = {
    val m = t(s, dir, "orders")
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
        .as("rev_cents"))
    // O(months) rows post-aggregate: the global-order window is bounded
    m.withColumn("prev_cents", lag(col("rev_cents"), 1).over(Window.orderBy("month")))
      .select(col("month"), col("rev_cents"), col("prev_cents"),
        expr("""(CAST(rev_cents - prev_cents AS DECIMAL(38,0)) * 1000000)
               | div CAST(prev_cents AS DECIMAL(38,0))
               |""".stripMargin.replace("\n", " ")).as("growth_ppm"))
  }

  private val momGrowthSql =
    """WITH m AS (
      |  SELECT strftime(o_orderdate, '%Y-%m') AS month,
      |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
      |         AS BIGINT) AS rev_cents
      |  FROM orders GROUP BY 1)
      |SELECT month, rev_cents,
      |  lag(rev_cents, 1) OVER (ORDER BY month) AS prev_cents,
      |  CAST((CAST(rev_cents - lag(rev_cents, 1) OVER (ORDER BY month) AS HUGEINT)
      |        * 1000000)
      |       // CAST(lag(rev_cents, 1) OVER (ORDER BY month) AS HUGEINT) AS BIGINT)
      |    AS growth_ppm
      |FROM m""".stripMargin

  /** #167 deterministic bootstrap CI for mean user spend per event
    * type — error bars without randomness: B=32 half-sample replicates
    * selected by an engine-portable ARITHMETIC hash (modular multiply;
    * no engine hash function crosses Spark↔DuckDB), each replicate
    * mean held in ppm FIXED POINT via the exact `(2·num+den) div
    * (2·den)` rounding, and the across-replicate spread folded from
    * exact integer sums — the only doubles are the final sqrt/division
    * (IEEE-identical in both engines). Scale shape: the B-way fanout
    * is a map-side explode bounded by B, two hash aggregates, O(types)
    * output. */
  private def bootstrapCi(s: SparkSession, dir: String): DataFrame = {
    val u = events(s, dir)
      .groupBy(col("event_type"), col("user_id"))
      .agg(sum((col("value").cast("decimal(18,2)") * 100).cast("long"))
        .as("cents"))
    val reps = u.select(col("event_type"), col("user_id"), col("cents"),
        explode(sequence(lit(0), lit(31))).as("b"))
      .filter(expr("((user_id % 1000003) * 2654435761 + b * 40503) % 2147483647 % 2 = 0"))
      .groupBy("event_type", "b")
      .agg(count(lit(1)).as("nb"), sum("cents").as("sb"))
      .select(col("event_type"),
        expr("(2 * CAST(sb AS DECIMAL(38,0)) * 1000000 + nb) div (2 * CAST(nb AS DECIMAL(38,0)))")
          .as("m"))
    reps.groupBy("event_type")
      .agg(count(lit(1)).as("n_reps"),
        sum(col("m").cast("decimal(38,0)")).as("sm"),
        // cast BEFORE the square: m is ppm-cents (~1e13), m² overflows
        // BIGINT long before the decimal fold
        sum(col("m").cast("decimal(38,0)") * col("m")).as("smm"))
      .select(col("event_type"), col("n_reps"),
        expr("round(CAST(sm AS DOUBLE) / CAST(n_reps AS DOUBLE) / 1e8, 6)")
          .as("boot_mean"),
        expr("""round((CAST(sm AS DOUBLE) / CAST(n_reps AS DOUBLE)
               | - 2.0 * sqrt(CAST(n_reps * smm - sm * sm AS DOUBLE)
               |              / CAST(n_reps * (n_reps - 1) AS DOUBLE))) / 1e8, 6)
               |""".stripMargin.replace("\n", " ")).as("ci_lo"),
        expr("""round((CAST(sm AS DOUBLE) / CAST(n_reps AS DOUBLE)
               | + 2.0 * sqrt(CAST(n_reps * smm - sm * sm AS DOUBLE)
               |              / CAST(n_reps * (n_reps - 1) AS DOUBLE))) / 1e8, 6)
               |""".stripMargin.replace("\n", " ")).as("ci_hi"))
  }

  private val bootstrapCiSql =
    """WITH u AS (
      |  SELECT event_type, user_id,
      |    CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
      |      AS cents
      |  FROM events GROUP BY 1, 2),
      |r AS (
      |  SELECT event_type, b.b,
      |    CAST(count(*) AS BIGINT) AS nb, CAST(sum(cents) AS BIGINT) AS sb
      |  FROM u, unnest(range(0, 32)) AS b(b)
      |  WHERE ((user_id % 1000003) * 2654435761 + b.b * 40503) % 2147483647 % 2 = 0
      |  GROUP BY 1, 2),
      |m AS (
      |  SELECT event_type,
      |    (2 * CAST(sb AS HUGEINT) * 1000000 + nb) // (2 * CAST(nb AS HUGEINT)) AS m
      |  FROM r),
      |g AS (
      |  SELECT event_type, CAST(count(*) AS HUGEINT) AS n_reps,
      |    CAST(sum(m) AS HUGEINT) AS sm, CAST(sum(m * m) AS HUGEINT) AS smm
      |  FROM m GROUP BY 1)
      |SELECT event_type, CAST(n_reps AS BIGINT) AS n_reps,
      |  round(CAST(sm AS DOUBLE) / CAST(n_reps AS DOUBLE) / 1e8, 6) AS boot_mean,
      |  round((CAST(sm AS DOUBLE) / CAST(n_reps AS DOUBLE)
      |   - 2.0 * sqrt(CAST(n_reps * smm - sm * sm AS DOUBLE)
      |                / CAST(n_reps * (n_reps - 1) AS DOUBLE))) / 1e8, 6) AS ci_lo,
      |  round((CAST(sm AS DOUBLE) / CAST(n_reps AS DOUBLE)
      |   + 2.0 * sqrt(CAST(n_reps * smm - sm * sm AS DOUBLE)
      |                / CAST(n_reps * (n_reps - 1) AS DOUBLE))) / 1e8, 6) AS ci_hi
      |FROM g""".stripMargin

  /** #168 Wald–Wolfowitz runs test on the monthly revenue direction —
    * "is the up/down sequence random, or trending/mean-reverting?":
    * the month table is O(calendar) rows (mom-growth precedent), signs
    * and run boundaries fold as exact integers through the bounded lag
    * window, and the z-statistic's expectation/variance formulas run
    * in doubles only at the END, textually parallel in both engines.
    * Flat months (rev == prev) are excluded from the sign sequence
    * identically on both sides. */
  private def runsTest(s: SparkSession, dir: String): DataFrame = {
    val m = t(s, dir, "orders")
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
        .as("rev"))
    val signs = m
      .withColumn("prev", lag(col("rev"), 1).over(Window.orderBy("month")))
      .filter(col("prev").isNotNull && col("rev") =!= col("prev"))
      .withColumn("up", (col("rev") > col("prev")).cast("long"))
      .withColumn("chg",
        (lag(col("up"), 1).over(Window.orderBy("month")).isNull ||
          lag(col("up"), 1).over(Window.orderBy("month")) =!= col("up"))
          .cast("long"))
    signs.agg(sum("up").as("n_up"),
        (count(lit(1)) - sum("up")).as("n_down"),
        sum("chg").as("n_runs"))
      .select(col("n_up"), col("n_down"), col("n_runs"),
        expr("""round(CAST(n_runs AS DOUBLE)
               | - (2.0 * CAST(n_up * n_down AS DOUBLE)
               |    / CAST(n_up + n_down AS DOUBLE) + 1.0), 6)
               |""".stripMargin.replace("\n", " ")).as("excess_runs"),
        expr("""round((CAST(n_runs AS DOUBLE)
               |  - (2.0 * CAST(n_up * n_down AS DOUBLE)
               |     / CAST(n_up + n_down AS DOUBLE) + 1.0))
               | / sqrt(2.0 * CAST(n_up * n_down AS DOUBLE)
               |   * (2.0 * CAST(n_up * n_down AS DOUBLE) - CAST(n_up + n_down AS DOUBLE))
               |   / (CAST(n_up + n_down AS DOUBLE) * CAST(n_up + n_down AS DOUBLE)
               |      * CAST(n_up + n_down - 1 AS DOUBLE))), 6)
               |""".stripMargin.replace("\n", " ")).as("z"))
  }

  private val runsTestSql =
    """WITH m AS (
      |  SELECT strftime(o_orderdate, '%Y-%m') AS month,
      |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
      |         AS BIGINT) AS rev
      |  FROM orders GROUP BY 1),
      |d AS (
      |  SELECT month, rev, lag(rev, 1) OVER (ORDER BY month) AS prev
      |  FROM m),
      |sg AS (
      |  SELECT month, CAST(rev > prev AS BIGINT) AS up
      |  FROM d WHERE prev IS NOT NULL AND rev <> prev),
      |ch AS (
      |  SELECT up,
      |    CAST(lag(up, 1) OVER (ORDER BY month) IS NULL
      |         OR lag(up, 1) OVER (ORDER BY month) <> up AS BIGINT) AS chg
      |  FROM sg),
      |ag AS (
      |  SELECT CAST(sum(up) AS BIGINT) AS n_up,
      |    CAST(count(*) - sum(up) AS BIGINT) AS n_down,
      |    CAST(sum(chg) AS BIGINT) AS n_runs
      |  FROM ch)
      |SELECT n_up, n_down, n_runs,
      |  round(CAST(n_runs AS DOUBLE)
      |   - (2.0 * CAST(n_up * n_down AS DOUBLE)
      |      / CAST(n_up + n_down AS DOUBLE) + 1.0), 6) AS excess_runs,
      |  round((CAST(n_runs AS DOUBLE)
      |    - (2.0 * CAST(n_up * n_down AS DOUBLE)
      |       / CAST(n_up + n_down AS DOUBLE) + 1.0))
      |   / sqrt(2.0 * CAST(n_up * n_down AS DOUBLE)
      |     * (2.0 * CAST(n_up * n_down AS DOUBLE) - CAST(n_up + n_down AS DOUBLE))
      |     / (CAST(n_up + n_down AS DOUBLE) * CAST(n_up + n_down AS DOUBLE)
      |        * CAST(n_up + n_down - 1 AS DOUBLE))), 6) AS z
      |FROM ag""".stripMargin

  /** #169 classical seasonal decomposition of monthly revenue
    * (trend / seasonal / residual) — the reporting-layer companion to
    * q_mom_growth. The fact collapses to the O(calendar) month table
    * first; the 13-month centered moving average runs as a BOUNDED
    * rows-window (full windows only — edge months carry NULL trend);
    * everything stays in q4-cents FIXED POINT (trend via the exact
    * `(2·num+den) div (2·den)` rounding; detrended and seasonal values
    * exact integers; the per-calendar-month seasonal mean uses the
    * same integral rounding, truncation on negatives identical in both
    * engines), so the decomposition is bit-stable with doubles only in
    * the final /1e6 display divisions. */
  private def seasonalDecompose(s: SparkSession, dir: String): DataFrame = {
    val m = t(s, dir, "orders")
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
        .as("rev"))
    // internal quantization is q4 (cents × 1e4, output resolution 1e-6
    // dollars): the earlier ppm (×1e6) scale put monthly cents × 1e6 at
    // ~5.7e19 at sf100 — past BIGINT — and the output's documented
    // loud ANSI long cast fired (r13 sf100 sweep find). q4 holds to
    // ~sf1000 under the same loud-cast guard.
    val w = Window.orderBy("month").rowsBetween(-6, 6)
    val tr = m
      .withColumn("__n", count(lit(1)).over(w))
      .withColumn("__s", sum(col("rev")).over(w))
      .withColumn("trend_q4",
        when(col("__n") === 13,
          expr("(2 * CAST(__s AS DECIMAL(38,0)) * 10000 + 13) div 26")))
      .withColumn("det_q4",
        col("rev").cast("decimal(38,0)") * 10000L - col("trend_q4"))
    val seas = tr.filter(col("det_q4").isNotNull)
      .groupBy(substring(col("month"), 6, 2).as("moy"))
      .agg(count(lit(1)).as("k"),
        sum(col("det_q4")).as("sd"))
      .select(col("moy"),
        expr("(2 * CAST(sd AS DECIMAL(38,0)) + k) div (2 * CAST(k AS DECIMAL(38,0)))")
          .as("seasonal_q4"))
    // Output-cast discipline, pinned by the round-8 sf1 sweep (both
    // failure modes surfaced at row magnitudes ~1e16):
    //   1. NO round(x, 6): every value is an exact integer scaled by a
    //      power of ten, and the bare IEEE division is bit-identical on
    //      both engines — whereas round() itself diverges (Spark rounds
    //      the exact BigDecimal of the double; DuckDB's multiply-based
    //      round can land the FP product on a half: 4341565863.1 vs
    //      …100001).
    //   2. Integer→double goes THROUGH BIGINT: DuckDB's HUGEINT→DOUBLE
    //      cast is not correctly rounded past 2^53 (measured 2 ulp off
    //      on −9491164317820514), BIGINT→DOUBLE is. ANSI makes the
    //      long cast loud if a 100-TB-scale run ever outgrows it.
    tr.join(broadcast(seas), substring(col("month"), 6, 2) === col("moy"))
      .select(col("month"),
        (col("rev").cast("double") / 100.0).as("revenue"),
        (col("trend_q4").cast("long").cast("double") / 1e6).as("trend"),
        (col("seasonal_q4").cast("long").cast("double") / 1e6).as("seasonal"),
        ((col("det_q4") - col("seasonal_q4")).cast("long").cast("double") / 1e6)
          .as("residual"))
  }

  private val seasonalDecomposeSql =
    """WITH m AS (
      |  SELECT strftime(o_orderdate, '%Y-%m') AS month,
      |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
      |         AS BIGINT) AS rev
      |  FROM orders GROUP BY 1),
      |tr AS (
      |  SELECT month, rev,
      |    CASE WHEN count(*) OVER win = 13 THEN
      |      (2 * CAST(sum(rev) OVER win AS HUGEINT) * 10000 + 13) // 26
      |    END AS trend_q4
      |  FROM m
      |  WINDOW win AS (ORDER BY month ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING)),
      |dt AS (
      |  SELECT month, rev, trend_q4,
      |    CAST(rev AS HUGEINT) * 10000 - trend_q4 AS det_q4
      |  FROM tr),
      |se AS (
      |  SELECT substr(month, 6, 2) AS moy,
      |    (2 * CAST(sum(det_q4) AS HUGEINT) + count(*))
      |      // (2 * CAST(count(*) AS HUGEINT)) AS seasonal_q4
      |  FROM dt WHERE det_q4 IS NOT NULL GROUP BY 1)
      |SELECT month, CAST(rev AS DOUBLE) / 100.0 AS revenue,
      |  CAST(CAST(trend_q4 AS BIGINT) AS DOUBLE) / 1e6 AS trend,
      |  CAST(CAST(seasonal_q4 AS BIGINT) AS DOUBLE) / 1e6 AS seasonal,
      |  CAST(CAST(det_q4 - seasonal_q4 AS BIGINT) AS DOUBLE) / 1e6 AS residual
      |FROM dt JOIN se ON substr(month, 6, 2) = se.moy""".stripMargin

  /** #170 growth accounting (new / retained / resurrected / churned
    * users per week) — the canonical product-analytics decomposition
    * of week-over-week active users. "Active" is PURCHASE-active: on
    * this fixture every user emits some event every single week, so
    * any-event activity made resurrection and churn structurally
    * impossible (n_resurrected = 0 at every SF — the r9 vacuity audit
    * caught it); weekly purchaser sets genuinely gap and return.
    * Activity collapses to distinct (user, Monday-week) rows once;
    * every classification reads the per-user ordered week sequence
    * through BOUNDED lag windows (a user's weeks ≤ calendar weeks);
    * churn events are EMITTED rows (prev active, now silent → churned
    * at prev+7d, including after the final week when the observation
    * window extends past it) so the output grid needs no dense
    * generation. Counts are exact; the identity
    * new+retained+resurrected = WAU holds by construction
    * (spec-checked). */
  private def growthAccounting(s: SparkSession, dir: String): DataFrame = {
    val wk = events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"),
        to_date(date_trunc("week", col("ts"))).as("wk"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val gmax = wk.agg(max("wk").as("gmax"))
    val uw = Window.partitionBy("user_id").orderBy("wk")
    val seq0 = wk.withColumn("prev", lag(col("wk"), 1).over(uw))
      .crossJoin(broadcast(gmax))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val active = seq0.select(col("wk"),
      when(col("prev").isNull, "new")
        .when(datediff(col("wk"), col("prev")) === 7, "retained")
        .otherwise("resurrected").as("kind"))
    // churn at prev+7 for every gap, and after each user's final week
    val churnGaps = seq0
      .filter(col("prev").isNotNull && datediff(col("wk"), col("prev")) > 7)
      .select(date_add(col("prev"), 7).as("wk"), lit("churned").as("kind"))
    val churnLast = seq0
      .withColumn("nxt", lead(col("wk"), 1).over(uw))
      .filter(col("nxt").isNull && datediff(col("gmax"), col("wk")) >= 7)
      .select(date_add(col("wk"), 7).as("wk"), lit("churned").as("kind"))
    active.unionAll(churnGaps).unionAll(churnLast)
      .groupBy(date_format(col("wk"), "yyyy-MM-dd").as("week"))
      .agg(sum((col("kind") === "new").cast("long")).as("n_new"),
        sum((col("kind") === "retained").cast("long")).as("n_retained"),
        sum((col("kind") === "resurrected").cast("long")).as("n_resurrected"),
        sum((col("kind") === "churned").cast("long")).as("n_churned"))
  }

  private val growthAccountingSql =
    """WITH wk AS (
      |  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
      |  FROM events WHERE event_type = 'purchase'),
      |g AS (SELECT max(wk) AS gmax FROM wk),
      |sq AS (
      |  SELECT user_id, wk,
      |    lag(wk, 1) OVER (PARTITION BY user_id ORDER BY wk) AS prev,
      |    lead(wk, 1) OVER (PARTITION BY user_id ORDER BY wk) AS nxt
      |  FROM wk),
      |ev AS (
      |  SELECT wk, CASE WHEN prev IS NULL THEN 'new'
      |              WHEN wk - prev = 7 THEN 'retained'
      |              ELSE 'resurrected' END AS kind
      |  FROM sq
      |  UNION ALL
      |  SELECT prev + 7, 'churned' FROM sq
      |  WHERE prev IS NOT NULL AND wk - prev > 7
      |  UNION ALL
      |  SELECT wk + 7, 'churned' FROM sq, g
      |  WHERE nxt IS NULL AND g.gmax - wk >= 7)
      |SELECT strftime(wk, '%Y-%m-%d') AS week,
      |  CAST(count(*) FILTER (WHERE kind = 'new') AS BIGINT) AS n_new,
      |  CAST(count(*) FILTER (WHERE kind = 'retained') AS BIGINT) AS n_retained,
      |  CAST(count(*) FILTER (WHERE kind = 'resurrected') AS BIGINT)
      |    AS n_resurrected,
      |  CAST(count(*) FILTER (WHERE kind = 'churned') AS BIGINT) AS n_churned
      |FROM ev GROUP BY 1""".stripMargin

  /** #173 Spearman rank correlation between event time and value per
    * event type — "is spend drifting monotonically over time?", the
    * distribution-free companion to #135's OLS trend. Ranks come from
    * TWO runs of the distributed two-phase scan
    * (`PrefixSum.withGlobalRank`, never a single-reducer ORDER BY
    * window), both keyed with event_type LEADING, so each type's rows
    * are contiguous with IDENTICAL per-type offsets in both rankings —
    * the offsets cancel in d = rank_ts − rank_value and no per-group
    * offset bookkeeping exists at all. Timestamps rank on the stored
    * timestamp, which Spark holds at MICROSECOND precision under every
    * supported events encoding (the legacy ns loader truncates ns→µs),
    * so the oracle ranks on `epoch_us` — NOT `epoch_ns`, which under a
    * ns-encoded file would order sub-µs-distinct ties differently than
    * the µs-truncated Spark side and diverge Σd²; ties are
    * total via the event_id tie-break, making this the deterministic
    * distinct-rank Spearman variant (no tie-averaging; documented).
    * Σd² folds in DECIMAL(38,0); ρ is ppm fixed point via integral
    * division (Spark `div` and DuckDB `//` both truncate toward zero,
    * so negative ρ agrees). */
  private def spearman(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
      .select(col("event_id"), col("event_type"), col("ts"), col("value"))
    val ra = PrefixSum.withGlobalRank(
      ev.select(col("event_id"), col("event_type"), col("ts")),
      Seq("event_type", "ts", "event_id"), "ra")
    val rb = PrefixSum.withGlobalRank(
      ev.select(col("event_id"), col("event_type"), col("value")),
      Seq("event_type", "value", "event_id"), "rb")
    ra.join(rb.select(col("event_id"), col("rb")), Seq("event_id"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(ra - rb AS DECIMAL(38,0)) * (ra - rb)")).as("__s"))
      .select(col("event_type"), col("n"),
        col("__s").cast("long").as("sum_d2"),
        expr("""((CAST(n AS DECIMAL(38,0)) * (CAST(n AS DECIMAL(38,0)) * n - 1)
               |  - 6 * __s) * 1000000)
               | div (CAST(n AS DECIMAL(38,0)) * (CAST(n AS DECIMAL(38,0)) * n - 1))
               |""".stripMargin.replace("\n", " ")).cast("long").as("rho_ppm"))
  }

  private val spearmanSql =
    """WITH e AS (
      |  SELECT event_id, event_type, epoch_us(ts) AS tus, value FROM events),
      |ra AS (
      |  SELECT event_id, event_type,
      |    CAST(row_number() OVER (ORDER BY event_type, tus, event_id) AS BIGINT)
      |      AS ra
      |  FROM e),
      |rb AS (
      |  SELECT event_id,
      |    CAST(row_number() OVER (ORDER BY event_type, value, event_id) AS BIGINT)
      |      AS rb
      |  FROM e),
      |d AS (
      |  SELECT ra.event_type, CAST(ra.ra - rb.rb AS HUGEINT) AS d
      |  FROM ra JOIN rb USING (event_id)),
      |ag AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n, sum(d * d) AS s
      |  FROM d GROUP BY 1)
      |SELECT event_type, n, CAST(s AS BIGINT) AS sum_d2,
      |  CAST(((CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) * n - 1) - 6 * s)
      |        * 1000000)
      |       // (CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) * n - 1)) AS BIGINT)
      |    AS rho_ppm
      |FROM ag""".stripMargin

  /** #174 Mann–Whitney U test: weekend vs weekday event values per
    * event type — the rank-sum counterpart to #101's Welch t (robust to
    * the value distribution; the A/B readout when normality is off the
    * table). The combined per-type ranking reuses the two-phase scan
    * with event_type leading; HERE the per-type offsets do NOT cancel
    * (U needs the in-type rank sum), so offsets fold from the O(types)
    * per-type counts on the driver — the exclusive-prefix-sum-over-
    * groups pattern — and broadcast back. Ties are total via the
    * event_id tie-break (deterministic distinct-rank U variant, no
    * tie correction; documented); weekend is ISO dow ≥ 6 computed from
    * the epoch-microsecond integer by pure arithmetic (day index
    * mod 7; 1970-01-01 was a Thursday) — no engine calendar function
    * crosses the oracle boundary (the oracle's `epoch_ns // 86400e9`
    * yields the same day index). U and the rank sums are exact
    * integers; z is double only in the final sqrt/round. */
  private def mannWhitney(s: SparkSession, dir: String): DataFrame = {
    val ev = eventsMicros(s, dir)
      .select(col("event_id"), col("event_type"), col("value"),
        (expr(isoDowExpr("ts_us")) >= 6).as("wkend"))
    val ranked = PrefixSum.withGlobalRank(ev,
      Seq("event_type", "value", "event_id"), "r")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // per-type starting offsets: O(types) rows, exclusive prefix sum
    // in type order on the driver
    val counts = ranked.groupBy("event_type").agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    val offsets = counts.map(_._1)
      .zip(counts.map(_._2).scanLeft(0L)(_ + _)).toSeq
    import s.implicits._
    val offDf = offsets.toDF("event_type", "off")
    ranked.join(broadcast(offDf), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(sum(col("wkend").cast("long")).as("n1"),
        sum((!col("wkend")).cast("long")).as("n2"),
        sum(when(col("wkend"), col("r") - col("off"))).as("r1"))
      .select(col("event_type"), col("n1"), col("n2"),
        expr("r1 - (CAST(n1 AS DECIMAL(38,0)) * (n1 + 1)) div 2")
          .cast("long").as("u"),
        expr("""round((CAST(r1 - (CAST(n1 AS DECIMAL(38,0)) * (n1 + 1)) div 2
               |   AS DOUBLE)
               |  - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2.0)
               | / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
               |   * CAST(n1 + n2 + 1 AS DOUBLE) / 12.0), 6)
               |""".stripMargin.replace("\n", " ")).as("z"))
  }

  private val mannWhitneySql =
    """WITH e AS (
      |  SELECT event_id, event_type, value,
      |    ((epoch_ns(ts) // 86400000000000 + 3) % 7 + 1) >= 6 AS wkend
      |  FROM events),
      |r AS (
      |  SELECT event_type, wkend,
      |    CAST(row_number() OVER (PARTITION BY event_type
      |                            ORDER BY value, event_id) AS BIGINT) AS r
      |  FROM e),
      |ag AS (
      |  SELECT event_type,
      |    CAST(count(*) FILTER (WHERE wkend) AS BIGINT) AS n1,
      |    CAST(count(*) FILTER (WHERE NOT wkend) AS BIGINT) AS n2,
      |    CAST(sum(r) FILTER (WHERE wkend) AS HUGEINT) AS r1
      |  FROM r GROUP BY 1)
      |SELECT event_type, n1, n2,
      |  CAST(r1 - (CAST(n1 AS HUGEINT) * (n1 + 1)) // 2 AS BIGINT) AS u,
      |  round((CAST(r1 - (CAST(n1 AS HUGEINT) * (n1 + 1)) // 2 AS DOUBLE)
      |    - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2.0)
      |   / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
      |     * CAST(n1 + n2 + 1 AS DOUBLE) / 12.0), 6) AS z
      |FROM ag""".stripMargin

  /** #176 event throttling / rate-limit dedup — "at most one event per
    * user per 10-minute window, keep the earliest" (the debounce every
    * event-collection pipeline applies before fan-in). ONE partial-
    * aggregated groupBy on (user, window): the winner is
    * `min(struct(ts, event_id))` — an O(1) agg state, never a
    * row_number window over the raw stream — and the suppressed count
    * falls out of the same pass. Windows index by epoch-µs integer
    * division (ts ≥ 0, so truncation = floor on both engines); the
    * reported window start stays in ns units to match the oracle's
    * `epoch_ns // 6e11` form (µs and ns division agree on the index). */
  private def throttle(s: SparkSession, dir: String): DataFrame = {
    eventsMicros(s, dir)
      .select(col("user_id"), col("event_id"), col("ts_us"))
      .withColumn("win", expr("ts_us div 600000000"))
      .groupBy("user_id", "win")
      .agg(min(struct(col("ts_us"), col("event_id"))).as("first"),
        count(lit(1)).as("n"))
      .select(col("user_id"), (col("win") * 600000000000L).as("win_ns"),
        col("first.event_id").as("kept_event_id"),
        (col("n") - 1).as("n_suppressed"))
  }

  private val throttleSql =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_ns(ts) AS tns FROM events),
      |w AS (
      |  SELECT user_id, tns // 600000000000 AS win, event_id,
      |    row_number() OVER (PARTITION BY user_id, tns // 600000000000
      |                       ORDER BY tns, event_id) AS rn,
      |    count(*) OVER (PARTITION BY user_id, tns // 600000000000) AS n
      |  FROM e)
      |SELECT user_id, CAST(win * 600000000000 AS BIGINT) AS win_ns,
      |  event_id AS kept_event_id, CAST(n - 1 AS BIGINT) AS n_suppressed
      |FROM w WHERE rn = 1""".stripMargin

  /** #179 revenue drawdown — running peak and peak-to-current gap on
    * the daily revenue series (the monitoring primitive behind "how
    * far below the best day are we"). The fact collapses to O(days)
    * FIRST via one map-side-combinable aggregate; the unpartitioned
    * running-max window then runs over a calendar-bounded frame
    * (~2.4k rows however big the fact is) — bounded by TIME, not
    * data, the q_mom_growth scale argument. Exact cents throughout. */
  private def drawdown(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "orders")
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
        .as("rev_cents"))
    d.withColumn("peak_cents",
        max(col("rev_cents")).over(Window.orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("day"), col("rev_cents"), col("peak_cents"),
        (col("peak_cents") - col("rev_cents")).as("dd_cents"))
  }

  private val drawdownSql =
    """WITH d AS (
      |  SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
      |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
      |         AS BIGINT) AS rev_cents
      |  FROM orders GROUP BY 1)
      |SELECT day, rev_cents,
      |  max(rev_cents) OVER (ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak_cents,
      |  max(rev_cents) OVER (ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - rev_cents
      |    AS dd_cents
      |FROM d""".stripMargin

  /** #181 event streaks (gaps-and-islands) — maximal runs of the same
    * event_type per user in time order, the classic sessionless
    * behavioral run-length cut ("how long do users stay in one
    * activity?"). Both windows are PARTITIONED BY user (per-user data
    * is bounded however large the corpus — never an unpartitioned
    * ORDER BY); runs collapse to one row each before the final
    * O(types) aggregate. Ordering ties are total via event_id. */
  private def streaks(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("brk",
        when(lag(col("event_type"), 1).over(w) === col("event_type"), lit(0L))
          .otherwise(lit(1L)))
      .withColumn("run_id", sum(col("brk"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "run_id", "event_type")
      .agg(count(lit(1)).as("len"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_streaks"), max(col("len")).as("max_len"),
        sum(col("len")).as("n_events"))
  }

  private val streaksSql =
    """WITH o AS (
      |  SELECT user_id, event_type, ts, event_id,
      |    CASE WHEN lag(event_type) OVER (PARTITION BY user_id
      |                                    ORDER BY ts, event_id) = event_type
      |         THEN 0 ELSE 1 END AS brk
      |  FROM events),
      |r AS (
      |  SELECT user_id, event_type,
      |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                   ROWS UNBOUNDED PRECEDING) AS run_id
      |  FROM o),
      |g AS (
      |  SELECT user_id, run_id, event_type, CAST(count(*) AS BIGINT) AS len
      |  FROM r GROUP BY 1, 2, 3)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n_streaks,
      |  CAST(max(len) AS BIGINT) AS max_len,
      |  CAST(sum(len) AS BIGINT) AS n_events
      |FROM g GROUP BY 1""".stripMargin

  /** #182 2-D histogram (day-of-week × value band) — the heatmap
    * binning behind every "when and how big" dashboard. Both bin
    * indexes are MAP-SIDE integer arithmetic (dow by pure epoch-day
    * math off the µs integer — no engine calendar function crosses
    * the oracle boundary; band by floor-div of the double, floored
    * BEFORE the cast, both engines truncating identically), so the
    * whole query is one partial-aggregated groupBy shuffling ≤ 70
    * bounded cells. Revenue folds as exact cents. */
  private def hist2d(s: SparkSession, dir: String): DataFrame = {
    eventsMicros(s, dir)
      .select(
        expr(isoDowExpr("ts_us")).cast("int").as("dow"),
        least(greatest(floor(col("value") / 50.0), lit(0.0)), lit(9.0))
          .cast("int").as("band"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("__c"))
      .groupBy("dow", "band")
      .agg(count(lit(1)).as("n_events"), sum("__c").as("cents"))
  }

  private val hist2dSql =
    """SELECT CAST((epoch_us(ts) // 86400000000 + 3) % 7 + 1 AS INT) AS dow,
      |  CAST(least(greatest(floor(value / 50.0), 0.0), 9.0) AS INT) AS band,
      |  CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
      |    AS cents
      |FROM events GROUP BY 1, 2""".stripMargin

  /** #185 KMV (k-minimum-values) distinct sketch — the mergeable
    * distinct-count estimator that complements q_approx_distinct's
    * HLL: keep the k smallest values of a uniform hash; estimate
    * (k−1)·M/h(k). The hash is MULTIPLICATIVE mod the fingerprint
    * prime — `(id · A) mod M` with a full-range odd multiplier — NOT
    * the polynomial string fold: short digit strings fold to tiny
    * clustered values (no avalanche), which wrecks the order
    * statistic the estimator reads (measured: est off by 10^9× at
    * sf0.1). Values dedup in a partial-aggregated groupBy; the
    * k-smallest cut plans as TakeOrderedAndProject — per-partition
    * top-k, k-row driver merge, no global sort however large the
    * corpus. The estimate and error stay in DECIMAL(38,0) until the
    * final bounded cast (a degenerate h(k) would overflow BIGINT
    * intermediates under ANSI). */
  private def kmvDistinct(s: SparkSession, dir: String): DataFrame = {
    val k = 256
    val m = TextAnalysis.FingerprintMod // largest prime < 2^55
    val hashes = events(s, dir)
      .select(expr(multHashExpr("user_id")).as("h"))
      .distinct()
    val sketch = hashes.orderBy("h").limit(k)
      .agg(count(lit(1)).as("k_used"), max(col("h")).as("kth_hash"))
    val exact = hashes.agg(count(lit(1)).as("exact_distinct"))
    sketch.crossJoin(broadcast(exact))
      .select(col("k_used"), col("kth_hash"), col("exact_distinct"),
        when(col("k_used") < k, col("k_used"))
          .otherwise(expr(s"((k_used - 1) * CAST($m AS DECIMAL(38,0))) div kth_hash")
            .cast("long")).as("est_distinct"))
      .withColumn("err_ppm", expr(
        """CAST(least((abs(CAST(est_distinct AS DECIMAL(38,0)) - exact_distinct)
          |  * 1000000) div exact_distinct,
          |  CAST(1000000000000 AS DECIMAL(38,0))) AS BIGINT)"""
          .stripMargin.replace("\n", " ")))
  }

  private val kmvDistinctSql =
    s"""WITH h AS (
       |  SELECT DISTINCT ${multHashDuck("user_id")} AS h
       |  FROM events),
       |sk AS (
       |  SELECT CAST(count(*) AS BIGINT) AS k_used,
       |    CAST(max(h) AS BIGINT) AS kth_hash
       |  FROM (SELECT h FROM h ORDER BY h LIMIT 256)),
       |ex AS (SELECT CAST(count(*) AS BIGINT) AS exact_distinct FROM h),
       |est AS (
       |  SELECT k_used, kth_hash, exact_distinct,
       |    CASE WHEN k_used < 256 THEN k_used
       |         ELSE CAST(((k_used - 1) *
       |           CAST(${TextAnalysis.FingerprintMod} AS HUGEINT)) // kth_hash
       |           AS BIGINT) END AS est_distinct
       |  FROM sk, ex)
       |SELECT k_used, kth_hash, exact_distinct, est_distinct,
       |  CAST(least((abs(CAST(est_distinct AS HUGEINT) - exact_distinct)
       |       * 1000000) // exact_distinct, 1000000000000) AS BIGINT) AS err_ppm
       |FROM est""".stripMargin

  /** #186 behavioral entropy — per-user Shannon entropy of the
    * event-type distribution, the activity-diversity score behind
    * engagement segmentation (H = 0: single-minded; ln 5: uniform over
    * the 5 types). Two partial-aggregated groupBys — per-(user,type)
    * counts then an O(types)-wide fold per user. The cross-row sum
    * runs in FIXED POINT (Σ c·⌊ln(c)·1e6⌋ as exact longs — the
    * q_token_entropy rule: a double Σ c·ln c is non-associative and
    * nondeterministic under shuffle); only the final per-user formula
    * H = ln n − Σ/(n·1e6) touches doubles, then rounds to 6dp. */
  private def sessionEntropy(s: SparkSession, dir: String): DataFrame = {
    events(s, dir)
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("c"))
      .groupBy("user_id")
      .agg(sum("c").as("n_events"), count(lit(1)).as("n_types"),
        sum(col("c") * floor(log(col("c")) * 1e6).cast("long")).as("__s"))
      .select(col("user_id"), col("n_events"), col("n_types"),
        round(log(col("n_events").cast("double"))
          - col("__s") / (lit(1e6) * col("n_events").cast("double")), 6)
          .as("entropy"))
  }

  private val sessionEntropySql =
    s"""WITH c AS (
      |  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2)
      |SELECT user_id, CAST(sum(c) AS BIGINT) AS n_events,
      |  CAST(count(*) AS BIGINT) AS n_types,
      |  round(ln(CAST(sum(c) AS DOUBLE))
      |    - sum(c * ${lnQ("CAST(c AS DOUBLE)")})
      |      / (1e6 * CAST(sum(c) AS DOUBLE)), 6) AS entropy
      |FROM c GROUP BY 1""".stripMargin

  /** #189 peak detection — strict local maxima in the daily revenue
    * series per event type, the alerting primitive behind "what
    * spiked?". The fact collapses to O(types × days) FIRST (one
    * partial-aggregated groupBy); the lag/lead windows run over that
    * calendar-bounded frame — bounded by TIME, not data (the
    * q_drawdown argument). Endpoints count as peaks against a −1
    * sentinel (revenue is non-negative); exact cents throughout; days
    * as ISO strings (house convention). */
  private def peakDetect(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("day")
    events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum((col("value").cast("decimal(18,2)") * 100).cast("long"))
        .as("cents"))
      .withColumn("prev_cents", coalesce(lag("cents", 1).over(w), lit(-1L)))
      .withColumn("next_cents", coalesce(lead("cents", 1).over(w), lit(-1L)))
      .filter(col("cents") > col("prev_cents") &&
        col("cents") > col("next_cents"))
      .select(col("event_type"), date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("cents"), col("prev_cents"), col("next_cents"))
  }

  private val peakDetectSql =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |    CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
      |      AS BIGINT) AS cents
      |  FROM events GROUP BY 1, 2),
      |x AS (
      |  SELECT event_type, day, cents,
      |    coalesce(lag(cents) OVER (PARTITION BY event_type ORDER BY day), -1)
      |      AS prev_cents,
      |    coalesce(lead(cents) OVER (PARTITION BY event_type ORDER BY day), -1)
      |      AS next_cents
      |  FROM daily)
      |SELECT event_type, strftime(day, '%Y-%m-%d') AS day, cents,
      |  CAST(prev_cents AS BIGINT) AS prev_cents,
      |  CAST(next_cents AS BIGINT) AS next_cents
      |FROM x WHERE cents > prev_cents AND cents > next_cents""".stripMargin

  /** #197 churn hazard — per-week discrete hazard rate: of the users
    * active in week w, how many were never seen again (their LAST
    * active week is w)? The survival-analysis refinement of
    * q_retention's cohort matrix. Everything collapses to the
    * O(users × weeks) distinct-activity frame first; last-weeks are
    * one more aggregate; the final join is O(weeks). The current week
    * is CENSORED, not churned — flagged, never dropped (exact cents of
    * honesty the naive query misses). ISO-string weeks. */
  private def churnHazard(s: SparkSession, dir: String): DataFrame = {
    val uw = events(s, dir)
      .select(col("user_id"),
        to_date(date_trunc("week", col("ts"))).as("wk"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val active = uw.groupBy("wk").agg(count(lit(1)).as("n_active"))
    val last = uw.groupBy("user_id").agg(max("wk").as("wk"))
      .groupBy("wk").agg(count(lit(1)).as("n_last"))
    val gmax = uw.agg(max("wk").as("__gmax"))
    active.join(last, Seq("wk"), "left")
      .crossJoin(broadcast(gmax))
      .select(date_format(col("wk"), "yyyy-MM-dd").as("week"),
        col("n_active"),
        coalesce(col("n_last"), lit(0L)).as("n_churned"),
        expr("(coalesce(n_last, 0) * 1000000) div n_active")
          .as("hazard_ppm"),
        (col("wk") === col("__gmax")).as("censored"))
  }

  private val churnHazardSql =
    """WITH uw AS (
      |  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
      |  FROM events),
      |a AS (SELECT wk, CAST(count(*) AS BIGINT) AS n_active
      |      FROM uw GROUP BY 1),
      |l AS (SELECT wk, CAST(count(*) AS BIGINT) AS n_last FROM (
      |        SELECT user_id, max(wk) AS wk FROM uw GROUP BY 1) GROUP BY 1),
      |g AS (SELECT max(wk) AS gmax FROM uw)
      |SELECT strftime(a.wk, '%Y-%m-%d') AS week, a.n_active,
      |  coalesce(l.n_last, 0) AS n_churned,
      |  CAST((coalesce(l.n_last, 0) * 1000000) // a.n_active AS BIGINT)
      |    AS hazard_ppm,
      |  a.wk = g.gmax AS censored
      |FROM a LEFT JOIN l ON a.wk = l.wk, g""".stripMargin

  /** #199 systematic event downsampling — keep every 4th event per
    * user in time order (the deterministic stream thinning applied
    * before expensive enrichment; systematic > random here because
    * replays and A/B halves must agree). The rank window is
    * PARTITIONED by user (bounded per-user frames); the verdict
    * aggregates to an O(types) summary so the gate checks global AND
    * per-type rates. Ties total via event_id. */
  private def eventDownsample(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("__r", row_number().over(w))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_total"),
        sum(when(pmod(col("__r"), lit(4)) === 1, 1L).otherwise(0L))
          .as("n_kept"))
      .withColumn("keep_ppm", expr("(n_kept * 1000000) div n_total"))
  }

  private val eventDownsampleSql =
    """WITH r AS (
      |  SELECT event_type,
      |    row_number() OVER (PARTITION BY user_id
      |                       ORDER BY ts, event_id) AS rn
      |  FROM events)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n_total,
      |  CAST(sum(CASE WHEN rn % 4 = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_kept,
      |  CAST(sum(CASE WHEN rn % 4 = 1 THEN 1 ELSE 0 END) * 1000000
      |       // count(*) AS BIGINT) AS keep_ppm
      |FROM r GROUP BY 1""".stripMargin

  /** #202 Hill tail-index estimator — the heavy-tail exponent of the
    * purchase-value distribution over the top-k order statistics
    * (α̂ = k / Σ ln(x_i/x_{k+1})), the parametric companion to
    * q_zipf_fit's rank-frequency slope. The only corpus-scale work is
    * the top-(k+1) cut — TakeOrderedAndProject, per-partition top-k,
    * k-row driver merge; everything after runs on k+1 rows with the
    * threshold as a 1-row broadcast. Logs are quantized ⌊ln·1e9⌋
    * per row (the q_bigram_lm parity rule) and fold as exact longs. */
  private def hillTail(s: SparkSession, dir: String): DataFrame = {
    val k = 100
    val top = events(s, dir)
      .select((col("value").cast("decimal(18,2)") * 100).cast("long").as("c"),
        col("event_id"))
      .filter(col("c") > 0)
      .orderBy(col("c").desc, col("event_id")).limit(k + 1)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val thresh = top.agg(min("c").as("__ck"))
    top.crossJoin(broadcast(thresh))
      // strictly above the threshold: value ties with x_(k+1) drop out
      // on both engines, so k_used can be < k under heavy ties
      .filter(col("c") > col("__ck"))
      .select(
        (floor(log(col("c").cast("double")) * 1e9).cast("long")
          - floor(log(col("__ck").cast("double")) * 1e9).cast("long")).as("lq"),
        col("__ck"))
      .groupBy("__ck")
      .agg(count(lit(1)).as("k_used"), sum("lq").as("__s"))
      .select(col("k_used"), col("__ck").as("xk_cents"),
        expr("CAST((k_used * CAST(1000000000000000 AS DECIMAL(38,0))) div __s AS BIGINT)")
          .as("alpha_ppm"))
  }

  private val hillTailSql =
    s"""WITH t AS (
      |  SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
      |    event_id
      |  FROM events WHERE CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) > 0
      |  ORDER BY c DESC, event_id LIMIT 101),
      |th AS (SELECT CAST(min(c) AS BIGINT) AS ck FROM t),
      |q AS (
      |  SELECT ${lnQ("CAST(c AS DOUBLE)", 1000000000L)}
      |       - ${lnQ("CAST(th.ck AS DOUBLE)", 1000000000L)} AS lq,
      |    th.ck
      |  FROM t, th WHERE t.c > th.ck)
      |SELECT CAST(count(*) AS BIGINT) AS k_used, ck AS xk_cents,
      |  CAST((count(*) * CAST(1000000000000000 AS HUGEINT)) // sum(lq)
      |    AS BIGINT) AS alpha_ppm
      |FROM q GROUP BY ck""".stripMargin

  /** #203 mutual information — MI(event_type; day-of-week) in nats,
    * ppb fixed point: the dependence screen that pairs with
    * q_session_entropy (marginal diversity) and q_chisq_test (the
    * null-hypothesis side of the same table). The contingency table
    * is ONE partial-aggregated groupBy bounded by |types|×7; the
    * per-cell log-ratio quantizes ⌊ln·1e9⌋ (engine ln parity, the
    * q_bigram_lm rule) and the weighted sum folds in DECIMAL(38,0) —
    * exact at any corpus size. */
  private def mutualInfo(s: SparkSession, dir: String): DataFrame = {
    val cells = eventsMicros(s, dir)
      .select(col("event_type"),
        expr(isoDowExpr("ts_us")).cast("int").as("dow"))
      .groupBy("event_type", "dow").agg(count(lit(1)).as("nij"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ri = cells.groupBy("event_type").agg(sum("nij").as("ni"))
    val cj = cells.groupBy("dow").agg(sum("nij").as("nj"))
    val tot = cells.agg(sum("nij").as("__N"))
    cells.join(broadcast(ri), Seq("event_type"))
      .join(broadcast(cj), Seq("dow"))
      .crossJoin(broadcast(tot))
      .select(col("nij"), col("__N"),
        floor(log(col("nij").cast("double") * col("__N").cast("double")
          / (col("ni").cast("double") * col("nj").cast("double"))) * 1e9)
          .cast("long").as("t"))
      .agg(max("__N").as("n_events"),
        expr("CAST(sum(CAST(nij AS DECIMAL(38,0)) * t) div max(__N) AS BIGINT)")
          .as("mi_ppb"))
  }

  private val mutualInfoSql =
    s"""WITH c AS (
      |  SELECT event_type,
      |    CAST((epoch_us(ts) // 86400000000 + 3) % 7 + 1 AS INT) AS dow,
      |    CAST(count(*) AS BIGINT) AS nij
      |  FROM events GROUP BY 1, 2),
      |ri AS (SELECT event_type, CAST(sum(nij) AS BIGINT) AS ni FROM c GROUP BY 1),
      |cj AS (SELECT dow, CAST(sum(nij) AS BIGINT) AS nj FROM c GROUP BY 1),
      |t AS (SELECT CAST(sum(nij) AS BIGINT) AS N FROM c),
      |q AS (
      |  SELECT c.nij, t.N,
      |    ${lnQ("CAST(c.nij AS DOUBLE) * CAST(t.N AS DOUBLE)" +
              " / (CAST(ri.ni AS DOUBLE) * CAST(cj.nj AS DOUBLE))", 1000000000L)} AS lt
      |  FROM c JOIN ri USING (event_type) JOIN cj USING (dow), t)
      |SELECT max(N) AS n_events,
      |  CAST(sum(CAST(nij AS HUGEINT) * lt) // max(N) AS BIGINT) AS mi_ppb
      |FROM q""".stripMargin

  /** #204 A/B assignment + sample-ratio-mismatch gate — deterministic
    * 50/50 user bucketing (the KMV multiplicative hash, then parity)
    * plus the χ²(1) SRM check every experiment platform runs before
    * trusting a readout. Users dedup in one partial-aggregated pass;
    * the arm split is map-side; the SRM statistic
    * ((n₀−n₁)²/(n₀+n₁)) and its 3.8415 critical value compare in ppm
    * fixed point — exact integers end to end. */
  private def abSrm(s: SparkSession, dir: String): DataFrame = {
    events(s, dir).select(col("user_id")).distinct()
      .select(expr(s"pmod(${multHashExpr("user_id")}, 2)").as("arm"))
      .groupBy("arm").agg(count(lit(1)).as("n"))
      .agg(sum("n").as("n_users"),
        max(when(col("arm") === 0, col("n"))).as("n_arm0"),
        max(when(col("arm") === 1, col("n"))).as("n_arm1"))
      .withColumn("srm_stat_ppm", expr(
        "((n_arm0 - n_arm1) * (n_arm0 - n_arm1) * 1000000) div (n_arm0 + n_arm1)"))
      .withColumn("srm_flag", col("srm_stat_ppm") > 3841459L)
  }

  private val abSrmSql =
    s"""WITH u AS (SELECT DISTINCT user_id FROM events),
       |a AS (
       |  SELECT ${multHashDuck("user_id")} % 2 AS arm
       |  FROM u),
       |g AS (SELECT arm, CAST(count(*) AS BIGINT) AS n FROM a GROUP BY 1),
       |w AS (
       |  SELECT CAST(sum(n) AS BIGINT) AS n_users,
       |    CAST(max(CASE WHEN arm = 0 THEN n END) AS BIGINT) AS n_arm0,
       |    CAST(max(CASE WHEN arm = 1 THEN n END) AS BIGINT) AS n_arm1
       |  FROM g)
       |SELECT n_users, n_arm0, n_arm1,
       |  CAST(((n_arm0 - n_arm1) * (n_arm0 - n_arm1) * 1000000)
       |       // (n_arm0 + n_arm1) AS BIGINT) AS srm_stat_ppm,
       |  ((n_arm0 - n_arm1) * (n_arm0 - n_arm1) * 1000000)
       |    // (n_arm0 + n_arm1) > 3841459 AS srm_flag
       |FROM w""".stripMargin

  /** #209 heavy-change detection — the top-10 users whose activity
    * shifted most between the two halves of the timeline (the "what
    * changed since last period?" monitoring primitive, pairing with
    * q_drift_psi's distribution-level view): the split point is the
    * timeline midpoint (1-row broadcast, exact integer µs), per-user
    * half-counts fold in ONE partial-aggregated groupBy, and the top-10
    * cut by |Δ| plans as TakeOrderedAndProject (per-partition top-k,
    * 10-row driver merge — no global sort). Ties total via user_id. */
  private def heavyChange(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("__t"))
    val mid = ev.agg(expr("(min(__t) + max(__t)) div 2").as("__mid"))
    ev.crossJoin(broadcast(mid))
      .groupBy("user_id")
      .agg(sum(when(col("__t") < col("__mid"), 1L).otherwise(0L)).as("n_first"),
        sum(when(col("__t") >= col("__mid"), 1L).otherwise(0L)).as("n_second"))
      .withColumn("abs_change", abs(col("n_second") - col("n_first")))
      .orderBy(desc("abs_change"), asc("user_id"))
      .limit(10)
  }

  private val heavyChangeSql =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS t FROM events),
      |m AS (SELECT (min(t) + max(t)) // 2 AS mid FROM e),
      |c AS (
      |  SELECT user_id,
      |    CAST(sum(CASE WHEN t < mid THEN 1 ELSE 0 END) AS BIGINT) AS n_first,
      |    CAST(sum(CASE WHEN t >= mid THEN 1 ELSE 0 END) AS BIGINT) AS n_second
      |  FROM e, m GROUP BY 1)
      |SELECT user_id, n_first, n_second,
      |  abs(n_second - n_first) AS abs_change
      |FROM c
      |ORDER BY abs_change DESC, user_id
      |LIMIT 10""".stripMargin

  /** #220 Markov next-event backtest — temporal-split evaluation of the
    * transition matrix (#117 made predictive): train the per-type
    * argmax next-event predictor on transitions COMPLETING before the
    * timeline midpoint, score top-1 accuracy on transitions STARTING
    * after it (straddlers in neither — leak-free by construction).
    * Transitions ride a per-user window (bounded frames); the model is
    * an O(types²) aggregate broadcast back; accuracy is exact integer
    * ppm. The argmax state is O(1) via min(struct(−count, type)) with
    * the lexicographic tie-break the oracle replays. */
  private def markovBacktest(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).select(col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("__t"), col("event_id"))
    val w = Window.partitionBy("user_id").orderBy(col("__t"), col("event_id"))
    val tr = ev.withColumn("__nt", lead(col("event_type"), 1).over(w))
      .withColumn("__ntt", lead(col("__t"), 1).over(w))
      .filter(col("__nt").isNotNull)
    val mid = ev.agg(expr("(min(__t) + max(__t)) div 2").as("__mid"))
    val tagged = tr.crossJoin(broadcast(mid))
    val pred = tagged.filter(col("__ntt") < col("__mid"))
      .groupBy(col("event_type").as("a"), col("__nt").as("b"))
      .agg(count(lit(1)).as("c"))
      .groupBy("a")
      .agg(min(struct((-col("c")).as("nc"), col("b").as("b"))).as("w"))
      .select(col("a"), col("w.b").as("__pred"))
    tagged.filter(col("__t") >= col("__mid"))
      .join(broadcast(pred), col("event_type") === col("a"), "left")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("__nt") === col("__pred"), 1L).otherwise(0L)).as("n_correct"))
      .withColumn("acc_ppm", expr("(n_correct * 1000000) div n_test"))
  }

  private val markovBacktestSql =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS t, event_id FROM events),
      |m AS (SELECT (min(t) + max(t)) // 2 AS mid FROM e),
      |tr AS (
      |  SELECT event_type AS a, t,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY t, event_id) AS nt,
      |    lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS ntt
      |  FROM e),
      |tr2 AS (SELECT * FROM tr WHERE nt IS NOT NULL),
      |model AS (
      |  SELECT a, nt AS b, count(*) AS c
      |  FROM tr2, m WHERE ntt < mid GROUP BY 1, 2),
      |pred AS (
      |  SELECT a, b AS pred FROM (
      |    SELECT a, b, row_number() OVER (PARTITION BY a
      |                                    ORDER BY c DESC, b) AS rn
      |    FROM model) WHERE rn = 1)
      |SELECT t.a AS event_type, CAST(count(*) AS BIGINT) AS n_test,
      |  CAST(sum(CASE WHEN t.nt = p.pred THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_correct,
      |  CAST((sum(CASE WHEN t.nt = p.pred THEN 1 ELSE 0 END) * 1000000)
      |    // count(*) AS BIGINT) AS acc_ppm
      |FROM tr2 t CROSS JOIN m LEFT JOIN pred p ON p.a = t.a
      |WHERE t.t >= m.mid
      |GROUP BY 1""".stripMargin

  /** #221 seasonal-naive forecast backtest — the "is there a weekly
    * cycle worth modeling?" check run before any forecasting work:
    * score the naive (yesterday) and seasonal-naive (same day last
    * week) predictors against the realized daily revenue, MAE in
    * exact cents. The fact collapses to the O(days) daily series
    * FIRST; the lag joins are self-equi-joins on the day key over that
    * bounded frame; only days with a defined lag score (both engines
    * agree). */
  private def seasonalNaiveBacktest(s: SparkSession, dir: String): DataFrame = {
    // o_orderdate is TIMESTAMP_NTZ in the driver parquet — cast through
    // TIMESTAMP (session TZ pinned UTC) before the µs extraction
    val ser = t(s, dir, "orders")
      .groupBy(expr(
        "unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000").as("__d"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
        .as("__c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def score(lag: Int, name: String): DataFrame = ser.as("a")
      .join(ser.select((col("__d") + lag).as("__d"), col("__c").as("__p")), Seq("__d"))
      .agg(count(lit(1)).as("n_days"),
        expr("sum(abs(__c - __p)) div count(1)").cast("long").as("mae_cents"))
      .select(lit(name).as("model"), col("n_days"), col("mae_cents"))
    score(1, "naive").unionAll(score(7, "seasonal_naive"))
  }

  private val seasonalNaiveBacktestSql =
    """WITH s AS (
      |  SELECT epoch_us(o_orderdate) // 86400000000 AS d,
      |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
      |      AS BIGINT) AS c
      |  FROM orders GROUP BY 1),
      |n1 AS (
      |  SELECT 'naive' AS model, CAST(count(*) AS BIGINT) AS n_days,
      |    CAST(sum(abs(a.c - b.c)) // count(*) AS BIGINT) AS mae_cents
      |  FROM s a JOIN s b ON b.d = a.d - 1),
      |n7 AS (
      |  SELECT 'seasonal_naive' AS model, CAST(count(*) AS BIGINT) AS n_days,
      |    CAST(sum(abs(a.c - b.c)) // count(*) AS BIGINT) AS mae_cents
      |  FROM s a JOIN s b ON b.d = a.d - 7)
      |SELECT * FROM n1 UNION ALL SELECT * FROM n7""".stripMargin

  /** #222 calendar coverage gaps — per event type, the days inside the
    * global observation window with ZERO events (the freshness/
    * completeness monitor pairing with q_gap_fill, which interpolates,
    * and q_completeness, which audits columns): the calendar explodes
    * from a 1-row broadcast bound (O(days), bounded by TIME not data),
    * the distinct (type, day) activity set folds in one partial
    * aggregate, and the left-join gap count is O(types × days). Day
    * keys are pure integer epoch-day arithmetic — no date types cross
    * the oracle. */
  private def coverageGap(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
      .select(col("event_type"), expr("unix_micros(ts) div 86400000000").as("__d"))
    val active0 = ev.distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cal = ev.agg(min("__d").as("__lo"), max("__d").as("__hi"))
    // PLANTED sparse type (active every 7th epoch-day of the real
    // window): natural types are gap-free at every SF, so n_gaps never
    // fired (r10 vacuity audit — the q_completeness probe)
    val probeActive = cal
      .select(lit("__probe").as("event_type"),
        explode(sequence(col("__lo"), col("__hi"))).as("__d"))
      .filter(col("__d") % 7 === 0)
    val active = active0.unionAll(probeActive)
    val types = active.select("event_type").distinct()
    types.crossJoin(broadcast(cal))
      .select(col("event_type"), explode(sequence(col("__lo"), col("__hi"))).as("__d"))
      .join(active.withColumn("__hit", lit(1L)), Seq("event_type", "__d"), "left")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_active"))
      .select(col("event_type"), col("n_days"), col("n_active"),
        (col("n_days") - col("n_active")).as("n_gaps"),
        expr("((n_days - n_active) * 1000000) div n_days").as("gap_ppm"))
  }

  private val coverageGapSql =
    """WITH e0 AS (
      |  SELECT DISTINCT event_type, epoch_us(ts) // 86400000000 AS d
      |  FROM events),
      |cal AS (SELECT min(d) AS lo, max(d) AS hi FROM e0),
      |e AS (
      |  SELECT event_type, d FROM e0
      |  UNION ALL
      |  SELECT '__probe', CAST(g.d AS BIGINT)
      |  FROM (SELECT unnest(range((SELECT lo FROM cal),
      |                            (SELECT hi FROM cal) + 1)) AS d) g
      |  WHERE g.d % 7 = 0),
      |grid AS (
      |  SELECT t.event_type, CAST(g.d AS BIGINT) AS d
      |  FROM (SELECT DISTINCT event_type FROM e) t
      |  CROSS JOIN (SELECT unnest(range((SELECT lo FROM cal),
      |                                  (SELECT hi FROM cal) + 1)) AS d) g)
      |SELECT g.event_type, CAST(count(*) AS BIGINT) AS n_days,
      |  CAST(sum(CASE WHEN e.d IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_active,
      |  CAST(count(*) - sum(CASE WHEN e.d IS NOT NULL THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_gaps,
      |  CAST(((count(*) - sum(CASE WHEN e.d IS NOT NULL THEN 1 ELSE 0 END))
      |    * 1000000) // count(*) AS BIGINT) AS gap_ppm
      |FROM grid g LEFT JOIN e ON e.event_type = g.event_type AND e.d = g.d
      |GROUP BY 1""".stripMargin

  /** ⌊ln(1e6)·1e6⌋ — the fixed-point log of the ppm scale, shared by the
    * quantized log-ratio ops below (#226 survival, #229 DP noise). The
    * ⌊ln(int)·1e6⌋ fold itself is the property-tested portable pattern
    * (PortableArithmeticPropertySpec). */
  private val LnMillionQ6 = 13815510L

  /** #226 Kaplan–Meier survival by tenure — the survival curve over
    * user lifetimes (DAYS from first to last active day — the events
    * window spans weeks, so day granularity keeps the tenure axis
    * populated) with the censoring convention of #197 q_churn_hazard:
    * users last seen on the corpus max day are censored, not churned.
    * Lifetimes are measured on the sparse PURCHASE stream (the dense
    * click/view streams span the whole window for every user, which
    * degenerates the tenure axis).
    * At-risk counts come from a DESCENDING cumulative sum over the
    * O(days) tenure axis (calendar-bounded frame); the survival
    * product Π(1−d/n) is carried in FIXED-POINT LOG space — the
    * per-tenure factor `r = ((n−d)·1e6) div n` is an exact integer
    * ppm, its quantized log `⌊ln r·1e6⌋ − ⌊ln 1e6·1e6⌋` an exact
    * integer, and the curve the running integer sum
    * (surv ≈ exp(surv_lnq6/1e6)) — no cross-engine product/pow ever
    * happens in floating point. */
  private def kaplanMeier(s: SparkSession, dir: String): DataFrame = {
    val ud = events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), to_date(col("ts")).as("d"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val life = ud.groupBy("user_id").agg(min("d").as("__d0"), max("d").as("__d1"))
    val gmax = ud.agg(max("d").as("__gmax"))
    val ten = life.crossJoin(broadcast(gmax))
      .select(expr("CAST(datediff(__d1, __d0) AS INT)").as("tenure_d"),
        (col("__d1") < col("__gmax")).cast("long").as("__churn"))
      .groupBy("tenure_d")
      .agg(count(lit(1)).as("__n_end"), sum("__churn").as("n_churn"))
    val wDesc = Window.orderBy(desc("tenure_d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAsc = Window.orderBy("tenure_d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ten.withColumn("n_risk", sum("__n_end").over(wDesc))
      .withColumn("__r_ppm",
        expr("greatest(((n_risk - n_churn) * 1000000) div n_risk, 1)"))
      .withColumn("__term",
        expr(s"${lnQ("__r_ppm")} - $LnMillionQ6"))
      .withColumn("surv_lnq6", sum("__term").over(wAsc))
      .select(col("tenure_d"), col("n_risk"), col("n_churn"),
        (col("__n_end") - col("n_churn")).as("n_censored"), col("surv_lnq6"))
  }

  private val kaplanMeierSql =
    s"""WITH ud AS (
       |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
       |  FROM events WHERE event_type = 'purchase'),
       |life AS (SELECT user_id, min(d) AS d0, max(d) AS d1 FROM ud GROUP BY 1),
       |g AS (SELECT max(d) AS gmax FROM ud),
       |ten AS (
       |  SELECT CAST(date_diff('day', d0, d1) AS INT) AS tenure_d,
       |    CAST(count(*) AS BIGINT) AS n_end,
       |    CAST(sum(CAST(d1 < g.gmax AS BIGINT)) AS BIGINT) AS n_churn
       |  FROM life, g GROUP BY 1),
       |risk AS (
       |  SELECT tenure_d, n_end, n_churn,
       |    CAST(sum(n_end) OVER (ORDER BY tenure_d DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS n_risk
       |  FROM ten),
       |term AS (
       |  SELECT tenure_d, n_risk, n_churn, n_end - n_churn AS n_censored,
       |    ${lnQ("greatest(((n_risk - n_churn) * 1000000) // n_risk, 1)")}
       |      - $LnMillionQ6 AS term
       |  FROM risk)
       |SELECT tenure_d, n_risk, n_churn, n_censored,
       |  CAST(sum(term) OVER (ORDER BY tenure_d
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS surv_lnq6
       |FROM term""".stripMargin

  /** #229 differentially-private count release — per (event type, day),
    * the true count plus ε=1 Laplace noise drawn by DETERMINISTIC
    * inverse-CDF: u comes from the multiplicative hash of the group key
    * (type fingerprint folded with the epoch day), |ln| of the exact
    * integer tail `1e6 − 2|u−½|` quantizes to µ-nats, and the released
    * count rounds by the property-tested `(2n+d) div (2d)` integer
    * formula — the noise replays bit-identically on any engine with no
    * FP randomness anywhere. This is the release-AUDIT view (true
    * count and noise kept for the gate); a production release would
    * project `day, event_type, n_released` only. */
  private def dpRelease(s: SparkSession, dir: String): DataFrame = {
    val g = events(s, dir)
      .groupBy(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"),
        (unix_micros(col("ts")) / lit(86400000000L)).cast("long").as("__d"))
      .agg(count(lit(1)).as("n_true"))
      .withColumn("__fp", TextAnalysis.fingerprint(col("event_type")))
      .withColumn("__k",
        expr(s"pmod(__fp * 31 + __d, ${TextAnalysis.FingerprintMod})"))
      .withColumn("__u", expr(s"pmod(${multHashExpr("__k")}, 1000000)"))
      .withColumn("__s", expr("__u - 500000"))
      .withColumn("__arg", expr("greatest(1000000 - 2 * abs(__s), 1)"))
      .withColumn("noise_q6",
        expr(s"-signum(__s) * (${lnQ("__arg")} - $LnMillionQ6)").cast("long"))
    g.select(col("event_type"), col("day"), col("n_true"), col("noise_q6"),
      expr("n_true + (2 * noise_q6 + 1000000) div 2000000").as("n_released"))
  }

  private val dpReleaseSql = {
    val fp = s"""list_reduce(
       |    list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split_regex(event_type, ''),
       |                     c -> CAST(coalesce(ascii(c), 0) AS BIGINT))),
       |    (a, b) -> (a * 31 + b) % ${TextAnalysis.FingerprintMod})""".stripMargin
    s"""WITH g AS (
       |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
       |    CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d,
       |    CAST(count(*) AS BIGINT) AS n_true
       |  FROM events GROUP BY 1, 2, 3),
       |k AS (
       |  SELECT event_type, day, n_true,
       |    ($fp * 31 + d) % ${TextAnalysis.FingerprintMod} AS kk
       |  FROM g),
       |u AS (
       |  SELECT event_type, day, n_true,
       |    ${multHashDuck("kk")} % 1000000 - 500000 AS s
       |  FROM k),
       |n AS (
       |  SELECT event_type, day, n_true,
       |    CAST(-sign(s) * (${lnQ("greatest(1000000 - 2 * abs(s), 1)")}
       |      - $LnMillionQ6) AS BIGINT) AS noise_q6
       |  FROM u)
       |SELECT event_type, day, n_true, noise_q6,
       |  CAST(n_true + (2 * noise_q6 + 1000000) // 2000000 AS BIGINT)
       |    AS n_released
       |FROM n""".stripMargin
  }

  /** #234 grouped (user-level) split — the leakage-free alternative to
    * #90's row-level split: ALL of a user's events land in one split
    * (assignment is a pure function of user_id via the systematic hash
    * bucket, 80/10/10), because row-level splits of grouped data leak
    * a user's behavior across train/test. The audit reports, per
    * split, distinct users, event counts, and the event share in ppm —
    * group-size variance makes event shares drift from the user-share
    * targets, which is exactly what the table shows. Map-only
    * assignment; two partial-aggregated groupBys. */
  private def groupedSplit(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
      .withColumn("__b", Sampling.systematicBucket(col("user_id"), 1000))
      .withColumn("split",
        when(col("__b") < 800, "train").when(col("__b") < 900, "val")
          .otherwise("test"))
    val byS = ev.groupBy("split")
      .agg(countDistinct("user_id").as("n_users"), count(lit(1)).as("n_events"))
    val tot = byS.agg(sum("n_events").as("__t"))
    byS.crossJoin(broadcast(tot))
      .select(col("split"), col("n_users"), col("n_events"),
        expr("CAST((CAST(n_events AS DECIMAL(38,0)) * 1000000) div __t AS BIGINT)")
          .as("event_share_ppm"))
  }

  private val groupedSplitSql = {
    // Sampling.systematicBucket's exact formula (the #90 oracle's twin)
    val b = "((user_id % 1000003) * 1103515247 + 12345) % 1000"
    s"""WITH ev AS (
       |  SELECT user_id,
       |    CASE WHEN $b < 800 THEN 'train'
       |         WHEN $b < 900 THEN 'val' ELSE 'test' END AS split
       |  FROM events),
       |bs AS (
       |  SELECT split, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       |    CAST(count(*) AS BIGINT) AS n_events
       |  FROM ev GROUP BY 1),
       |t AS (SELECT sum(n_events) AS tt FROM bs)
       |SELECT split, n_users, n_events,
       |  CAST((CAST(n_events AS HUGEINT) * 1000000) // tt AS BIGINT)
       |    AS event_share_ppm
       |FROM bs, t""".stripMargin
  }

  /** #235 feature-hashing collision audit — before shipping the
    * hashing trick (cross features → fixed hash buckets), measure what
    * collides: the (event_type × day-of-week) crosses hash through the
    * multiplicative hash into 64 buckets; per OCCUPIED bucket, the
    * distinct crosses sharing it (collisions fuse their statistics)
    * and the event mass riding on it. The cross space is
    * O(types × 7) — the audit aggregates are all tiny; the event mass
    * comes from the same partial-aggregated contingency pass #203
    * uses. */
  private def hashCollisionAudit(s: SparkSession, dir: String): DataFrame = {
    val cells = eventsMicros(s, dir)
      .select(col("event_type"),
        expr(isoDowExpr("ts_us")).cast("int").as("dow"))
      .groupBy("event_type", "dow").agg(count(lit(1)).as("__n"))
      .withColumn("__fp", TextAnalysis.fingerprint(col("event_type")))
      .withColumn("__k",
        expr(s"pmod(__fp * 7 + dow, ${TextAnalysis.FingerprintMod})"))
      .withColumn("bucket",
        expr(s"CAST(pmod(${multHashExpr("__k")}, 64) AS INT)"))
    cells.groupBy("bucket")
      .agg(count(lit(1)).as("n_crosses"), sum("__n").as("n_events"))
      .withColumn("collided", col("n_crosses") > 1L)
  }

  private val hashCollisionAuditSql = {
    val fp = s"""list_reduce(
       |    list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split_regex(event_type, ''),
       |                     c -> CAST(coalesce(ascii(c), 0) AS BIGINT))),
       |    (a, b) -> (a * 31 + b) % ${TextAnalysis.FingerprintMod})""".stripMargin
    s"""WITH c AS (
       |  SELECT event_type,
       |    CAST((epoch_us(ts) // 86400000000 + 3) % 7 + 1 AS INT) AS dow,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM events GROUP BY 1, 2),
       |k AS (
       |  SELECT ($fp * 7 + dow) % ${TextAnalysis.FingerprintMod} AS kk, n
       |  FROM c),
       |b AS (
       |  SELECT CAST(${multHashDuck("kk")} % 64 AS INT) AS bucket, n
       |  FROM k)
       |SELECT bucket, CAST(count(*) AS BIGINT) AS n_crosses,
       |  CAST(sum(n) AS BIGINT) AS n_events, count(*) > 1 AS collided
       |FROM b GROUP BY 1""".stripMargin
  }

  /** #251 rank churn — top-20 leaderboard turnover between the two
    * timeline halves (the drift monitor for any "top entities" feature:
    * how stable is the ranking the model trains on?): per-half user
    * activity counts off ONE groupBy each (partial-aggregated), top-20
    * via TakeOrderedAndProject, rank assigned on the bounded 20-row
    * set, full-outer join of the two lists → kept/entered/dropped,
    * set-jaccard, and the summed |rank shift| of the kept users. */
  private def rankChurn(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("__t"))
    val mid = ev.agg(expr("(min(__t) + max(__t)) div 2").as("__mid"))
    val halves = ev.crossJoin(broadcast(mid))
    def top(half: DataFrame, name: String): DataFrame = {
      val w = Window.orderBy(desc("__c"), asc("user_id"))
      half.groupBy("user_id").agg(count(lit(1)).as("__c"))
        .orderBy(desc("__c"), asc("user_id")).limit(20)
        // rank over the bounded 20-row set only
        .withColumn(name, row_number().over(w).cast("long"))
        .select(col("user_id"), col(name))
    }
    val first = top(halves.filter(col("__t") < col("__mid")), "__r1")
    val second = top(halves.filter(col("__t") >= col("__mid")), "__r2")
    first.join(second, Seq("user_id"), "full_outer")
      .agg(sum(when(col("__r1").isNotNull && col("__r2").isNotNull, 1L)
          .otherwise(0L)).as("n_kept"),
        sum(when(col("__r1").isNull, 1L).otherwise(0L)).as("n_entered"),
        sum(when(col("__r2").isNull, 1L).otherwise(0L)).as("n_dropped"),
        coalesce(sum(when(col("__r1").isNotNull && col("__r2").isNotNull,
          abs(col("__r1") - col("__r2"))).otherwise(0L)), lit(0L))
          .as("shift_sum"))
      .withColumn("jaccard_ppm",
        expr("(n_kept * 1000000) div (n_kept + n_entered + n_dropped)"))
  }

  private val rankChurnSql =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS t FROM events),
      |m AS (SELECT (min(t) + max(t)) // 2 AS mid FROM e),
      |f AS (
      |  SELECT user_id, CAST(row_number() OVER (ORDER BY c DESC, user_id)
      |    AS BIGINT) AS r1
      |  FROM (SELECT user_id, count(*) AS c FROM e, m WHERE t < mid
      |        GROUP BY 1 ORDER BY c DESC, user_id LIMIT 20)),
      |s AS (
      |  SELECT user_id, CAST(row_number() OVER (ORDER BY c DESC, user_id)
      |    AS BIGINT) AS r2
      |  FROM (SELECT user_id, count(*) AS c FROM e, m WHERE t >= mid
      |        GROUP BY 1 ORDER BY c DESC, user_id LIMIT 20))
      |SELECT
      |  CAST(sum(CASE WHEN r1 IS NOT NULL AND r2 IS NOT NULL THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_kept,
      |  CAST(sum(CASE WHEN r1 IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_entered,
      |  CAST(sum(CASE WHEN r2 IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_dropped,
      |  CAST(coalesce(sum(CASE WHEN r1 IS NOT NULL AND r2 IS NOT NULL
      |    THEN abs(r1 - r2) ELSE 0 END), 0) AS BIGINT) AS shift_sum,
      |  CAST((sum(CASE WHEN r1 IS NOT NULL AND r2 IS NOT NULL THEN 1 ELSE 0 END)
      |    * 1000000) // count(*) AS BIGINT) AS jaccard_ppm
      |FROM f FULL OUTER JOIN s USING (user_id)""".stripMargin

  /** #261 attempt-conversion curve — response rate by attempt number,
    * the CATI dialer's core fieldwork KPI (ref feeder.py retry-loop
    * domain): an attempt = a 'view' contact; a user's attempt count is
    * the number of contacts at-or-before their FIRST 'purchase' (all
    * contacts if they never convert — an order-free count, so no
    * tie-break is needed under ts collisions). Per attempt number k:
    * users finishing at k, conversions at k, users reaching ≥k (suffix
    * sum over the O(K)-bounded series), per-attempt conversion ppm.
    * Two user-co-partitioned aggregates + one window on the bounded
    * series — the full-outer join keeps purchase-only users as k=0. */
  private def attemptConversion(s: SparkSession, dir: String): DataFrame = {
    val ev = eventsMicros(s, dir)
      .select(col("user_id"), col("ts_us"), col("event_type"))
    val firstP = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id").agg(min("ts_us").as("__p"))
    val perUser = ev.filter(col("event_type") === "view")
      .join(firstP, Seq("user_id"), "full")
      .groupBy("user_id")
      .agg(max("__p").as("__fp"),
        sum(when(col("ts_us").isNotNull &&
            (col("__p").isNull || col("ts_us") <= col("__p")), 1L)
          .otherwise(0L)).as("attempts"))
      .select(col("attempts"),
        col("__fp").isNotNull.cast("long").as("__conv"))
    val w = Window.orderBy(col("attempts").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // hazard-style rate: converted AT k over users REACHING k. The
    // per-finisher rate (n_converted/n_users) pinned to 1e6 on this
    // fixture — every finisher converts, so the curve measured nothing
    // (r9 vacuity audit)
    perUser.groupBy("attempts")
      .agg(count(lit(1)).as("n_users"), sum("__conv").as("n_converted"))
      .withColumn("users_reaching", sum("n_users").over(w))
      .withColumn("conv_ppm",
        expr("(n_converted * 1000000) div users_reaching"))
  }

  private val attemptConversionSql =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_type FROM events),
      |p AS (SELECT user_id, min(t) AS fp FROM e
      |      WHERE event_type = 'purchase' GROUP BY 1),
      |v AS (SELECT user_id, t FROM e WHERE event_type = 'view'),
      |u AS (
      |  SELECT coalesce(v.user_id, p.user_id) AS user_id,
      |    CAST(sum(CASE WHEN v.t IS NOT NULL
      |        AND (p.fp IS NULL OR v.t <= p.fp) THEN 1 ELSE 0 END)
      |      AS BIGINT) AS attempts,
      |    max(CASE WHEN p.fp IS NOT NULL THEN 1 ELSE 0 END) AS conv
      |  FROM v FULL JOIN p ON v.user_id = p.user_id GROUP BY 1),
      |s AS (SELECT attempts, CAST(count(*) AS BIGINT) AS n_users,
      |      CAST(sum(conv) AS BIGINT) AS n_converted
      |      FROM u GROUP BY 1),
      |r AS (
      |  SELECT attempts, n_users, n_converted,
      |    CAST(sum(n_users) OVER (ORDER BY attempts DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS users_reaching
      |  FROM s)
      |SELECT attempts, n_users, n_converted, users_reaching,
      |  CAST((n_converted * 1000000) // users_reaching AS BIGINT) AS conv_ppm
      |FROM r""".stripMargin

  /** #262 AAPOR-style disposition rates — the one-row fieldwork report
    * header (AAPOR Standard Definitions, public): per-user disposition
    * from the FIRST-5-EVENTS slice — the fieldwork analogy is the
    * first call attempts, and the bounded slice is what makes the
    * categories real: over a user's FULL history on this fixture
    * everyone eventually purchases, so whole-history dispositions
    * collapsed to 100% complete at every SF (partial/contact-only/
    * non-contact all zero — the r9 vacuity audit caught it).
    * Complete = purchase among the first 5; partial = clicked but not
    * purchased; contact-only = viewed but never engaged; non-contact =
    * the rest. Then RR1 = completes/total, contact rate, cooperation
    * rate (completes over contacted), refusal rate — all exact ppm.
    * One user-partitioned rank window (deterministic (ts, event_id)
    * order) + one user aggregate + a 1-row fold. */
  private def aaporRates(s: SparkSession, dir: String): DataFrame =
    eventsMicros(s, dir)
      .select(col("user_id"), col("event_id"), col("ts_us"), col("event_type"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))))
      .filter(col("__rn") <= 5)
      .groupBy("user_id").agg(
        max((col("event_type") === "purchase").cast("long")).as("c"),
        max((col("event_type") === "click").cast("long")).as("k"),
        max((col("event_type") === "view").cast("long")).as("v"))
      .agg(
        count(lit(1)).as("n_total"),
        sum("c").as("n_complete"),
        sum(when(col("c") === 0 && col("k") === 1, 1L).otherwise(0L))
          .as("n_partial"),
        sum(when(col("c") === 0 && col("k") === 0 && col("v") === 1, 1L)
          .otherwise(0L)).as("n_contact_only"),
        sum(when(col("c") === 0 && col("k") === 0 && col("v") === 0, 1L)
          .otherwise(0L)).as("n_noncontact"))
      .withColumn("rr1_ppm", expr("(n_complete * 1000000) div n_total"))
      .withColumn("contact_ppm",
        expr("((n_complete + n_partial + n_contact_only) * 1000000)" +
          " div n_total"))
      .withColumn("coop_ppm",
        expr("CASE WHEN n_complete + n_partial + n_contact_only > 0" +
          " THEN (n_complete * 1000000)" +
          " div (n_complete + n_partial + n_contact_only)" +
          " ELSE 0 END"))
      .withColumn("refusal_ppm",
        expr("CASE WHEN n_complete + n_partial + n_contact_only > 0" +
          " THEN (n_partial * 1000000)" +
          " div (n_complete + n_partial + n_contact_only)" +
          " ELSE 0 END"))

  private val aaporRatesSql =
    """WITH r5 AS (
      |  SELECT user_id, event_type
      |  FROM (SELECT user_id, event_type,
      |          row_number() OVER (PARTITION BY user_id
      |            ORDER BY epoch_us(ts), event_id) AS rn
      |        FROM events)
      |  WHERE rn <= 5),
      |f AS (
      |  SELECT user_id,
      |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c,
      |    max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS k,
      |    max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS v
      |  FROM r5 GROUP BY 1),
      |a AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_total,
      |    CAST(sum(c) AS BIGINT) AS n_complete,
      |    CAST(sum(CASE WHEN c = 0 AND k = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_partial,
      |    CAST(sum(CASE WHEN c = 0 AND k = 0 AND v = 1 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_contact_only,
      |    CAST(sum(CASE WHEN c = 0 AND k = 0 AND v = 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_noncontact
      |  FROM f)
      |SELECT n_total, n_complete, n_partial, n_contact_only, n_noncontact,
      |  CAST((n_complete * 1000000) // n_total AS BIGINT) AS rr1_ppm,
      |  CAST(((n_complete + n_partial + n_contact_only) * 1000000)
      |    // n_total AS BIGINT) AS contact_ppm,
      |  CAST(CASE WHEN n_complete + n_partial + n_contact_only > 0
      |    THEN (n_complete * 1000000)
      |      // (n_complete + n_partial + n_contact_only)
      |    ELSE 0 END AS BIGINT) AS coop_ppm,
      |  CAST(CASE WHEN n_complete + n_partial + n_contact_only > 0
      |    THEN (n_partial * 1000000)
      |      // (n_complete + n_partial + n_contact_only)
      |    ELSE 0 END AS BIGINT) AS refusal_ppm
      |FROM a""".stripMargin

  /** #265 straight-lining audit — the CATI interview-quality check for
    * respondents who give the same answer run after run (Krosnick's
    * satisficing literature; public QC practice): per user, events
    * ordered by (ts_us, event_id) — a total order, so runs are
    * well-defined under ts ties — longest run of the SAME event_type
    * via gaps-and-islands (rn_all − rn_by_type is constant within a
    * run). A user is flagged when max_run ≥ 5 over ≥ 8 events. Output
    * is the bounded max_run distribution (n_users, n_flagged), not the
    * per-user table. Both windows partition BY USER (no global sort);
    * the rest is two partial-aggregated groupBys. */
  private def straightline(s: SparkSession, dir: String): DataFrame = {
    val ev = eventsMicros(s, dir)
      .select(col("user_id"), col("event_type"), col("ts_us"), col("event_id"))
    val byU = Window.partitionBy("user_id")
      .orderBy(col("ts_us"), col("event_id"))
    val byUT = Window.partitionBy("user_id", "event_type")
      .orderBy(col("ts_us"), col("event_id"))
    val runs = ev
      .withColumn("__grp",
        row_number().over(byU) - row_number().over(byUT))
      .groupBy("user_id", "event_type", "__grp")
      .agg(count(lit(1)).as("__run"))
    val perUser = runs.groupBy("user_id")
      .agg(max("__run").as("max_run"), sum("__run").as("__n"))
    perUser.groupBy("max_run")
      .agg(count(lit(1)).as("n_users"),
        sum(when(col("max_run") >= 5 && col("__n") >= 8, 1L).otherwise(0L))
          .as("n_flagged"))
  }

  private val straightlineSql =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t, event_id
      |           FROM events),
      |r AS (
      |  SELECT user_id, event_type,
      |    row_number() OVER (PARTITION BY user_id ORDER BY t, event_id)
      |    - row_number() OVER (PARTITION BY user_id, event_type
      |                         ORDER BY t, event_id) AS grp
      |  FROM e),
      |runs AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS run
      |  FROM r GROUP BY user_id, event_type, grp),
      |u AS (
      |  SELECT user_id, max(run) AS max_run, sum(run) AS n
      |  FROM runs GROUP BY 1)
      |SELECT CAST(max_run AS BIGINT) AS max_run,
      |  CAST(count(*) AS BIGINT) AS n_users,
      |  CAST(sum(CASE WHEN max_run >= 5 AND n >= 8 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_flagged
      |FROM u GROUP BY 1""".stripMargin

  /** #275 Cronbach's alpha — the internal-consistency coefficient
    * (Cronbach 1951) over the k=3 behavioral "items" (per-user view /
    * click / purchase counts): α = k/(k−1)·(1 − Σ var_i / var_total).
    * Every variance folds exactly as V = n·Σx² − (Σx)² (the n²·var
    * scale — the shared factor cancels in the ratio), so
    * α_ppm = sign-split (k·(V_t − ΣV_i)·1e6) div ((k−1)·V_t) with
    * DECIMAL(38)/HUGEINT headroom. ONE user-level aggregate (map-side
    * combinable pivot by event type) + a 1-row fold. */
  private def cronbachAlpha(s: SparkSession, dir: String): DataFrame = {
    val perUser = events(s, dir).groupBy("user_id").agg(
      sum((col("event_type") === "view").cast("long")).as("__v"),
      sum((col("event_type") === "click").cast("long")).as("__c"),
      sum((col("event_type") === "purchase").cast("long")).as("__p"))
    perUser.agg(
        count(lit(1)).as("n"),
        sum("__v").as("__sv"), sum("__c").as("__sc"), sum("__p").as("__sp"),
        sum(expr("CAST(__v AS DECIMAL(38,0)) * __v")).as("__qv"),
        sum(expr("CAST(__c AS DECIMAL(38,0)) * __c")).as("__qc"),
        sum(expr("CAST(__p AS DECIMAL(38,0)) * __p")).as("__qp"),
        sum(expr("CAST(__v + __c + __p AS DECIMAL(38,0)) * (__v + __c + __p)"))
          .as("__qt"))
      .select(col("n"),
        expr("""CAST(n AS DECIMAL(38,0)) * (__qv + __qc + __qp)
          - (CAST(__sv AS DECIMAL(38,0)) * __sv
             + CAST(__sc AS DECIMAL(38,0)) * __sc
             + CAST(__sp AS DECIMAL(38,0)) * __sp)""").as("__vi"),
        expr("""CAST(n AS DECIMAL(38,0)) * __qt
          - (CAST(__sv AS DECIMAL(38,0)) + __sc + __sp)
            * (CAST(__sv AS DECIMAL(38,0)) + __sc + __sp)""").as("__vt"))
      .select(col("n"),
        expr(s"""CAST(CASE WHEN __vt <= 0 THEN 0
          ELSE ${sdivPpm("3 * (__vt - __vi)", "2 * __vt", duck = false)}
          END AS BIGINT)""").as("alpha_ppm"))
  }

  private val cronbachAlphaSql =
    s"""WITH u AS (
      |  SELECT user_id,
      |    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS v,
      |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c,
      |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p
      |  FROM events GROUP BY 1),
      |f AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(v) AS HUGEINT) AS sv, CAST(sum(c) AS HUGEINT) AS sc,
      |    CAST(sum(p) AS HUGEINT) AS sp,
      |    CAST(sum(CAST(v AS HUGEINT) * v) AS HUGEINT) AS qv,
      |    CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS qc,
      |    CAST(sum(CAST(p AS HUGEINT) * p) AS HUGEINT) AS qp,
      |    CAST(sum(CAST(v + c + p AS HUGEINT) * (v + c + p)) AS HUGEINT)
      |      AS qt
      |  FROM u),
      |g AS (
      |  SELECT n,
      |    n * (qv + qc + qp) - (sv * sv + sc * sc + sp * sp) AS vi,
      |    n * qt - (sv + sc + sp) * (sv + sc + sp) AS vt
      |  FROM f)
      |SELECT n,
      |  CAST(CASE WHEN vt <= 0 THEN 0
      |    ELSE ${sdivPpm("3 * (vt - vi)", "2 * vt", duck = true)}
      |    END AS BIGINT) AS alpha_ppm
      |FROM g""".stripMargin

  /** #278 Kendall's τ-b — the rank-correlation the series analyst
    * reaches for when Spearman's ρ (#173) is too tie-fragile: between
    * daily event volume and daily distinct-user reach. The pair scan
    * is O(days²) on the CALENDAR-bounded daily table (≤ ~366 rows at
    * any corpus scale — the broadcast self-join never touches the
    * fact table twice), and concordance classifies by pure
    * COMPARISONS (no difference products — nothing to overflow at
    * any magnitude). C/D/tie counts are exact BIGINTs; τ-b needs a
    * sqrt, so it follows the test-statistic double discipline
    * (small-scale operands, identical expression text, 6 dp). */
  private def kendallTau(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .groupBy(to_date(col("ts")).as("__day"))
      .agg(count(lit(1)).as("__x"), count_distinct(col("user_id")).as("__y"))
    val a = daily.select(col("__day").as("__d1"), col("__x").as("__x1"),
      col("__y").as("__y1"))
    val b = daily.select(col("__day").as("__d2"), col("__x").as("__x2"),
      col("__y").as("__y2"))
    a.join(broadcast(b), col("__d1") < col("__d2"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when((col("__x1") < col("__x2") && col("__y1") < col("__y2"))
          || (col("__x1") > col("__x2") && col("__y1") > col("__y2")), 1L)
          .otherwise(0L)).as("n_concordant"),
        sum(when((col("__x1") < col("__x2") && col("__y1") > col("__y2"))
          || (col("__x1") > col("__x2") && col("__y1") < col("__y2")), 1L)
          .otherwise(0L)).as("n_discordant"),
        sum(when(col("__x1") === col("__x2") && col("__y1") =!= col("__y2"),
          1L).otherwise(0L)).as("n_tie_x"),
        sum(when(col("__x1") =!= col("__x2") && col("__y1") === col("__y2"),
          1L).otherwise(0L)).as("n_tie_y"),
        sum(when(col("__x1") === col("__x2") && col("__y1") === col("__y2"),
          1L).otherwise(0L)).as("n_tie_xy"))
      .withColumn("tau_b", expr(TauBExpr))
  }

  /** τ-b fold over the six exact pair counts — shared with the oracle
    * verbatim; operands are day-pair counts (≤ ~67k), trivially exact
    * in a double. */
  private[graft] val TauBExpr: String =
    """round(CASE
      WHEN n_pairs - n_tie_x - n_tie_xy > 0
       AND n_pairs - n_tie_y - n_tie_xy > 0
      THEN (CAST(n_concordant AS DOUBLE) - CAST(n_discordant AS DOUBLE))
           / sqrt(CAST(n_pairs - n_tie_x - n_tie_xy AS DOUBLE)
                  * CAST(n_pairs - n_tie_y - n_tie_xy AS DOUBLE))
      ELSE 0.0 END, 6)"""

  private lazy val kendallTauSql =
    s"""WITH d AS (
       |  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS x,
       |    CAST(count(DISTINCT user_id) AS BIGINT) AS y
       |  FROM events GROUP BY 1),
       |p AS (
       |  SELECT a.x AS x1, a.y AS y1, b.x AS x2, b.y AS y2
       |  FROM d a JOIN d b ON a.day < b.day),
       |f AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       |    CAST(sum(CASE WHEN (x1 < x2 AND y1 < y2) OR (x1 > x2 AND y1 > y2)
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_concordant,
       |    CAST(sum(CASE WHEN (x1 < x2 AND y1 > y2) OR (x1 > x2 AND y1 < y2)
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_discordant,
       |    CAST(sum(CASE WHEN x1 = x2 AND y1 <> y2 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_tie_x,
       |    CAST(sum(CASE WHEN x1 <> x2 AND y1 = y2 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_tie_y,
       |    CAST(sum(CASE WHEN x1 = x2 AND y1 = y2 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_tie_xy
       |  FROM p)
       |SELECT n_pairs, n_concordant, n_discordant, n_tie_x, n_tie_y,
       |  n_tie_xy, ${TauBExpr.replace("\n", " ")} AS tau_b
       |FROM f""".stripMargin

  /** #284 Theil–Sen robust trend — the median of all pairwise daily
    * slopes of event volume: outlier-immune where #135's least squares
    * is not. The pair scan is calendar-bounded (O(days²) ≈ 435 pairs,
    * #278's broadcast-join shape — day count grows with the calendar,
    * not the data). Each pair slope lands as a sign-split ppm integer
    * (Δdays > 0 by construction, so truncation toward zero matches //
    * after the sign split), and the LOWER MEDIAN is picked by exact
    * rank — equal ppm values make the pick order-independent. */
  private def theilSen(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .groupBy(to_date(col("ts")).as("__day"))
      .agg(count(lit(1)).as("__c"))
      .select(datediff(col("__day"), lit("1970-01-01")).cast("long").as("__d"),
        col("__c"))
    val a = daily.select(col("__d").as("__d1"), col("__c").as("__c1"))
    val b = daily.select(col("__d").as("__d2"), col("__c").as("__c2"))
    val slopes = a.join(broadcast(b), col("__d1") < col("__d2"))
      .select(expr(sdivPpm("__c2 - __c1", "__d2 - __d1", duck = false))
        .as("__ppm"))
    val n = Window.orderBy("__ppm")
    slopes
      .withColumn("__rk", row_number().over(n).cast("long"))
      .withColumn("__n", count(lit(1)).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .filter(col("__rk") === expr("(__n + 1) div 2"))
      .select(col("__n").as("n_pairs"), col("__ppm").as("slope_ppm"),
        round(col("__ppm").cast("double") / 1e6, 6).as("slope_per_day"))
  }

  private val theilSenSql =
    s"""WITH d AS (
      |  SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
      |    CAST(count(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1),
      |p AS (
      |  SELECT ${sdivPpm("b.c - a.c", "b.d - a.d", duck = true)} AS ppm
      |  FROM d a JOIN d b ON a.d < b.d),
      |r AS (SELECT ppm, row_number() OVER (ORDER BY ppm) AS rk,
      |        count(*) OVER () AS n FROM p)
      |SELECT CAST(n AS BIGINT) AS n_pairs, CAST(ppm AS BIGINT) AS slope_ppm,
      |  round(CAST(ppm AS DOUBLE) / 1e6, 6) AS slope_per_day
      |FROM r WHERE rk = (n + 1) // 2""".stripMargin

  /** #312 entropy rate — the sequential-information companion to #117's
    * transition matrix and #186's per-user entropy: H(next | current)
    * over user event sequences, folded EXACTLY as
    * Σ_ct n_ct·(⌊ln n_c·1e6⌋ − ⌊ln n_ct·1e6⌋) / (N·1e6) — the
    * property-tested quantization, integer arithmetic end to end, one
    * transition groupBy. Low entropy rate = predictable sessions. */
  private def entropyRate(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
    val trans = events(s, dir)
      .withColumn("__next", lead(col("event_type"), 1).over(byUser))
      .filter(col("__next").isNotNull)
      .groupBy(col("event_type").as("__c"), col("__next").as("__t"))
      .agg(count(lit(1)).as("__nct"))
    val states = trans.groupBy("__c").agg(sum("__nct").as("__nc"))
    trans.join(broadcast(states), Seq("__c"))
      .agg(sum("__nct").as("n_transitions"),
        count_distinct(col("__c")).as("n_states"),
        sum(col("__nct") *
          (floor(log(col("__nc").cast("double")) * 1e6).cast("long") -
            floor(log(col("__nct").cast("double")) * 1e6).cast("long")))
          .as("__hq"))
      .withColumn("entropy_rate", expr(
        """round(CASE WHEN n_transitions > 0
          THEN CAST(__hq AS DOUBLE) / (1000000.0 * CAST(n_transitions AS DOUBLE))
          ELSE 0.0 END, 6)"""))
      .select("n_transitions", "n_states", "entropy_rate")
  }

  private val entropyRateSql =
    s"""WITH seq AS (
      |  SELECT event_type AS c,
      |    lead(event_type) OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts), event_id) AS t
      |  FROM events),
      |tr AS (SELECT c, t, CAST(count(*) AS BIGINT) AS nct
      |       FROM seq WHERE t IS NOT NULL GROUP BY 1, 2),
      |st AS (SELECT c, CAST(sum(nct) AS BIGINT) AS nc FROM tr GROUP BY 1),
      |f AS (
      |  SELECT CAST(sum(nct) AS BIGINT) AS n_transitions,
      |    CAST(count(DISTINCT tr.c) AS BIGINT) AS n_states,
      |    CAST(sum(nct * (${lnQ("nc")} - ${lnQ("nct")}))
      |      AS BIGINT) AS hq
      |  FROM tr JOIN st ON st.c = tr.c)
      |SELECT n_transitions, n_states,
      |  round(CASE WHEN n_transitions > 0
      |    THEN CAST(hq AS DOUBLE) / (1000000.0 * CAST(n_transitions AS DOUBLE))
      |    ELSE 0.0 END, 6) AS entropy_rate
      |FROM f""".stripMargin

  /** #316 DAU/MAU stickiness — per month: average daily distinct users
    * over monthly distinct users, the engagement ratio product teams
    * watch. Exact: Σ(daily distinct)·1e6 div (n_days·MAU); two
    * partial-aggregated distinct counts, O(months) output. */
  private def stickiness(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
      .select(date_format(col("ts"), "yyyy-MM").as("__m"),
        date_format(col("ts"), "yyyy-MM-dd").as("__d"), col("user_id"))
    val daily = ev.groupBy("__m", "__d")
      .agg(count_distinct(col("user_id")).as("__du"))
      .groupBy("__m")
      .agg(count(lit(1)).as("n_days"), sum("__du").as("__sdu"))
    val mau = ev.groupBy("__m")
      .agg(count_distinct(col("user_id")).as("mau"))
    daily.join(mau, Seq("__m"))
      .select(col("__m").as("month"), col("n_days"), col("mau"),
        expr("(__sdu * 1000000) div (n_days * mau)").as("stickiness_ppm"))
  }

  private val stickinessSql =
    """WITH e AS (
      |  SELECT strftime(ts, '%Y-%m') AS m, strftime(ts, '%Y-%m-%d') AS d,
      |    user_id
      |  FROM events),
      |daily AS (
      |  SELECT m, CAST(count(*) AS BIGINT) AS n_days,
      |    CAST(sum(du) AS BIGINT) AS sdu
      |  FROM (SELECT m, d, CAST(count(DISTINCT user_id) AS BIGINT) AS du
      |        FROM e GROUP BY 1, 2) GROUP BY 1),
      |mm AS (SELECT m, CAST(count(DISTINCT user_id) AS BIGINT) AS mau
      |       FROM e GROUP BY 1)
      |SELECT daily.m AS month, n_days, mau,
      |  CAST((sdu * 1000000) // (n_days * mau) AS BIGINT) AS stickiness_ppm
      |FROM daily JOIN mm ON mm.m = daily.m""".stripMargin

  /** #323 theta-sketch audience intersection — estimated distinct-user
    * overlap between every event-type pair from k-minimum-value
    * sketches (the mergeable path: at 100 TB the per-type sketch is
    * 256 hashes, the pair estimate never touches the full distinct
    * domain — the set-operation companion to #185's KMV cardinality
    * and #119's HLL union, which cannot intersect). Same hash ⇒ same
    * user, so the sketch self-join on the hash value IS the set
    * intersection below θ = min(θ_a, θ_b); est = |S|·M div θ (HUGEINT
    * product — 256·M overflows BIGINT). The exact overlap rides along
    * as the audit column (at this SF it's one co-partitioned
    * self-join; the sketch is the answer at scale). Types with < k
    * distinct users keep θ = M: the sketch IS the set and the
    * estimate collapses to exact. */
  private def thetaIntersect(s: SparkSession, dir: String): DataFrame = {
    val K = 256L
    val M = TextAnalysis.FingerprintMod
    val tu = t(s, dir, "events")
      .select(col("event_type").as("et"), col("user_id").as("u")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hashed = tu.withColumn("__h", expr(multHashExpr("u")))
    val w = Window.partitionBy("et").orderBy("__h")
    val sk = hashed.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= K)
      .select("et", "__h")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val th = sk.groupBy("et")
      .agg(count(lit(1)).as("__c"), max("__h").as("__mx"))
      .withColumn("__theta",
        when(col("__c") >= K, col("__mx")).otherwise(lit(M)))
      .select("et", "__theta")
    // every type pair appears even when no sketch hashes collide
    val pairs = th.as("ta").crossJoin(broadcast(th.as("tb")))
      .filter(col("ta.et") < col("tb.et"))
      .select(col("ta.et").as("type_a"), col("tb.et").as("type_b"),
        least(col("ta.__theta"), col("tb.__theta")).as("__th"))
    val common = sk.as("a")
      .join(sk.as("b"), col("a.__h") === col("b.__h")
        && col("a.et") < col("b.et"))
      .join(broadcast(pairs), col("a.et") === col("type_a")
        && col("b.et") === col("type_b"))
      .filter(col("a.__h") < col("__th"))
      .groupBy("type_a", "type_b")
      .agg(count(lit(1)).as("__cnt"))
    val exact = tu.as("x")
      .join(tu.as("y"), col("x.u") === col("y.u") && col("x.et") < col("y.et"))
      .groupBy(col("x.et").as("type_a"), col("y.et").as("type_b"))
      .agg(count(lit(1)).as("exact_common"))
    pairs
      .join(common, Seq("type_a", "type_b"), "left")
      .join(exact, Seq("type_a", "type_b"), "left")
      .withColumn("__cnt", coalesce(col("__cnt"), lit(0L)))
      .withColumn("est_common", expr(
        s"CAST((CAST(__cnt AS DECIMAL(38,0)) * $M) div __th AS BIGINT)"))
      .withColumn("exact_common", coalesce(col("exact_common"), lit(0L)))
      .withColumn("err_ppm", expr(
        s"""CASE WHEN exact_common = 0 THEN 0
          | ELSE ${sdivPpm("est_common - exact_common", "exact_common", duck = false)}
          | END""".stripMargin.replace("\n", " ")))
      .select("type_a", "type_b", "est_common", "exact_common", "err_ppm")
  }

  private lazy val thetaIntersectSql = {
    val M = TextAnalysis.FingerprintMod
    s"""WITH tu AS (SELECT DISTINCT event_type AS et, user_id AS u FROM events),
      |h AS (SELECT et, u, ${multHashDuck("u")} AS hh FROM tu),
      |rk AS (SELECT et, hh,
      |         row_number() OVER (PARTITION BY et ORDER BY hh) AS rn
      |       FROM h),
      |sk AS (SELECT et, hh FROM rk WHERE rn <= 256),
      |th AS (
      |  SELECT et, CASE WHEN count(*) >= 256 THEN max(hh)
      |             ELSE ${M} END AS theta
      |  FROM sk GROUP BY 1),
      |pairs AS (
      |  SELECT ta.et AS type_a, tb.et AS type_b,
      |    least(ta.theta, tb.theta) AS th
      |  FROM th ta CROSS JOIN th tb WHERE ta.et < tb.et),
      |cm AS (
      |  SELECT a.et AS type_a, b.et AS type_b, p.th,
      |    CAST(count(*) FILTER (WHERE a.hh < p.th) AS BIGINT) AS cnt
      |  FROM sk a JOIN sk b ON a.hh = b.hh AND a.et < b.et
      |  JOIN pairs p ON p.type_a = a.et AND p.type_b = b.et
      |  GROUP BY 1, 2, 3),
      |ex AS (
      |  SELECT x.et AS type_a, y.et AS type_b,
      |    CAST(count(*) AS BIGINT) AS exact_common
      |  FROM tu x JOIN tu y ON x.u = y.u AND x.et < y.et
      |  GROUP BY 1, 2)
      |SELECT p.type_a, p.type_b,
      |  CAST((CAST(coalesce(cm.cnt, 0) AS HUGEINT) * ${M}) // p.th AS BIGINT)
      |    AS est_common,
      |  coalesce(ex.exact_common, 0) AS exact_common,
      |  CASE WHEN coalesce(ex.exact_common, 0) = 0 THEN 0
      |    ELSE ${sdivPpm(
            s"CAST((CAST(coalesce(cm.cnt, 0) AS HUGEINT) * ${M}) // p.th AS BIGINT) - ex.exact_common",
            "ex.exact_common", duck = true)}
      |    END AS err_ppm
      |FROM pairs p
      |LEFT JOIN cm ON cm.type_a = p.type_a AND cm.type_b = p.type_b
      |LEFT JOIN ex ON ex.type_a = p.type_a AND ex.type_b = p.type_b""".stripMargin
  }

  /** #328 Poisson overdispersion audit — is each event type's daily
    * arrival count Poisson (variance ≈ mean), or bursty (the decision
    * between a Poisson rate model and a negative-binomial one; the
    * daily companion to #150's hourly Fano factor, with a dispersion
    * INDEX, exact fold, and per-type dense day grids). D = s²/x̄ folds
    * as ((n·Σx² − S²)·1e6) div ((n−1)·S) — every term an exact integer
    * (counts!), positive, one division. O(types·days) grid, O(types)
    * output. */
  private def overdispersion(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("dd"))
      .agg(count(lit(1)).as("cnt"))
    val span = ev.groupBy("event_type")
      .agg(min("dd").as("__lo"), max("dd").as("__hi"))
    span.select(col("event_type"), explode(expr("sequence(__lo, __hi)")).as("dd"))
      .join(ev, Seq("event_type", "dd"), "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"), sum("cnt").as("n_events"),
        sum(expr("cnt * cnt")).as("__sxx"))
      .withColumn("mean_ppm", expr("(n_events * 1000000) div n_days"))
      .withColumn("dispersion_ppm", expr(
        """CAST(((CAST(n_days AS DECIMAL(38,0)) * __sxx
          |  - CAST(n_events AS DECIMAL(38,0)) * n_events) * 1000000)
          | div (CAST(n_days - 1 AS DECIMAL(38,0)) * n_events) AS BIGINT)"""
          .stripMargin.replace("\n", " ")))
      .select("event_type", "n_days", "n_events", "mean_ppm",
        "dispersion_ppm")
  }

  private val overdispersionSql =
    """WITH ev AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS dd,
      |    CAST(count(*) AS BIGINT) AS cnt
      |  FROM events GROUP BY 1, 2),
      |sp AS (SELECT event_type, min(dd) AS lo, max(dd) AS hi
      |       FROM ev GROUP BY 1),
      |grid AS (
      |  SELECT sp.event_type, CAST(u.dd AS BIGINT) AS dd,
      |    coalesce(ev.cnt, 0) AS cnt
      |  FROM sp CROSS JOIN unnest(range(sp.lo, sp.hi + 1)) AS u(dd)
      |  LEFT JOIN ev ON ev.event_type = sp.event_type AND ev.dd = u.dd)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
      |  CAST(sum(cnt) AS BIGINT) AS n_events,
      |  CAST((sum(cnt) * 1000000) // count(*) AS BIGINT) AS mean_ppm,
      |  CAST(((CAST(count(*) AS HUGEINT) * sum(cnt * cnt)
      |         - CAST(sum(cnt) AS HUGEINT) * sum(cnt)) * 1000000)
      |       // (CAST(count(*) - 1 AS HUGEINT) * sum(cnt)) AS BIGINT)
      |    AS dispersion_ppm
      |FROM grid GROUP BY 1""".stripMargin

  /** #329 candidate-key discovery — which column sets uniquely identify
    * an events row (the profiling pass behind dedup keys, upsert keys,
    * and CDC ordering — the constructive complement to #198's FD
    * audit, which checks DEPENDENCE between two named columns)? Each
    * of the six fixed combos folds n vs n_distinct in its own
    * partial-aggregated distinct shuffle (bounded combo list — never
    * the 2^cols lattice); uniqueness lands as exact ppm. At 100 TB
    * each COUNT(DISTINCT combo) shuffles the combo key once —
    * #41/#185's sketches are the cheap pre-screen when exactness can
    * be traded. */
  private def keyDiscovery(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val combos: Seq[(String, Seq[String])] = Seq(
      "event_id" -> Seq("event_id"),
      "event_type" -> Seq("event_type"),
      "ts" -> Seq("ts"),
      "user_id" -> Seq("user_id"),
      "user_id,ts" -> Seq("user_id", "ts"),
      "user_id,event_type,ts" -> Seq("user_id", "event_type", "ts"))
    combos.map { case (name, cols) =>
      ev.agg(count(lit(1)).as("n_rows"),
          count_distinct(col(cols.head), cols.tail.map(col): _*)
            .as("n_distinct"))
        .select(lit(name).as("combo"), col("n_rows"), col("n_distinct"),
          expr("(n_distinct * 1000000) div n_rows").as("uniqueness_ppm"),
          (col("n_distinct") === col("n_rows")).as("is_key"))
    }.reduce(_ unionAll _)
  }

  private val keyDiscoverySql = {
    def one(name: String, cols: String): String =
      s"""SELECT '$name' AS combo, CAST((SELECT count(*) FROM events) AS BIGINT)
        |    AS n_rows,
        |  CAST((SELECT count(*) FROM (SELECT DISTINCT $cols FROM events))
        |    AS BIGINT) AS n_distinct,
        |  CAST(((SELECT count(*) FROM (SELECT DISTINCT $cols FROM events))
        |        * 1000000)
        |    // (SELECT count(*) FROM events) AS BIGINT) AS uniqueness_ppm,
        |  (SELECT count(*) FROM (SELECT DISTINCT $cols FROM events))
        |    = (SELECT count(*) FROM events) AS is_key""".stripMargin
    Seq("event_id" -> "event_id", "event_type" -> "event_type",
      "ts" -> "ts", "user_id" -> "user_id",
      "user_id,ts" -> "user_id, ts",
      "user_id,event_type,ts" -> "user_id, event_type, ts")
      .map { case (n, c) => one(n, c) }.mkString("\nUNION ALL\n")
  }

  /** #334 week-over-week audience overlap — how much of each week's
    * PURCHASER set carries into the next (the set-level churn view
    * #134's rolling distinct COUNT and #64's cohort retention both
    * miss: counts can hold steady while the population fully turns
    * over). The audience is purchase-defined, not any-event-defined:
    * on this fixture every user emits SOME event every week, so the
    * any-event audiences were identical (jaccard pinned at 1e6,
    * new_ppm at 0 — the r9 vacuity audit caught it); weekly purchaser
    * sets genuinely turn over. One distinct (week, user) shuffle; the
    * intersection is a user-key self-join restricted to adjacent
    * weeks; jaccard / retained / new land as exact ppm. O(weeks)
    * output. */
  private def audienceOverlap(s: SparkSession, dir: String): DataFrame = {
    val wu = events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(expr("unix_micros(ts) div 604800000000").as("wk"),
        col("user_id").as("u"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = wu.groupBy("wk").agg(count(lit(1)).as("n"))
    val common = wu.as("a")
      .join(wu.as("b"), col("a.u") === col("b.u")
        && col("b.wk") === col("a.wk") + 1)
      .groupBy(col("a.wk").as("wk")).agg(count(lit(1)).as("n_common"))
    n.as("na")
      .join(n.as("nb"), col("nb.wk") === col("na.wk") + 1)
      .join(common.withColumnRenamed("wk", "__cw"),
        col("__cw") === col("na.wk"), "left")
      .select(col("na.wk").as("week_a"), col("nb.wk").as("week_b"),
        col("na.n").as("n_a"), col("nb.n").as("n_b"),
        coalesce(col("n_common"), lit(0L)).as("n_common"))
      .withColumn("jaccard_ppm", expr(
        "(n_common * 1000000) div (n_a + n_b - n_common)"))
      .withColumn("retained_ppm", expr("(n_common * 1000000) div n_a"))
      .withColumn("new_ppm", expr("((n_b - n_common) * 1000000) div n_b"))
  }

  private val audienceOverlapSql =
    """WITH wu AS (
      |  SELECT DISTINCT epoch_us(ts) // 604800000000 AS wk, user_id AS u
      |  FROM events WHERE event_type = 'purchase'),
      |n AS (SELECT wk, CAST(count(*) AS BIGINT) AS n FROM wu GROUP BY 1),
      |cm AS (
      |  SELECT a.wk AS wk, CAST(count(*) AS BIGINT) AS n_common
      |  FROM wu a JOIN wu b ON b.u = a.u AND b.wk = a.wk + 1
      |  GROUP BY 1)
      |SELECT na.wk AS week_a, nb.wk AS week_b, na.n AS n_a, nb.n AS n_b,
      |  coalesce(cm.n_common, 0) AS n_common,
      |  (coalesce(cm.n_common, 0) * 1000000)
      |    // (na.n + nb.n - coalesce(cm.n_common, 0)) AS jaccard_ppm,
      |  (coalesce(cm.n_common, 0) * 1000000) // na.n AS retained_ppm,
      |  ((nb.n - coalesce(cm.n_common, 0)) * 1000000) // nb.n AS new_ppm
      |FROM n na JOIN n nb ON nb.wk = na.wk + 1
      |LEFT JOIN cm ON cm.wk = na.wk""".stripMargin

  /** #339 sample-size / MDE table — the experiment-design numbers every
    * A/B platform derives before launching: per relative MDE, the
    * required per-arm n at α=0.05 two-sided / power 0.8, from the
    * MEASURED baseline purchase share of events (two-proportion normal
    * approximation n = (z_{α/2}+z_β)²·2p(1−p)/δ², the z's as shared
    * literals). The baseline is the EVENT-level purchase share — the
    * user-level "ever purchased" rate is exactly 1.0 on this synthetic
    * stream (every user converts, the #258 vacuous-predicate lesson)
    * and p(1−p)=0 would zero the whole table. The n lands via ceil of
    * an integral-safe double (both engines' IEEE ceil agree; the cast
    * is of an integral value). O(4) output. */
  private def powerMde(s: SparkSession, dir: String): DataFrame = {
    val conv = events(s, dir).agg(
      count(lit(1)).as("__n"),
      sum((col("event_type") === "purchase").cast("long")).as("__k"))
    val zsum = "2.801586"  // z_{0.025} + z_{0.2} = 1.959964 + 0.841621
    conv.select(col("*"), explode(expr(
        "array(50000, 100000, 200000, 500000)")).as("rel_mde_ppm"))
      .withColumn("p_ppm", expr("(__k * 1000000) div __n"))
      .withColumn("n_per_arm", expr(
        s"""CAST(ceil(($zsum * $zsum
           |  * 2.0 * (CAST(p_ppm AS DOUBLE) / 1e6)
           |  * (1.0 - CAST(p_ppm AS DOUBLE) / 1e6))
           | / ((CAST(p_ppm AS DOUBLE) / 1e6)
           |    * (CAST(rel_mde_ppm AS DOUBLE) / 1e6)
           |    * (CAST(p_ppm AS DOUBLE) / 1e6)
           |    * (CAST(rel_mde_ppm AS DOUBLE) / 1e6))) AS BIGINT)"""
          .stripMargin.replace("\n", " ")))
      .select(col("rel_mde_ppm").cast("long").as("rel_mde_ppm"),
        col("__n").as("n_events"), col("p_ppm"), col("n_per_arm"))
  }

  private val powerMdeSql = {
    val zsum = "2.801586"
    s"""WITH conv AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS k
      |  FROM events),
      |m AS (SELECT unnest([50000, 100000, 200000, 500000]) AS rel_mde_ppm)
      |SELECT CAST(m.rel_mde_ppm AS BIGINT) AS rel_mde_ppm, conv.n AS n_events,
      |  CAST((k * 1000000) // n AS BIGINT) AS p_ppm,
      |  CAST(ceil(($zsum * $zsum
      |    * 2.0 * (CAST((k * 1000000) // n AS DOUBLE) / 1e6)
      |    * (1.0 - CAST((k * 1000000) // n AS DOUBLE) / 1e6))
      |   / ((CAST((k * 1000000) // n AS DOUBLE) / 1e6)
      |      * (CAST(m.rel_mde_ppm AS DOUBLE) / 1e6)
      |      * (CAST((k * 1000000) // n AS DOUBLE) / 1e6)
      |      * (CAST(m.rel_mde_ppm AS DOUBLE) / 1e6))) AS BIGINT) AS n_per_arm
      |FROM conv CROSS JOIN m""".stripMargin
  }

  /** #342 lead–lag cross-correlation (CCF, lags −7..+7) between the
    * daily VIEW count and the daily PURCHASE count — "does browsing
    * lead buying, and by how many days?" (the lag that maximizes the
    * CCF is the conversion latency a forecaster feeds on; q_autocorr
    * is the single-series special case). Both series live on ONE dense
    * day grid (gap days are REAL zeros); the lagged pairing is one
    * equi-join on day+lag after a constant 15× map-side explode — no
    * per-lag rescan, no window. All Pearson moments fold as exact
    * longs; only the final per-lag projection is double. */
  private def crossCorr(s: SparkSession, dir: String): DataFrame = {
    val dc = events(s, dir)
      .groupBy(expr("unix_micros(ts) div 86400000000").as("d"))
      .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("x"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
    val span = dc.agg(min("d").as("d0"), max("d").as("d1"))
    // persisted: the grid is both the x side and the y side of the
    // lag join — without this the whole events aggregate re-runs per side
    val grid = span
      .select(explode(expr("sequence(d0, d1)")).as("d"))
      .join(dc, Seq("d"), "left")
      .select(col("d"), coalesce(col("x"), lit(0L)).as("x"),
        coalesce(col("y"), lit(0L)).as("y"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val lagged = grid
      .select(col("d"), col("x"), explode(expr("sequence(-7, 7)")).as("lag"))
      .withColumn("d", col("d") + col("lag"))
    val m = lagged
      .join(grid.select(col("d"), col("y")), Seq("d"))
      .groupBy("lag")
      .agg(count(lit(1)).as("n_pairs"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
    val np = col("n_pairs").cast("double")
    val cov = np * col("sxy").cast("double") -
      col("sx").cast("double") * col("sy").cast("double")
    val vx = np * col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double")
    val vy = np * col("syy").cast("double") -
      col("sy").cast("double") * col("sy").cast("double")
    // left-join the lag spine: a day span shorter than the lag window
    // must still emit all 15 rows (n_pairs=0, NULL ccf), not silently
    // shrink the CCF table
    val spine = s.range(-7, 8).select(col("id").cast("int").as("lag"))
    spine.join(m.withColumn("lag", col("lag").cast("int")), Seq("lag"), "left")
      .select(col("lag"), coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        when(vx > 0.0 && vy > 0.0, round(cov / sqrt(vx * vy), 6)).as("ccf"))
  }

  private val crossCorrSql =
    """WITH dc AS (
      |  SELECT epoch_us(ts) // 86400000000 AS d,
      |    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS x,
      |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
      |  FROM events GROUP BY 1),
      |sp AS (SELECT min(d) AS d0, max(d) AS d1 FROM dc),
      |grid AS (
      |  SELECT CAST(u.d AS BIGINT) AS d,
      |    CAST(coalesce(dc.x, 0) AS BIGINT) AS x,
      |    CAST(coalesce(dc.y, 0) AS BIGINT) AS y
      |  FROM sp CROSS JOIN unnest(range(sp.d0, sp.d1 + 1)) AS u(d)
      |  LEFT JOIN dc ON dc.d = u.d),
      |m AS (
      |  SELECT l.lag, count(*) AS n_pairs,
      |    sum(a.x) AS sx, sum(b.y) AS sy, sum(a.x * b.y) AS sxy,
      |    sum(a.x * a.x) AS sxx, sum(b.y * b.y) AS syy
      |  FROM grid a
      |  CROSS JOIN (SELECT unnest(range(-7, 8)) AS lag) l
      |  JOIN grid b ON b.d = a.d + l.lag
      |  GROUP BY 1)
      |SELECT CAST(l.lag AS INT) AS lag,
      |  CAST(coalesce(m.n_pairs, 0) AS BIGINT) AS n_pairs,
      |  CASE WHEN CAST(m.n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0.0
      |        AND CAST(m.n_pairs AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0.0
      |    THEN round(
      |      (CAST(m.n_pairs AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
      |      sqrt((CAST(m.n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
      |           (CAST(m.n_pairs AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
      |      6)
      |  END AS ccf
      |FROM (SELECT unnest(range(-7, 8)) AS lag) l
      |LEFT JOIN m ON m.lag = l.lag""".stripMargin

  /** #343 UCB1 arm ranking — the deterministic explore/exploit score a
    * bandit-driven rollout (which variant gets the next batch of
    * traffic?) reads each morning: per event-type arm, the [0,1]-
    * normalized mean reward (exact cent sums over the global max cent
    * reward) plus the √(2·ln N / n) exploration bonus; the CHOSEN arm
    * is rank 1 on the rounded score. One pass over events (the global
    * N and max fold from the per-arm aggregate, never a second scan),
    * O(types) output; the only doubles are the final projection off
    * exact BIGINT moments (never HUGEINT→DOUBLE), and both engines
    * evaluate the identical fixed-order expression. */
  private def ucbArms(s: SparkSession, dir: String): DataFrame = {
    val arm = events(s, dir)
      .select(col("event_type"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("__c"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_pulls"), sum("__c").as("__sc"),
        max("__c").as("__amx"))
    val tot = arm.agg(sum("n_pulls").as("__nn"), max("__amx").as("__mx"))
    // __mx > 0 guard: all-zero rewards would otherwise form 0/0 (NaN),
    // which the two engines order differently — degenerate data must
    // yield NULL identically on both sides
    val scored = arm.crossJoin(broadcast(tot))
      .withColumn("mean_reward", expr(
        "CASE WHEN __mx > 0 THEN round(CAST(__sc AS DOUBLE) / (CAST(n_pulls AS DOUBLE) * CAST(__mx AS DOUBLE)), 6) END"))
      .withColumn("ucb_bonus", expr(
        "round(sqrt(2.0 * ln(CAST(__nn AS DOUBLE)) / CAST(n_pulls AS DOUBLE)), 6)"))
      .withColumn("ucb_score", expr(
        """CASE WHEN __mx > 0 THEN
          | round(CAST(__sc AS DOUBLE) / (CAST(n_pulls AS DOUBLE) * CAST(__mx AS DOUBLE))
          | + sqrt(2.0 * ln(CAST(__nn AS DOUBLE)) / CAST(n_pulls AS DOUBLE)), 6) END"""
          .stripMargin.replace("\n", " ")))
    // unpartitioned window: O(event types) rows — bounded by design
    scored
      .withColumn("rank", row_number().over(
        Window.orderBy(col("ucb_score").desc, col("event_type"))).cast("int"))
      .select("event_type", "n_pulls", "mean_reward", "ucb_bonus",
        "ucb_score", "rank")
  }

  private val ucbArmsSql =
    """WITH arm AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_pulls,
      |    CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sc,
      |    CAST(max(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS amx
      |  FROM events GROUP BY 1),
      |tot AS (SELECT CAST(sum(n_pulls) AS BIGINT) AS nn, max(amx) AS mx FROM arm),
      |sel AS (
      |  SELECT event_type, n_pulls,
      |    CASE WHEN mx > 0 THEN round(CAST(sc AS DOUBLE) / (CAST(n_pulls AS DOUBLE) * CAST(mx AS DOUBLE)), 6) END AS mean_reward,
      |    round(sqrt(2.0 * ln(CAST(nn AS DOUBLE)) / CAST(n_pulls AS DOUBLE)), 6) AS ucb_bonus,
      |    CASE WHEN mx > 0 THEN round(CAST(sc AS DOUBLE) / (CAST(n_pulls AS DOUBLE) * CAST(mx AS DOUBLE))
      |      + sqrt(2.0 * ln(CAST(nn AS DOUBLE)) / CAST(n_pulls AS DOUBLE)), 6) END AS ucb_score
      |  FROM arm CROSS JOIN tot)
      |SELECT event_type, n_pulls, mean_reward, ucb_bonus, ucb_score,
      |  CAST(row_number() OVER (ORDER BY ucb_score DESC, event_type) AS INT) AS rank
      |FROM sel""".stripMargin

  /** #344 exact Shapley channel attribution — the game-theoretic
    * successor of q_attribution's last-touch rule: each of the 4 touch
    * channels (view/click/signup/error) gets its Shapley value under
    * the coalition game v(S) = conversions REACHABLE with channels in
    * S (users whose touched-channel set ⊆ S and who purchased). With
    * K=4 the 16-subset lattice is exact and tiny: one user-level
    * bitmask aggregate (the only data-sized pass), then the whole
    * lattice/marginal computation runs as O(16)-row broadcast joins —
    * never a driver loop. φ·4! stays an exact integer (weights
    * |S|!·(K−1−|S|)! ∈ {6,2,2,6}); the ppm share divides the
    * non-negative marginal mass, and Σφ = v(full)−v(∅) by efficiency
    * (the spec asserts it). */
  private def shapleyAttribution(s: SparkSession, dir: String): DataFrame = {
    val touch = events(s, dir).groupBy("user_id").agg(
      (max(when(col("event_type") === "view", 1L).otherwise(0L)) +
        max(when(col("event_type") === "click", 1L).otherwise(0L)) * 2L +
        max(when(col("event_type") === "signup", 1L).otherwise(0L)) * 4L +
        max(when(col("event_type") === "error", 1L).otherwise(0L)) * 8L)
        .as("mask"),
      max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))
    val mc = touch.filter(col("conv") === 1L)
      .groupBy("mask").agg(count(lit(1)).as("c"))
    val lat = s.range(0, 16).toDF("S")
    // persisted: v is read three times (both marginal sides + the
    // efficiency bounds) and its lineage holds the full user aggregate
    val v = lat.join(broadcast(mc), expr("(mask & S) = mask"), "left")
      .groupBy("S").agg(coalesce(sum("c"), lit(0L)).as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ch = s.createDataFrame(
      Seq(("view", 1L), ("click", 2L), ("signup", 4L), ("error", 8L)))
      .toDF("channel", "bit")
    val pairs = broadcast(ch)
      .crossJoin(broadcast(v.select(col("S").as("S0"), col("v").as("v0s"))))
      .filter(expr("(S0 & bit) = 0"))
      .join(broadcast(v.select(col("S").as("S1"), col("v").as("v1s"))),
        expr("S1 = S0 + bit"))
      .withColumn("w", expr(
        """CASE (S0 % 2) + ((S0 div 2) % 2) + ((S0 div 4) % 2) + ((S0 div 8) % 2)
          | WHEN 0 THEN 6 WHEN 1 THEN 2 WHEN 2 THEN 2 ELSE 6 END"""
          .stripMargin.replace("\n", " ")))
    val phi = pairs.groupBy("channel")
      .agg(sum(expr("w * (v1s - v0s)")).as("phi_x24"))
    val bounds = v.agg(
      sum(when(col("S") === 15, col("v"))).as("__vfull"),
      sum(when(col("S") === 0, col("v"))).as("__vempty"))
    phi.crossJoin(broadcast(bounds))
      .select(col("channel"), col("phi_x24"),
        expr("""CASE WHEN __vfull - __vempty > 0
               | THEN (phi_x24 * 1000000) div (24 * (__vfull - __vempty)) END"""
          .stripMargin.replace("\n", " ")).as("share_ppm"),
        col("__vfull").as("n_conv_reachable"))
  }

  private val shapleyAttributionSql =
    """WITH touch AS (
      |  SELECT user_id,
      |    max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
      |    + max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) * 2
      |    + max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) * 4
      |    + max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) * 8 AS mask,
      |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      |  FROM events GROUP BY 1),
      |mc AS (SELECT mask, count(*) AS c FROM touch WHERE conv = 1 GROUP BY 1),
      |lat AS (SELECT CAST(u.S AS BIGINT) AS S FROM unnest(range(0, 16)) AS u(S)),
      |v AS (
      |  SELECT l.S, CAST(coalesce(sum(c), 0) AS BIGINT) AS v
      |  FROM lat l LEFT JOIN mc ON (mc.mask & l.S) = mc.mask GROUP BY 1),
      |ch AS (SELECT * FROM (VALUES ('view', 1), ('click', 2), ('signup', 4),
      |       ('error', 8)) AS t(channel, bit)),
      |pairs AS (
      |  SELECT ch.channel,
      |    CASE (s0.S % 2) + ((s0.S // 2) % 2) + ((s0.S // 4) % 2) + ((s0.S // 8) % 2)
      |      WHEN 0 THEN 6 WHEN 1 THEN 2 WHEN 2 THEN 2 ELSE 6 END AS w,
      |    s1.v - s0.v AS dv
      |  FROM ch
      |  JOIN v s0 ON (s0.S & ch.bit) = 0
      |  JOIN v s1 ON s1.S = s0.S + ch.bit),
      |phi AS (SELECT channel, CAST(sum(w * dv) AS BIGINT) AS phi_x24
      |        FROM pairs GROUP BY 1),
      |b AS (SELECT CAST(sum(CASE WHEN S = 15 THEN v END) AS BIGINT) AS vfull,
      |             CAST(sum(CASE WHEN S = 0 THEN v END) AS BIGINT) AS vempty
      |      FROM v)
      |SELECT channel, phi_x24,
      |  CASE WHEN vfull - vempty > 0
      |    THEN CAST((phi_x24 * 1000000) // (24 * (vfull - vempty)) AS BIGINT)
      |  END AS share_ppm,
      |  vfull AS n_conv_reachable
      |FROM phi CROSS JOIN b""".stripMargin

  /** #345 URL parsing + tracking-param strip — the web-corpus URL
    * normalization pass, proven by construction (the #338 html_strip
    * pattern): a VALID formulaic URL is planted per event (host/path/
    * query derive from event_id; 1 in 4 carries no utm tracking), the
    * Spark side runs the REAL `parse_url` extractions (HOST, PATH,
    * QUERY, and the keyed QUERY:utm_source form) plus the tracking-
    * param strip regex, and the oracle recomputes every aggregate
    * arithmetically from the id formulas WITHOUT parsing — a parse or
    * strip regression on any row breaks n_parse_ok or the clean-query
    * length sum. Map-only until the O(hosts) aggregate. */
  private def urlParse(s: SparkSession, dir: String): DataFrame = {
    val planted = events(s, dir).select(col("event_id"), concat(
      lit("https://shop"), pmod(col("event_id"), lit(5)),
      lit(".example.com/p/"), pmod(col("event_id"), lit(100)), lit("?"),
      when(pmod(col("event_id"), lit(4)) === 0,
        concat(lit("sid="), col("event_id")))
        .otherwise(concat(lit("utm_source=s"), pmod(col("event_id"), lit(3)),
          lit("&sid="), col("event_id")))).as("__url"))
    planted
      .withColumn("__host", expr("parse_url(__url, 'HOST')"))
      .withColumn("__path", expr("parse_url(__url, 'PATH')"))
      .withColumn("__q", expr("parse_url(__url, 'QUERY')"))
      .withColumn("__utm", expr("parse_url(__url, 'QUERY', 'utm_source')"))
      .withColumn("__clean",
        regexp_replace(col("__q"), "utm_[a-z]+=[^&]*&?", ""))
      .groupBy(col("__host").as("host"))
      .agg(count(lit(1)).as("n_urls"),
        count_distinct(col("__path")).as("n_paths"),
        sum(when(col("__utm").isNotNull, 1L).otherwise(0L)).as("n_tracked"),
        sum(length(col("__clean")).cast("long")).as("sum_clean_qlen"),
        sum(when(col("__host") === concat(lit("shop"),
            pmod(col("event_id"), lit(5)), lit(".example.com")) &&
          col("__path") === concat(lit("/p/"), pmod(col("event_id"), lit(100))),
          1L).otherwise(0L)).as("n_parse_ok"))
  }

  private val urlParseSql =
    """SELECT 'shop' || (event_id % 5) || '.example.com' AS host,
      |  CAST(count(*) AS BIGINT) AS n_urls,
      |  CAST(count(DISTINCT event_id % 100) AS BIGINT) AS n_paths,
      |  CAST(sum(CASE WHEN event_id % 4 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_tracked,
      |  CAST(sum(4 + length(CAST(event_id AS VARCHAR))) AS BIGINT)
      |    AS sum_clean_qlen,
      |  CAST(count(*) AS BIGINT) AS n_parse_ok
      |FROM events GROUP BY 1""".stripMargin

  /** #348 per-user feature matrix — the training-ready behavioral
    * feature table a churn/propensity model consumes (the RAW features
    * q_rfm bands and q_churn_hazard summarize): one events pass, one
    * per-user aggregate, the corpus max timestamp as a 1-row broadcast
    * for recency. Every feature is an exact integer (epoch-µs day
    * arithmetic, cent sums, ppm shares) — no doubles anywhere, so the
    * matrix is bit-stable under any partitioning at any scale. Pairs
    * with q_train_split/q_group_split for the downstream
    * label/split step. */
  private def featureMatrix(s: SparkSession, dir: String): DataFrame = {
    val ev = eventsMicros(s, dir)
      .select(col("user_id"), col("event_type"), col("ts_us"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("__c"))
    val mx = ev.agg(max("ts_us").as("__gmax"))
    ev.groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("n_purchases"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L))
          .as("n_errors"),
        count_distinct(col("event_type")).as("n_types"),
        sum("__c").as("sum_cents"), max("__c").as("max_cents"),
        min("ts_us").as("__first"), max("ts_us").as("__last"))
      .crossJoin(broadcast(mx))
      .select(col("user_id"), col("n_events"), col("n_purchases"),
        col("n_errors"), col("n_types"), col("sum_cents"), col("max_cents"),
        expr("(__gmax - __last) div 86400000000").as("recency_days"),
        expr("(__last - __first) div 86400000000").as("tenure_days"),
        expr("(n_purchases * 1000000) div n_events").as("purchase_share_ppm"),
        expr("(n_events * 1000000) div ((__last - __first) div 86400000000 + 1)")
          .as("intensity_ppm"))
  }

  private val featureMatrixSql =
    """WITH ev AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS us,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
      |  FROM events),
      |mx AS (SELECT max(us) AS gmax FROM ev),
      |u AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
      |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_purchases,
      |    CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_errors,
      |    CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
      |    CAST(sum(c) AS BIGINT) AS sum_cents,
      |    CAST(max(c) AS BIGINT) AS max_cents,
      |    min(us) AS f, max(us) AS l
      |  FROM ev GROUP BY 1)
      |SELECT user_id, n_events, n_purchases, n_errors, n_types, sum_cents,
      |  max_cents,
      |  CAST((gmax - l) // 86400000000 AS BIGINT) AS recency_days,
      |  CAST((l - f) // 86400000000 AS BIGINT) AS tenure_days,
      |  CAST((n_purchases * 1000000) // n_events AS BIGINT)
      |    AS purchase_share_ppm,
      |  CAST((n_events * 1000000) // ((l - f) // 86400000000 + 1) AS BIGINT)
      |    AS intensity_ppm
      |FROM u CROSS JOIN mx""".stripMargin

  /** #358 Holt linear smoothing — level+trend double exponential
    * smoothing (Holt 1957, public) of the daily GMV series with
    * α = β = 1/2, plus the 1-step-ahead forecast the capacity planner
    * reads: l_t = (x_t + l_{t−1} + b_{t−1}) div 2,
    * b_t = (l_t − l_{t−1} + b_{t−1}) div 2 — EXACT integer cents at
    * every step (truncating division matches DuckDB's `//` toward
    * zero, verified both engines), so the recursion replays
    * bit-for-bit. The fold is driver-side over the collected DAILY
    * series — O(calendar days), the bounded compress-then-scan
    * device (q_raking/pagerank discipline): the events table is
    * reduced by ONE distributed aggregate first; the driver never
    * holds more than the day count. The oracle runs the identical
    * recursion as a WITH RECURSIVE CTE. */
  private def holtForecast(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = events(s, dir)
      .groupBy(date_format(to_date(col("ts")), "yyyy-MM-dd").as("day"))
      .agg(sum((col("value").cast("decimal(18,2)") * 100).cast("long")).as("x"))
      .orderBy("day").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    var l = daily.head._2
    var b = 0L
    val rows = daily.zipWithIndex.map { case ((day, x), i) =>
      if (i > 0) {
        val nl = (x + l + b) / 2 // Long division truncates toward zero,
        val nb = (nl - l + b) / 2 // exactly like DuckDB's `//`
        l = nl; b = nb
      }
      (day, x, l, b, l + b)
    }
    rows.toSeq
      .toDF("day", "x_cents", "level_cents", "trend_cents", "forecast_cents")
  }

  private val holtForecastSql =
    """WITH RECURSIVE daily AS (
      |  SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
      |    CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
      |      AS BIGINT) AS x
      |  FROM events GROUP BY 1),
      |idx AS (SELECT row_number() OVER (ORDER BY day) AS t, day, x FROM daily),
      |h(t, day, x, l, b) AS (
      |  SELECT t, day, x, x, CAST(0 AS BIGINT) FROM idx WHERE t = 1
      |  UNION ALL
      |  SELECT i.t, i.day, i.x,
      |    CAST((i.x + h.l + h.b) // 2 AS BIGINT),
      |    CAST(((i.x + h.l + h.b) // 2 - h.l + h.b) // 2 AS BIGINT)
      |  FROM h JOIN idx i ON i.t = h.t + 1)
      |SELECT day, x AS x_cents, l AS level_cents, b AS trend_cents,
      |  CAST(l + b AS BIGINT) AS forecast_cents
      |FROM h""".stripMargin

  /** #361 SPRT — Wald's sequential probability-ratio test (Wald 1945,
    * public) over the daily purchase-rate series, the "stop the
    * experiment early" machinery: H0 p = p0 (the corpus's own global
    * rate) vs H1 p = 1.25·p0, boundaries ±ln 19 (α = β = 0.05). TWO
    * arms so BOTH boundaries are provably reachable at every SF (the
    * planted-probe discipline): arm 'null' scores the real stream —
    * its true rate IS p0, so the LLR drifts to accept_h0; arm 'shift'
    * plants extra successes on non-purchase rows via the
    * multiplicative hash at exactly the rate that lifts p to ~p1 —
    * drifts to accept_h1. Log-likelihoods quantize as ⌊ln(ppm)·1e6⌋
    * integers (the q_dsir device), so every per-day and cumulative
    * LLR is an exact BIGINT; the cumulative scan is a window over the
    * O(days) compressed series, never the raw table. */
  private def sprt(s: SparkSession, dir: String): DataFrame = {
    val dayCol = date_format(to_date(col("ts")), "yyyy-MM-dd")
    val daily = events(s, dir)
      .select(dayCol.as("day"),
        (col("event_type") === "purchase").cast("long").as("__pur"),
        expr(s"${multHashExpr("event_id")} % 1000000").as("__h"))
    val tot = daily.agg(count(lit(1)).as("__n"), sum("__pur").as("__s"))
      .select(expr("greatest(1, (__s * 1000000) div __n)").as("__p0"))
      .select(col("__p0"),
        expr("least(999999, (__p0 * 5) div 4)").as("__p1"))
      .select(col("__p0"), col("__p1"),
        // planted extra-success rate among non-purchases: lifts the
        // shift arm's total success rate to ~p1
        expr("((__p1 - __p0) * 1000000) div (1000000 - __p0)").as("__q"))
    val arms = daily.crossJoin(broadcast(tot))
      .select(col("day"), col("__p0"), col("__p1"),
        explode(expr(
          """array(
            |  struct('null' AS arm, __pur AS succ),
            |  struct('shift' AS arm,
            |    CASE WHEN __pur = 1 OR __h < __q THEN 1 ELSE 0 END AS succ))"""
            .stripMargin.replace("\n", " "))).as("e"))
      .select(col("day"), col("__p0"), col("__p1"),
        col("e.arm").as("arm"), col("e.succ").as("__succ"))
    val perDay = arms.groupBy("arm", "day", "__p0", "__p1")
      .agg(count(lit(1)).as("n_trials"), sum("__succ").as("n_success"))
      .withColumn("llr_micro", expr(
        s"n_success * (${lnQ("__p1")} - ${lnQ("__p0")})" +
          s" + (n_trials - n_success) * (${lnQ("1000000 - __p1")} - ${lnQ("1000000 - __p0")})"))
    perDay
      .withColumn("cum_llr_micro", sum("llr_micro").over(
        Window.partitionBy("arm").orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("decision", expr(
        "CASE WHEN cum_llr_micro >= 2944439 THEN 'accept_h1'" +
          " WHEN cum_llr_micro <= -2944439 THEN 'accept_h0'" +
          " ELSE 'continue' END"))
      .select("arm", "day", "n_trials", "n_success", "llr_micro",
        "cum_llr_micro", "decision")
  }

  private lazy val sprtSql = {
    s"""WITH d AS (
       |  SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
       |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pur,
       |    ${multHashDuck("event_id")} % 1000000 AS h
       |  FROM events),
       |t0 AS (SELECT greatest(1, (sum(pur) * 1000000) // count(*)) AS p0
       |       FROM d),
       |t1 AS (SELECT p0, least(999999, (p0 * 5) // 4) AS p1 FROM t0),
       |t AS (SELECT p0, p1,
       |        ((p1 - p0) * 1000000) // (1000000 - p0) AS q FROM t1),
       |arms AS (
       |  SELECT d.day, t.p0, t.p1, a.arm,
       |    CASE WHEN a.arm = 'null' THEN d.pur
       |         WHEN d.pur = 1 OR d.h < t.q THEN 1 ELSE 0 END AS succ
       |  FROM d CROSS JOIN t CROSS JOIN (VALUES ('null'), ('shift')) a(arm)),
       |pd AS (
       |  SELECT arm, day, p0, p1, CAST(count(*) AS BIGINT) AS n_trials,
       |    CAST(sum(succ) AS BIGINT) AS n_success
       |  FROM arms GROUP BY 1, 2, 3, 4),
       |l AS (
       |  SELECT arm, day, n_trials, n_success,
       |    n_success * (${lnQ("p1")} - ${lnQ("p0")})
       |      + (n_trials - n_success)
       |        * (${lnQ("1000000 - p1")} - ${lnQ("1000000 - p0")}) AS llr_micro
       |  FROM pd)
       |SELECT arm, day, n_trials, n_success, llr_micro,
       |  CAST(sum(llr_micro) OVER (PARTITION BY arm ORDER BY day
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS cum_llr_micro,
       |  CASE WHEN CAST(sum(llr_micro) OVER (PARTITION BY arm ORDER BY day
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      >= 2944439 THEN 'accept_h1'
       |    WHEN CAST(sum(llr_micro) OVER (PARTITION BY arm ORDER BY day
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      <= -2944439 THEN 'accept_h0'
       |    ELSE 'continue' END AS decision
       |FROM l""".stripMargin
  }

  /** #369 Nelson–Aalen cumulative hazard — the counting-process
    * companion to #226 Kaplan–Meier, on the SAME per-user tenure
    * compression (distinct purchase days → lifespan → O(tenure-days)
    * risk table): Ĥ(t) = Σ_{tᵢ≤t} dᵢ/nᵢ with the Poisson variance
    * Σ dᵢ/nᵢ², each term ONE non-negative integral division (ppm /
    * ppb) so the cumulative sums are exact integers cross-engine.
    * Windows run over the POST-AGGREGATE O(days) frame (the documented
    * compress-then-scan device — never a raw-table global window);
    * nᵢ² stages through DECIMAL(38) so the variance term survives
    * 1e12 users at risk. */
  private def nelsonAalen(s: SparkSession, dir: String): DataFrame = {
    val ud = events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), to_date(col("ts")).as("d"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val life = ud.groupBy("user_id").agg(min("d").as("__d0"), max("d").as("__d1"))
    val gmax = ud.agg(max("d").as("__gmax"))
    val ten = life.crossJoin(broadcast(gmax))
      .select(expr("CAST(datediff(__d1, __d0) AS INT)").as("tenure_d"),
        (col("__d1") < col("__gmax")).cast("long").as("__churn"))
      .groupBy("tenure_d")
      .agg(count(lit(1)).as("__n_end"), sum("__churn").as("n_churn"))
    val wDesc = Window.orderBy(desc("tenure_d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAsc = Window.orderBy("tenure_d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ten.withColumn("n_risk", sum("__n_end").over(wDesc))
      .withColumn("__h", expr("(n_churn * 1000000) div n_risk"))
      .withColumn("__v", expr(
        "CAST((CAST(n_churn AS DECIMAL(38,0)) * 1000000000)" +
          " div (CAST(n_risk AS DECIMAL(38,0)) * n_risk) AS BIGINT)"))
      .withColumn("cumhaz_ppm", sum("__h").over(wAsc))
      .withColumn("var_ppb", sum("__v").over(wAsc))
      .select(col("tenure_d"), col("n_risk"), col("n_churn"),
        col("cumhaz_ppm"), col("var_ppb"))
  }

  private val nelsonAalenSql =
    """WITH ud AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
      |  FROM events WHERE event_type = 'purchase'),
      |life AS (SELECT user_id, min(d) AS d0, max(d) AS d1 FROM ud GROUP BY 1),
      |g AS (SELECT max(d) AS gmax FROM ud),
      |ten AS (
      |  SELECT CAST(date_diff('day', d0, d1) AS INT) AS tenure_d,
      |    CAST(count(*) AS BIGINT) AS n_end,
      |    CAST(sum(CAST(d1 < g.gmax AS BIGINT)) AS BIGINT) AS n_churn
      |  FROM life, g GROUP BY 1),
      |risk AS (
      |  SELECT tenure_d, n_end, n_churn,
      |    CAST(sum(n_end) OVER (ORDER BY tenure_d DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS n_risk
      |  FROM ten),
      |term AS (
      |  SELECT tenure_d, n_risk, n_churn,
      |    (n_churn * 1000000) // n_risk AS h,
      |    CAST((CAST(n_churn AS HUGEINT) * 1000000000)
      |         // (CAST(n_risk AS HUGEINT) * n_risk) AS BIGINT) AS v
      |  FROM risk)
      |SELECT tenure_d, n_risk, n_churn,
      |  CAST(sum(h) OVER (ORDER BY tenure_d
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS cumhaz_ppm,
      |  CAST(sum(v) OVER (ORDER BY tenure_d
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS var_ppb
      |FROM term""".stripMargin

  /** #375 Bradley–Terry strengths — rank event types by pairwise
    * daily-count "wins" (the preference-learning primitive behind
    * LLM reward-model data curation; Hunter 2004's MM algorithm,
    * public). Matches are built DISTRIBUTED (one daily groupBy, then a
    * bounded per-day pair explode over the O(types) count map); the MM
    * iteration p ← W / Σ_j n_ij/(p+p_j) runs 3 unrolled rounds on the
    * O(types²) aggregate — a bounded driver combine, the documented
    * pagerank/raking device — in ppm fixed point: each round is one
    * integral division per opponent pair plus one rescale to keep
    * Σp = K·1e6 (MM is scale-invariant; pinning the scale makes the
    * fixed point unique and the oracle replay exact). */
  private def bradleyTerry(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = events(s, dir)
      .groupBy(to_date(col("ts")).as("d"), col("event_type").as("t"))
      .agg(count(lit(1)).as("c"))
    val matches = daily.as("a").join(daily.as("b"),
        col("a.d") === col("b.d") && col("a.t") < col("b.t"))
      .filter(col("a.c") =!= col("b.c"))
      .select(col("a.t").as("ta"), col("b.t").as("tb"),
        (col("a.c") > col("b.c")).cast("long").as("wa"))
      .groupBy("ta", "tb")
      .agg(count(lit(1)).as("n"), sum("wa").as("wa"))
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getLong(3)))
    // O(types²) driver combine (the pagerank/raking device): MM rounds
    val types = matches.flatMap(m => Seq(m._1, m._2)).distinct.sorted
    val wins = types.map(t => t -> (
      matches.filter(_._1 == t).map(_._4).sum +
        matches.filter(_._2 == t).map(m => m._3 - m._4).sum)).toMap
    val nij = matches.flatMap(m =>
      Seq(((m._1, m._2), m._3), ((m._2, m._1), m._3))).toMap
    var p = types.map(t => t -> 1000000L).toMap
    for (_ <- 1 to 3) {
      val unnorm = types.map { t =>
        val den = types.filter(_ != t).map { u =>
          nij.get((t, u)).fold(0L)(n => (n * 1000000L * 1000000L) / (p(t) + p(u)))
        }.sum
        t -> (if (den == 0) p(t) else (wins(t) * 1000000L * 1000000L) / den)
      }.toMap
      val tot = unnorm.values.sum
      p = unnorm.map { case (t, v) =>
        t -> (BigInt(v) * types.length * 1000000 / tot).toLong
      }
    }
    types.map(t => (t, wins(t), p(t))).toSeq
      .toDF("event_type", "wins", "strength_ppm")
  }

  private val bradleyTerrySql = {
    // unrolled MM rounds over the O(types²) match table
    def round(i: Int): String =
      s"""u$i AS (
         |  SELECT t.t,
         |    CASE WHEN coalesce(d.den, 0) = 0 THEN p${i - 1}.p
         |      ELSE (w.w * 1000000 * 1000000) // d.den END AS up
         |  FROM ty t
         |  JOIN p${i - 1} ON p${i - 1}.t = t.t
         |  JOIN wins w ON w.t = t.t
         |  LEFT JOIN (
         |    SELECT m.ta AS t,
         |      sum((m.n * 1000000 * 1000000)
         |          // (pa.p + pb.p)) AS den
         |    FROM mm m
         |    JOIN p${i - 1} pa ON pa.t = m.ta
         |    JOIN p${i - 1} pb ON pb.t = m.tb
         |    GROUP BY 1) d ON d.t = t.t),
         |s$i AS (SELECT sum(up) AS tot, count(*) AS k FROM u$i),
         |p$i AS (
         |  SELECT u.t,
         |    CAST((CAST(u.up AS HUGEINT) * s$i.k * 1000000) // s$i.tot
         |      AS BIGINT) AS p
         |  FROM u$i u, s$i)""".stripMargin
    s"""WITH daily AS (
       |  SELECT CAST(ts AS DATE) AS d, event_type AS t, count(*) AS c
       |  FROM events GROUP BY 1, 2),
       |m0 AS (
       |  SELECT a.t AS ta, b.t AS tb,
       |    CAST(a.c > b.c AS BIGINT) AS wa
       |  FROM daily a JOIN daily b ON a.d = b.d AND a.t < b.t
       |  WHERE a.c <> b.c),
       |pairs AS (
       |  SELECT ta, tb, count(*) AS n, sum(wa) AS wa FROM m0 GROUP BY 1, 2),
       |mm AS (
       |  SELECT ta, tb, n FROM pairs
       |  UNION ALL SELECT tb, ta, n FROM pairs),
       |ty AS (SELECT DISTINCT ta AS t FROM mm),
       |wins AS (
       |  SELECT t.t, coalesce((SELECT sum(p.wa) FROM pairs p WHERE p.ta = t.t), 0)
       |    + coalesce((SELECT sum(p.n - p.wa) FROM pairs p WHERE p.tb = t.t), 0)
       |    AS w
       |  FROM ty t),
       |p0 AS (SELECT t, CAST(1000000 AS BIGINT) AS p FROM ty),
       |${(1 to 3).map(round).mkString(",\n")}
       |SELECT t AS event_type, CAST(w AS BIGINT) AS wins,
       |  CAST(p AS BIGINT) AS strength_ppm
       |FROM p3 JOIN wins USING (t)""".stripMargin
  }

  /** #381 rank-1 ALS — one-factor matrix factorization of the
    * user × event-type count matrix (the distributed-recommender
    * primitive; Koren et al., public), 2 alternating rounds in ppm
    * fixed point: items init at 1e6, then u = (Σ_obs r·v)·1e6 div
    * (Σ_obs v² div 1e6) per user and symmetrically for items — every
    * update is two integral divisions on DECIMAL(38)-staged folds, so
    * the alternation replays exactly. USER factors stay distributed
    * (groupBy user against the O(types) broadcast item vector —
    * never collected); only the O(types) item vector crosses to the
    * driver (the pagerank device). Output: item factors + per-item
    * interaction mass. */
  private def alsFactor(s: SparkSession, dir: String): DataFrame = {
    val r = events(s, dir)
      .groupBy(col("user_id"), col("event_type").as("t"))
      .agg(count(lit(1)).as("r"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var v: Map[String, Long] =
      r.select("t").distinct().collect().map(_.getString(0))
        .map(t => t -> 1000000L).toMap
    var users: DataFrame = null
    for (_ <- 1 to 2) {
      val vdf = broadcast(s.createDataFrame(v.toSeq).toDF("t", "v"))
      users = r.join(vdf, Seq("t"))
        .groupBy("user_id")
        .agg(expr("""CAST((sum(CAST(r AS DECIMAL(38,0)) * v) * 1000000)
                     div greatest(sum(CAST(v AS DECIMAL(38,0)) * v) div 1000000, 1)
                     AS BIGINT)""").as("u"))
      v = r.join(users, Seq("user_id"))
        .groupBy("t")
        .agg(expr("""CAST((sum(CAST(r AS DECIMAL(38,0)) * u) * 1000000)
                     div greatest(sum(CAST(u AS DECIMAL(38,0)) * u) div 1000000, 1)
                     AS BIGINT)""").as("v"))
        .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    }
    val mass = r.groupBy("t").agg(sum("r").as("n_events"))
    broadcast(s.createDataFrame(v.toSeq).toDF("t", "v"))
      .join(mass, Seq("t"))
      .select(col("t").as("event_type"), col("n_events"),
        col("v").as("v_ppm"))
  }

  private val alsFactorSql = {
    def userRound(i: Int): String =
      s"""u$i AS (
         |  SELECT user_id,
         |    CAST((sum(CAST(r.r AS HUGEINT) * v.v) * 1000000)
         |         // greatest(sum(CAST(v.v AS HUGEINT) * v.v) // 1000000, 1)
         |      AS BIGINT) AS u
         |  FROM r JOIN v${i - 1} v USING (t) GROUP BY 1),
         |v$i AS (
         |  SELECT t,
         |    CAST((sum(CAST(r.r AS HUGEINT) * u.u) * 1000000)
         |         // greatest(sum(CAST(u.u AS HUGEINT) * u.u) // 1000000, 1)
         |      AS BIGINT) AS v
         |  FROM r JOIN u$i u USING (user_id) GROUP BY 1)""".stripMargin
    s"""WITH r AS (
       |  SELECT user_id, event_type AS t, count(*) AS r
       |  FROM events GROUP BY 1, 2),
       |v0 AS (SELECT DISTINCT t, CAST(1000000 AS BIGINT) AS v FROM r),
       |${(1 to 2).map(userRound).mkString(",\n")}
       |SELECT v2.t AS event_type,
       |  CAST(m.n_events AS BIGINT) AS n_events,
       |  CAST(v2.v AS BIGINT) AS v_ppm
       |FROM v2 JOIN (SELECT t, sum(r) AS n_events FROM r GROUP BY 1) m
       |USING (t)""".stripMargin
  }

  /** #388 event-study curve — mean user activity by day RELATIVE to
    * each user's first purchase (r ∈ [−5, +5]): the
    * pre-trend/post-effect panel every behavioral causal claim gets
    * checked against (the dynamic sibling of #331 DID). First-purchase
    * anchors are one grouped min; the relative-day projection is
    * map-side after one equi-join on user; means are exact ppm
    * (events·1e6 div users-with-any-event — the SHARED denominator, so
    * the curve's shape is comparable across r). */
  private def eventStudy(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("d"),
        col("event_type"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val anchor = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id").agg(min("d").as("__d0"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nUsers = anchor.count()
    ev.join(anchor, Seq("user_id"))
      .select(expr("CAST(datediff(d, __d0) AS LONG)").as("r"))
      .filter(col("r").between(-5, 5))
      .groupBy("r").agg(count(lit(1)).as("n_events"))
      .select(col("r"), col("n_events"),
        expr(s"(n_events * 1000000) div $nUsers").as("events_per_user_ppm"))
  }

  private val eventStudySql =
    """WITH ev AS (
      |  SELECT user_id, CAST(ts AS DATE) AS d, event_type FROM events),
      |anchor AS (
      |  SELECT user_id, min(d) AS d0 FROM ev
      |  WHERE event_type = 'purchase' GROUP BY 1),
      |nu AS (SELECT count(*) AS n FROM anchor),
      |r AS (
      |  SELECT CAST(date_diff('day', a.d0, e.d) AS BIGINT) AS r
      |  FROM ev e JOIN anchor a USING (user_id))
      |SELECT r, CAST(count(*) AS BIGINT) AS n_events,
      |  CAST((count(*) * 1000000) // nu.n AS BIGINT) AS events_per_user_ppm
      |FROM r, nu
      |WHERE r BETWEEN -5 AND 5
      |GROUP BY r, nu.n""".stripMargin

  /** #391 histogram best-split — the GBDT/decision-tree primitive
    * (LightGBM's histogram split finding, public): bin the price
    * feature into 32 equal-width bins, prefix-scan the (pos, n)
    * histogram, and score every boundary by weighted-Gini gain where
    * each side's impurity n − (pos²+neg²)/n quantizes to micro by ONE
    * integral division (deterministic comparisons — no rational
    * arithmetic). One binning groupBy over the corpus; the 31-split
    * scan runs on the post-aggregate O(bins) frame. The categorical
    * sibling is #237 info gain; this is the threshold-search path. */
  private def bestSplit(s: SparkSession, dir: String): DataFrame = {
    val o = parallelize(s, t(s, dir, "orders"))
      .select(
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("c"),
        (col("o_orderstatus") === "F").cast("long").as("y"))
    val mx = o.agg(max("c").as("__mx"))
    val bins = o.crossJoin(broadcast(mx))
      .select(expr("least((c * 32) div (__mx + 1), 31)").as("bin"), col("y"))
      .groupBy("bin").agg(count(lit(1)).as("n"), sum("y").as("pos"))
    val w = Window.orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = bins.agg(sum("n").as("__tn"), sum("pos").as("__tp"))
    def gini(n: String, p: String): String =
      s"""($n * 1000000 - ((CAST($p AS DECIMAL(38,0)) * $p
         | + CAST(($n - $p) AS DECIMAL(38,0)) * ($n - $p)) * 1000000)
         | div greatest($n, 1))""".stripMargin.replace("\n", " ")
    bins
      .withColumn("nl", sum("n").over(w))
      .withColumn("posl", sum("pos").over(w))
      .crossJoin(broadcast(tot))
      .filter(col("bin") < 31 && col("nl") > 0 && col("nl") < col("__tn"))
      .select(col("bin").cast("long").as("split_bin"),
        col("nl").as("n_left"), col("posl").as("pos_left"),
        expr(s"""CAST(${gini("__tn", "__tp")}
                 - ${gini("nl", "posl")}
                 - ${gini("(__tn - nl)", "(__tp - posl)")} AS BIGINT)""")
          .as("gain_micro"))
  }

  private val bestSplitSql = {
    def gini(n: String, p: String): String =
      s"""($n * 1000000 - ((CAST($p AS HUGEINT) * $p
         | + CAST(($n - $p) AS HUGEINT) * ($n - $p)) * 1000000)
         | // greatest($n, 1))""".stripMargin.replace("\n", " ")
    s"""WITH o AS (
       |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
       |      AS c,
       |    CAST(o_orderstatus = 'F' AS BIGINT) AS y
       |  FROM orders),
       |mx AS (SELECT max(c) AS mx FROM o),
       |bins AS (
       |  SELECT least((c * 32) // (mx + 1), 31) AS bin,
       |    count(*) AS n, sum(y) AS pos
       |  FROM o, mx GROUP BY 1),
       |tot AS (SELECT sum(n) AS tn, sum(pos) AS tp FROM bins),
       |pre AS (
       |  SELECT bin,
       |    sum(n) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
       |                 AND CURRENT ROW) AS nl,
       |    sum(pos) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
       |                   AND CURRENT ROW) AS posl
       |  FROM bins)
       |SELECT CAST(bin AS BIGINT) AS split_bin,
       |  CAST(nl AS BIGINT) AS n_left, CAST(posl AS BIGINT) AS pos_left,
       |  CAST(${gini("tot.tn", "tot.tp")} - ${gini("pre.nl", "pre.posl")}
       |       - ${gini("(tot.tn - pre.nl)", "(tot.tp - pre.posl)")}
       |    AS BIGINT) AS gain_micro
       |FROM pre, tot
       |WHERE bin < 31 AND nl > 0 AND nl < tot.tn""".stripMargin
  }

  /** #392 log-rank test — THE two-sample survival comparison
    * (Mantel–Cox; completes the #226 KM / #369 Nelson–Aalen family):
    * do users whose FIRST event was a purchase churn differently from
    * the rest? Cohorts share the KM tenure compression; at each event
    * time the expected-death and variance terms quantize by one
    * integral division each (e₁ in ppm, v in ppb — both non-negative,
    * DECIMAL(38)-staged: d·n₁·n₂·(n−d) is 4 corpus-scale factors),
    * fold exactly, and the final χ²(1) is one more division. Windows
    * run over the post-aggregate O(tenure-days) frame. */
  private def logrank(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("d"),
        col("event_type"), col("ts"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val firstType = ev.groupBy("user_id")
      .agg(min(struct(col("ts"), col("event_type"))).as("__f"))
      .select(col("user_id"),
        (col("__f.event_type") === "purchase").cast("int").as("grp"))
    val life = ev.select("user_id", "d").distinct()
      .groupBy("user_id").agg(min("d").as("__d0"), max("d").as("__d1"))
      .join(firstType, Seq("user_id"))
    val gmax = ev.agg(max("d").as("__gmax"))
    val ten = life.crossJoin(broadcast(gmax))
      .select(expr("CAST(datediff(__d1, __d0) AS INT)").as("t"),
        col("grp"), (col("__d1") < col("__gmax")).cast("long").as("__churn"))
      .groupBy("t")
      .agg(count(lit(1)).as("__end"), sum("__churn").as("d"),
        sum(when(col("grp") === 1, 1L).otherwise(0L)).as("__end1"),
        sum(when(col("grp") === 1, col("__churn")).otherwise(0L)).as("d1"))
    val wDesc = Window.orderBy(desc("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val risk = ten
      .withColumn("n", sum("__end").over(wDesc))
      .withColumn("n1", sum("__end1").over(wDesc))
      .filter(col("d") > 0 && col("n") > 1)
    risk
      .select(col("d"), col("d1"), col("n"), col("n1"),
        expr("(CAST(d AS DECIMAL(38,0)) * n1 * 1000000) div n").as("__e1"),
        expr("""CAST((CAST(d AS DECIMAL(38,0)) * n1 * (n - n1) * (n - d)
                 * 1000000000)
                div (CAST(n AS DECIMAL(38,0)) * n * (n - 1)) AS BIGINT)""")
          .as("__v"))
      .agg(count(lit(1)).as("n_times"), sum("d1").as("obs1"),
        sum("__e1").as("__se1"), sum("__v").as("__sv"))
      .select(col("n_times"), col("obs1"),
        expr("CAST(__se1 div 1000000 AS BIGINT)").as("exp1_floor"),
        // the squared numerator reaches ~1e24 at sf10 (long overflow,
        // the r12 sf10 sweep's catch) -- DECIMAL(38) end to end
        expr("""CAST(((CAST(obs1 AS DECIMAL(38,0)) * 1000000 - __se1)
                 * (CAST(obs1 AS DECIMAL(38,0)) * 1000000 - __se1)
                 * 1000)
                div greatest(CAST(__sv AS DECIMAL(38,0)) * 1000, 1) AS BIGINT)""")
          .as("chi2_milli"))
  }

  private val logrankSql =
    """WITH ev AS (
      |  SELECT user_id, CAST(ts AS DATE) AS d, event_type, ts FROM events),
      |ft AS (
      |  SELECT user_id,
      |    CAST((min(struct_pack(ts := ts, et := event_type))).et = 'purchase'
      |      AS INT) AS grp
      |  FROM ev GROUP BY 1),
      |life AS (
      |  SELECT e.user_id, min(e.d) AS d0, max(e.d) AS d1, any_value(f.grp)
      |      AS grp
      |  FROM (SELECT DISTINCT user_id, d FROM ev) e
      |  JOIN ft f USING (user_id) GROUP BY 1),
      |g AS (SELECT max(d) AS gmax FROM ev),
      |ten AS (
      |  SELECT CAST(date_diff('day', d0, d1) AS INT) AS t,
      |    count(*) AS e_all, sum(CAST(d1 < g.gmax AS BIGINT)) AS d,
      |    sum(grp) AS e1,
      |    sum(CASE WHEN grp = 1 THEN CAST(d1 < g.gmax AS BIGINT) ELSE 0 END)
      |      AS d1
      |  FROM life, g GROUP BY 1),
      |risk AS (
      |  SELECT t, d, d1,
      |    sum(e_all) OVER (ORDER BY t DESC ROWS BETWEEN UNBOUNDED PRECEDING
      |                     AND CURRENT ROW) AS n,
      |    sum(e1) OVER (ORDER BY t DESC ROWS BETWEEN UNBOUNDED PRECEDING
      |                  AND CURRENT ROW) AS n1
      |  FROM ten),
      |term AS (
      |  SELECT d, d1, n, n1,
      |    (CAST(d AS HUGEINT) * n1 * 1000000) // n AS e1q,
      |    CAST((CAST(d AS HUGEINT) * n1 * (n - n1) * (n - d) * 1000000000)
      |         // (CAST(n AS HUGEINT) * n * (n - 1)) AS BIGINT) AS v
      |  FROM risk WHERE d > 0 AND n > 1),
      |a AS (
      |  SELECT count(*) AS n_times, sum(d1) AS obs1, sum(e1q) AS se1,
      |    sum(v) AS sv
      |  FROM term)
      |SELECT CAST(n_times AS BIGINT) AS n_times, CAST(obs1 AS BIGINT) AS obs1,
      |  CAST(se1 // 1000000 AS BIGINT) AS exp1_floor,
      |  CAST(((obs1 * 1000000 - se1) * (obs1 * 1000000 - se1) * 1000)
      |       // greatest(sv * 1000, 1) AS BIGINT) AS chi2_milli
      |FROM a""".stripMargin

  /** #398 event-type trend — per-type daily-count slope on the dense
    * zero-filled day grid (the balance trick of #387: every type
    * shares the same x-moments, so only the numerator varies and each
    * slope is ONE sign-split micro division). The monitoring read:
    * which event types are growing/shrinking per day? */
  private def typeTrend(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .groupBy(col("event_type").as("ty"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("c"))
    val days = daily.select("d").distinct()
    val d0 = days.agg(min("d").as("__d0"))
    val idx = days.crossJoin(broadcast(d0))
      .select(col("d"), expr("CAST(datediff(d, __d0) AS LONG)").as("x"))
    val grid = daily.select("ty").distinct().crossJoin(broadcast(idx))
    val cells = grid.join(daily, Seq("ty", "d"), "left")
      .select(col("ty"), col("x"), coalesce(col("c"), lit(0L)).as("y"))
    cells.groupBy("ty")
      .agg(count(lit(1)).as("nd"), sum("x").as("sx"),
        sum(expr("x * x")).as("sxx"), sum("y").as("sy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"))
      .select(col("ty").as("event_type"), col("sy").as("n_events"),
        expr(sdivPpm(
          "CAST(nd AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy",
          "CAST(nd AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx",
          duck = false)).cast("long").as("slope_micro"))
  }

  private val typeTrendSql = {
    s"""WITH daily AS (
       |  SELECT event_type AS ty, CAST(ts AS DATE) AS d, count(*) AS c
       |  FROM events GROUP BY 1, 2),
       |d0 AS (SELECT min(d) AS d0 FROM (SELECT DISTINCT d FROM daily)),
       |idx AS (
       |  SELECT d, CAST(date_diff('day', d0.d0, d) AS BIGINT) AS x
       |  FROM (SELECT DISTINCT d FROM daily), d0),
       |grid AS (
       |  SELECT t.ty, idx.d, idx.x
       |  FROM (SELECT DISTINCT ty FROM daily) t, idx),
       |cells AS (
       |  SELECT g.ty, g.x, coalesce(daily.c, 0) AS y
       |  FROM grid g LEFT JOIN daily ON daily.ty = g.ty AND daily.d = g.d),
       |m AS (
       |  SELECT ty, count(*) AS nd, sum(x) AS sx, sum(x * x) AS sxx,
       |    sum(y) AS sy, sum(CAST(x AS HUGEINT) * y) AS sxy
       |  FROM cells GROUP BY 1)
       |SELECT ty AS event_type, CAST(sy AS BIGINT) AS n_events,
       |  CAST(${sdivPpm("CAST(nd AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy",
            "CAST(nd AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx", duck = true)}
       |    AS BIGINT) AS slope_micro
       |FROM m""".stripMargin
  }

  /** #400 Croston intermittent-demand forecast — the supply-chain
    * estimator for sparse series (Croston 1972, public; #221's
    * seasonal-naive and #357's Holt assume dense demand): daily counts
    * of big-ticket purchases (value ≥ 250, ~p99 — genuinely intermittent: demand on ~40% of days),
    * size and interval smoothed separately with the dyadic α = 1/2
    * (exact long halving, the #357 discipline), forecast = 1000·z/p
    * per demand day. The corpus-scale work is one filtered daily
    * groupBy; the recursion runs on the collected O(demand-days)
    * series (bounded driver scan, replayed by a RECURSIVE CTE). */
  private def croston(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = events(s, dir)
      .filter(col("event_type") === "purchase" && col("value") >= 250)
      .groupBy(date_format(to_date(col("ts")), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("x"))
      .orderBy("day").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val d0 = java.time.LocalDate.parse(daily.head._1)
    var z = daily.head._2
    var p = 1L
    var prevT = 0L
    val rows = daily.zipWithIndex.map { case ((day, x), i) =>
      val t = java.time.temporal.ChronoUnit.DAYS
        .between(d0, java.time.LocalDate.parse(day))
      if (i == 0) { p = t + 1 }
      else {
        val q = t - prevT
        z = (z + x) / 2
        p = (p + q) / 2
      }
      prevT = t
      (day, x, z, p, z * 1000L / p)
    }
    rows.toSeq.toDF("day", "demand", "z_level", "p_interval", "forecast_milli")
  }

  private val crostonSql =
    """WITH RECURSIVE daily AS (
      |  SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
      |    count(*) AS x
      |  FROM events WHERE event_type = 'purchase' AND value >= 250
      |  GROUP BY 1),
      |d0 AS (SELECT min(day) AS d0 FROM daily),
      |idx AS (
      |  SELECT row_number() OVER (ORDER BY day) AS i, day, x,
      |    CAST(date_diff('day', CAST(d0.d0 AS DATE), CAST(day AS DATE))
      |      AS BIGINT) AS t
      |  FROM daily, d0),
      |h(i, day, x, t, z, p) AS (
      |  SELECT i, day, x, t, x, t + 1 FROM idx WHERE i = 1
      |  UNION ALL
      |  SELECT n.i, n.day, n.x, n.t,
      |    CAST((h.z + n.x) // 2 AS BIGINT),
      |    CAST((h.p + (n.t - h.t)) // 2 AS BIGINT)
      |  FROM h JOIN idx n ON n.i = h.i + 1)
      |SELECT day, CAST(x AS BIGINT) AS demand, CAST(z AS BIGINT) AS z_level,
      |  CAST(p AS BIGINT) AS p_interval,
      |  CAST((z * 1000) // p AS BIGINT) AS forecast_milli
      |FROM h""".stripMargin

  /** #404 DTW alignment — dynamic-time-warping distance between the
    * daily purchase and click activity shapes (Sakoe & Chiba 1978,
    * public; #342 cross-correlation assumes a RIGID lag — DTW aligns
    * elastically): both series normalize to exact ppm shares of their
    * own totals (scale-free comparison, integer |Δ| costs), then the
    * O(days²) DP — bounded by the calendar, never the corpus — runs
    * as a driver scan replayed by an anti-diagonal RECURSIVE CTE
    * (each level re-emits the previous diagonal, so the recursion
    * only ever holds two O(days) frontiers). Corpus-scale work: one
    * daily groupBy. */
  private def dtw(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def series(ty: String): Array[Long] = {
      val d = events(s, dir)
        .filter(col("event_type") === ty)
        .groupBy(to_date(col("ts")).as("d")).agg(count(lit(1)).as("c"))
        .orderBy("d").collect().map(_.getLong(1))
      val tot = d.sum
      d.map(c => c * 1000000L / tot)
    }
    val a = series("purchase")
    val b = series("click")
    val INF = Long.MaxValue / 4
    val dp = Array.fill(a.length + 1, b.length + 1)(INF)
    dp(0)(0) = 0L
    for (i <- 1 to a.length; j <- 1 to b.length)
      dp(i)(j) = math.abs(a(i - 1) - b(j - 1)) +
        math.min(dp(i - 1)(j - 1), math.min(dp(i - 1)(j), dp(i)(j - 1)))
    Seq((a.length.toLong, b.length.toLong, dp(a.length)(b.length),
      a.zip(b).map(p => math.abs(p._1 - p._2)).sum))
      .toDF("n_a", "n_b", "dtw_cost", "rigid_cost")
  }

  private val dtwSql =
    """WITH RECURSIVE sa AS (
      |  SELECT row_number() OVER (ORDER BY d) AS i, c FROM (
      |    SELECT CAST(ts AS DATE) AS d, count(*) AS c FROM events
      |    WHERE event_type = 'purchase' GROUP BY 1)),
      |ta AS (SELECT sum(c) AS t FROM sa),
      |a AS (SELECT i, (c * 1000000) // ta.t AS v FROM sa, ta),
      |sb AS (
      |  SELECT row_number() OVER (ORDER BY d) AS i, c FROM (
      |    SELECT CAST(ts AS DATE) AS d, count(*) AS c FROM events
      |    WHERE event_type = 'click' GROUP BY 1)),
      |tb AS (SELECT sum(c) AS t FROM sb),
      |b AS (SELECT i, (c * 1000000) // tb.t AS v FROM sb, tb),
      |na AS (SELECT count(*) AS n FROM a),
      |nb AS (SELECT count(*) AS n FROM b),
      |-- anti-diagonal DP: level d holds diagonals d and d-1 (re-emitted)
      |dp(d, i, j, cost) AS (
      |  SELECT CAST(2 AS BIGINT), CAST(1 AS BIGINT), CAST(1 AS BIGINT),
      |    abs(a.v - b.v)
      |  FROM a JOIN b ON a.i = 1 AND b.i = 1
      |  UNION ALL
      |  SELECT * FROM (
      |    WITH cur AS (SELECT * FROM dp)
      |    -- the level holds diagonals d (fresh, i+j=d) and d-1
      |    -- (carried); the three predecessor COORDINATES pin the
      |    -- membership — never the level tag
      |    SELECT c.d + 1, a.i, b.i,
      |      abs(a.v - b.v) + min(c.cost)
      |    FROM a, b, cur c
      |    WHERE a.i + b.i = c.d + 1
      |      AND ((c.i = a.i - 1 AND c.j = b.i - 1)
      |        OR (c.i = a.i - 1 AND c.j = b.i)
      |        OR (c.i = a.i AND c.j = b.i - 1))
      |    GROUP BY c.d + 1, a.i, b.i, a.v, b.v
      |    UNION ALL
      |    -- carry the newest diagonal forward one level so level d+1
      |    -- can see both d and d-1
      |    SELECT c.d + 1, c.i, c.j, c.cost FROM cur c, na, nb
      |    WHERE c.i + c.j = c.d AND c.d < na.n + nb.n))
      |SELECT CAST(na.n AS BIGINT) AS n_a, CAST(nb.n AS BIGINT) AS n_b,
      |  CAST((SELECT min(cost) FROM dp, na x, nb y
      |        WHERE dp.i = x.n AND dp.j = y.n) AS BIGINT) AS dtw_cost,
      |  CAST((SELECT sum(abs(a.v - b.v)) FROM a JOIN b USING (i)) AS BIGINT)
      |    AS rigid_cost
      |FROM na, nb""".stripMargin

  /** #409 newsvendor stocking level — the classic critical-fractile
    * solution q* = F⁻¹(cᵤ/(cᵤ+cₒ)) on the EXACT empirical demand
    * distribution (daily purchase counts), plus the realized expected
    * cost at q* and at the naive mean-demand stock — the "how much
    * does quantile thinking save" audit. Underage cᵤ = 3, overage
    * cₒ = 1 ⇒ the 75th percentile by exact rank selection (ceil
    * convention, O(days) frame); expected costs are exact integer
    * folds over the same compressed frame (cost(q) = Σ cₒ·max(q−d,0)
    * + cᵤ·max(d−q,0), milli-cost = ·1000 div n_days). */
  private def newsvendor(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .filter(col("event_type") === "purchase")
      .groupBy(to_date(col("ts")).as("d")).agg(count(lit(1)).as("x"))
      .select("x")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = daily.count()
    val kIdx = math.min((3 * n + 3) / 4, n) // ceil(0.75·n)
    // row_number over the O(days) post-aggregate frame
    val sorted = daily
      .withColumn("__r", row_number().over(Window.orderBy("x")))
    val qstar = sorted.filter(col("__r") === kIdx).select(col("x").as("q"))
    val mean = daily.agg(expr("sum(x) div count(1)").as("q"))
    def cost(qdf: DataFrame, tag: String): DataFrame =
      daily.crossJoin(broadcast(qdf))
        .agg(sum(expr("1 * greatest(q - x, 0) + 3 * greatest(x - q, 0)"))
          .as("__c"), first("q").as("q"))
        .select(col("q").as(s"${tag}_stock"),
          expr(s"(__c * 1000) div $n").as(s"${tag}_cost_milli"))
    cost(qstar, "fractile").crossJoin(broadcast(cost(mean, "mean")))
      .select(lit(n).as("n_days"), col("fractile_stock"),
        col("fractile_cost_milli"), col("mean_stock"),
        col("mean_cost_milli"))
  }

  private val newsvendorSql =
    """WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS d, count(*) AS x FROM events
      |  WHERE event_type = 'purchase' GROUP BY 1),
      |n AS (SELECT count(*) AS n, least((3 * count(*) + 3) // 4, count(*))
      |        AS k FROM daily),
      |q1 AS (
      |  SELECT x AS q FROM (
      |    SELECT x, row_number() OVER (ORDER BY x) AS r FROM daily), n
      |  WHERE r = n.k),
      |q2 AS (SELECT sum(x) // count(*) AS q FROM daily),
      |c1 AS (
      |  SELECT any_value(q1.q) AS stock,
      |    (sum(1 * greatest(q1.q - x, 0) + 3 * greatest(x - q1.q, 0)) * 1000)
      |      // any_value(n.n) AS cost
      |  FROM daily, q1, n),
      |c2 AS (
      |  SELECT any_value(q2.q) AS stock,
      |    (sum(1 * greatest(q2.q - x, 0) + 3 * greatest(x - q2.q, 0)) * 1000)
      |      // any_value(n.n) AS cost
      |  FROM daily, q2, n)
      |SELECT CAST(n.n AS BIGINT) AS n_days,
      |  CAST(c1.stock AS BIGINT) AS fractile_stock,
      |  CAST(c1.cost AS BIGINT) AS fractile_cost_milli,
      |  CAST(c2.stock AS BIGINT) AS mean_stock,
      |  CAST(c2.cost AS BIGINT) AS mean_cost_milli
      |FROM n, c1, c2""".stripMargin

  /** #412 Little's-law panel — the L = λW bookkeeping every capacity
    * plan rests on, from 30-minute-gap sessions: span, session count,
    * exact mean duration, the time-average concurrency L = Σdur/span
    * (one integral division), and PEAK concurrency via the
    * boundary-event prefix scan (+1 at start, −1 at end, running sum
    * on `PrefixSum.runningTotal`, max — a genuinely distributed sweep,
    * never a single-reducer window). Sessionization shares #29's
    * 30-minute-gap device (per-user window — bounded partitions). */
  private def littlesLaw(s: SparkSession, dir: String): DataFrame = {
    val gap = 1800L * 1000000L
    val byUser = Window.partitionBy("user_id").orderBy("__t", "event_id")
    val sess = events(s, dir)
      .withColumn("__t", unix_micros(col("ts")))
      .withColumn("__new",
        when(col("__t") - lag(col("__t"), 1).over(byUser) > gap, 1)
          .when(lag(col("__t"), 1).over(byUser).isNull, 1).otherwise(0))
      .withColumn("sid",
        sum(col("__new")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "sid")
      .agg(min("__t").as("st"), max("__t").as("en"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bounds = sess.agg(min("st").as("__t0"), max("en").as("__t1"),
      count(lit(1)).as("n"), sum(expr("CAST(en - st AS DECIMAL(38,0))"))
        .as("sd"))
    // boundary sweep for peak concurrency: unique order key = (t, kind,
    // user, sid); ends sort BEFORE starts at the same instant (a
    // closing session does not overlap one opening that microsecond)
    val events2 = sess.select(
        expr("st * 4 + 1").as("__ord"), lit(1L).as("__d"))
      .unionAll(sess.select(expr("(en + 1) * 4").as("__ord"),
        lit(-1L).as("__d")))
      .groupBy("__ord").agg(sum("__d").as("__d")) // unique order key
    val peak = PrefixSum.runningTotal(events2, "__ord", "__d")
      .agg(max("running_total").as("peak"))
    bounds.crossJoin(broadcast(peak))
      .select(col("n").as("n_sessions"),
        expr("__t1 - __t0").as("span_us"),
        expr("CAST(sd div n AS BIGINT)").as("mean_dur_us"),
        expr("CAST((sd * 1000) div greatest(__t1 - __t0, 1) AS BIGINT)")
          .as("l_avg_milli"),
        col("peak").as("peak_concurrent"))
  }

  private val littlesLawSql =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS t FROM events),
      |m AS (
      |  SELECT user_id, t,
      |    CASE WHEN t - lag(t) OVER (PARTITION BY user_id
      |        ORDER BY t, event_id) > 1800000000
      |      OR lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id)
      |        IS NULL THEN 1 ELSE 0 END AS nw
      |  FROM e),
      |sm AS (
      |  SELECT user_id, t,
      |    sum(nw) OVER (PARTITION BY user_id ORDER BY t
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM m),
      |sess AS (
      |  SELECT user_id, sid, min(t) AS st, max(t) AS en
      |  FROM sm GROUP BY 1, 2),
      |b AS (
      |  SELECT min(st) AS t0, max(en) AS t1, count(*) AS n,
      |    sum(CAST(en - st AS HUGEINT)) AS sd
      |  FROM sess),
      |ev AS (
      |  SELECT ord, sum(d) AS d FROM (
      |    SELECT st * 4 + 1 AS ord, CAST(1 AS BIGINT) AS d FROM sess
      |    UNION ALL
      |    SELECT (en + 1) * 4, CAST(-1 AS BIGINT) FROM sess)
      |  GROUP BY 1),
      |pk AS (
      |  SELECT max(r) AS peak FROM (
      |    SELECT sum(d) OVER (ORDER BY ord
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r
      |    FROM ev))
      |SELECT CAST(b.n AS BIGINT) AS n_sessions,
      |  CAST(b.t1 - b.t0 AS BIGINT) AS span_us,
      |  CAST(b.sd // b.n AS BIGINT) AS mean_dur_us,
      |  CAST((b.sd * 1000) // greatest(b.t1 - b.t0, 1) AS BIGINT)
      |    AS l_avg_milli,
      |  CAST(pk.peak AS BIGINT) AS peak_concurrent
      |FROM b, pk""".stripMargin

  /** #414 SLO burn rate — the multi-window error-budget burn panel
    * (Google SRE workbook, public): with a 99% success SLO (budget =
    * 1%), burn = observed error share / budget per trailing window
    * {1h, 6h, 24h, 720h} ending at the stream's max timestamp. One
    * pass: each event classifies into every window it falls in via a
    * 4-row broadcast range join (windows are literals — no reshuffle
    * per window); error share and burn are exact ppm/milli integral
    * divisions. The fast-burn (1h) vs slow-burn (24h) CONTRAST is the
    * panel's point — alert policies read both. */
  private def sloBurn(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = eventsMicros(s, dir)
      .select(col("ts_us"), (col("event_type") === "error").cast("long")
        .as("err"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val mx = ev.agg(max("ts_us").as("__mx"))
    val windows = Seq(1L, 6L, 24L, 720L).toDF("window_h")
    ev.crossJoin(broadcast(mx)).crossJoin(broadcast(windows))
      .filter(col("ts_us") > col("__mx") - col("window_h") * 3600L * 1000000L)
      .groupBy("window_h")
      .agg(count(lit(1)).as("n_events"), sum("err").as("n_err"))
      .select(col("window_h"), col("n_events"), col("n_err"),
        expr("(n_err * 1000000) div n_events").as("err_ppm"),
        // burn = err_share / budget (1%) in milli: ·1000 / 10000 ppm
        expr("((n_err * 1000000) div n_events) div 10").as("burn_milli"))
  }

  private val sloBurnSql =
    """WITH e AS (
      |  SELECT epoch_us(ts) AS t,
      |    CAST(event_type = 'error' AS BIGINT) AS err
      |  FROM events),
      |mx AS (SELECT max(t) AS mx FROM e),
      |w(window_h) AS (VALUES (1), (6), (24), (720))
      |SELECT CAST(w.window_h AS BIGINT) AS window_h,
      |  CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(sum(e.err) AS BIGINT) AS n_err,
      |  CAST((sum(e.err) * 1000000) // count(*) AS BIGINT) AS err_ppm,
      |  CAST(((sum(e.err) * 1000000) // count(*)) // 10 AS BIGINT)
      |    AS burn_milli
      |FROM e, mx, w
      |WHERE e.t > mx.mx - CAST(w.window_h AS BIGINT) * 3600 * 1000000
      |GROUP BY 1""".stripMargin

  /** #417 MTBF/MTTR panel — the reliability bookkeeping behind #414's
    * burn rates: global mean-time-between-failures needs NO sort
    * (errors are a point process: MTBF = span/(n−1), two aggregates
    * and one exact division), and the recovery-time proxy is the gap
    * from each error to the SAME user's next non-error event (per-user
    * partitioned window — bounded partitions), mean in exact µs.
    * Unrecovered trailing errors are counted, not imputed. */
  private def mtbf(s: SparkSession, dir: String): DataFrame = {
    val ev = eventsMicros(s, dir)
      .select(col("user_id"), col("event_id"), col("ts_us"),
        (col("event_type") === "error").as("e"))
    val errs = ev.filter(col("e"))
      .agg(count(lit(1)).as("n_err"), min("ts_us").as("__t0"),
        max("ts_us").as("__t1"))
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val rec = ev
      .withColumn("__nextOk", expr(
        "CASE WHEN e THEN null ELSE ts_us END"))
      .withColumn("__recAt", first(col("__nextOk"), ignoreNulls = true)
        .over(w.rowsBetween(1, Window.unboundedFollowing)))
      .filter(col("e"))
      .agg(count(lit(1)).as("__ne"),
        sum(expr("CASE WHEN __recAt IS NULL THEN 1 ELSE 0 END"))
          .as("n_unrecovered"),
        sum(expr("CASE WHEN __recAt IS NULL THEN CAST(0 AS DECIMAL(38,0))" +
          " ELSE CAST(__recAt - ts_us AS DECIMAL(38,0)) END")).as("__rt"))
    errs.crossJoin(broadcast(rec))
      .select(col("n_err"),
        expr("(__t1 - __t0) div greatest(n_err - 1, 1)").as("mtbf_us"),
        col("n_unrecovered"),
        expr("""CAST(__rt div greatest(__ne - n_unrecovered, 1) AS BIGINT)""")
          .as("mttr_us"))
  }

  private val mtbfSql =
    """WITH ev AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS t,
      |    event_type = 'error' AS e
      |  FROM events),
      |er AS (
      |  SELECT count(*) AS n_err, min(t) AS t0, max(t) AS t1
      |  FROM ev WHERE e),
      |rec AS (
      |  SELECT count(*) AS ne,
      |    sum(CASE WHEN recat IS NULL THEN 1 ELSE 0 END) AS n_unrec,
      |    sum(CASE WHEN recat IS NULL THEN CAST(0 AS HUGEINT)
      |        ELSE CAST(recat - t AS HUGEINT) END) AS rt
      |  FROM (
      |    SELECT t, e,
      |      min(CASE WHEN NOT e THEN t END) OVER (
      |        PARTITION BY user_id ORDER BY t, event_id
      |        ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS recat
      |    FROM ev)
      |  WHERE e)
      |SELECT CAST(er.n_err AS BIGINT) AS n_err,
      |  CAST((er.t1 - er.t0) // greatest(er.n_err - 1, 1) AS BIGINT)
      |    AS mtbf_us,
      |  CAST(rec.n_unrec AS BIGINT) AS n_unrecovered,
      |  CAST(rec.rt // greatest(rec.ne - rec.n_unrec, 1) AS BIGINT)
      |    AS mttr_us
      |FROM er, rec""".stripMargin

  /** #418 cold-start coverage — the recommender-eval audit #95's kNN
    * labeling and #381's ALS both presuppose: after a TEMPORAL split
    * (train = first 3/4 of the time span — cold-start is a time
    * phenomenon; the hash-split first cut left ZERO cold users at
    * every SF, a dead audit caught by the vacuity gate), what share
    * of test USERS and test (user, event-type) interactions were
    * never seen in training? Every 32nd user is additionally CLONED
    * into a test-only id (train rows dropped for the clone — the
    * planted-probe discipline), so the cold path provably fires.
    * Two left-anti joins and exact ppm divisions. */
  private def coldStart(s: SparkSession, dir: String): DataFrame = {
    val raw = eventsMicros(s, dir)
      .select(col("user_id"), col("event_type").as("it"), col("ts_us"))
    val span = raw.agg(min("ts_us").as("__t0"), max("ts_us").as("__t1"))
    val base = raw.crossJoin(broadcast(span))
      .select(col("user_id"), col("it"),
        (col("ts_us") < expr("__t0 + ((__t1 - __t0) * 3) div 4")).as("tr"))
    val clones = base.filter(!col("tr") &&
        expr(s"pmod(${multHashExpr("user_id")}, 32) = 0"))
      .select((col("user_id") + 1000000000L).as("user_id"), col("it"),
        col("tr"))
    val ev = base.unionAll(clones)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val trainU = ev.filter(col("tr")).select("user_id").distinct()
    val trainUI = ev.filter(col("tr")).select("user_id", "it").distinct()
    val testU = ev.filter(!col("tr")).select("user_id").distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val testUI = ev.filter(!col("tr")).select("user_id", "it").distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val coldU = testU.join(trainU, Seq("user_id"), "left_anti").count()
    val coldUI = testUI.join(trainUI, Seq("user_id", "it"), "left_anti").count()
    val (nU, nUI) = (testU.count(), testUI.count())
    import s.implicits._
    Seq((nU, coldU, coldU * 1000000L / math.max(nU, 1),
      nUI, coldUI, coldUI * 1000000L / math.max(nUI, 1)))
      .toDF("n_test_users", "n_cold_users", "cold_user_ppm",
        "n_test_pairs", "n_cold_pairs", "cold_pair_ppm")
  }

  private val coldStartSql =
    s"""WITH raw AS (
       |  SELECT user_id, event_type AS it, epoch_us(ts) AS t FROM events),
       |sp AS (SELECT min(t) AS t0, max(t) AS t1 FROM raw),
       |base AS (
       |  SELECT user_id, it,
       |    t < sp.t0 + ((sp.t1 - sp.t0) * 3) // 4 AS tr
       |  FROM raw, sp),
       |ev AS (
       |  SELECT * FROM base
       |  UNION ALL
       |  SELECT user_id + 1000000000, it, tr FROM base
       |  WHERE NOT tr AND ${multHashDuck("user_id")} % 32 = 0),
       |tu AS (SELECT DISTINCT user_id FROM ev WHERE tr),
       |tui AS (SELECT DISTINCT user_id, it FROM ev WHERE tr),
       |su AS (SELECT DISTINCT user_id FROM ev WHERE NOT tr),
       |sui AS (SELECT DISTINCT user_id, it FROM ev WHERE NOT tr),
       |cu AS (
       |  SELECT count(*) AS c FROM su
       |  WHERE NOT EXISTS (SELECT 1 FROM tu WHERE tu.user_id = su.user_id)),
       |cui AS (
       |  SELECT count(*) AS c FROM sui
       |  WHERE NOT EXISTS (SELECT 1 FROM tui
       |    WHERE tui.user_id = sui.user_id AND tui.it = sui.it)),
       |n AS (SELECT (SELECT count(*) FROM su) AS nu,
       |             (SELECT count(*) FROM sui) AS nui)
       |SELECT CAST(n.nu AS BIGINT) AS n_test_users,
       |  CAST(cu.c AS BIGINT) AS n_cold_users,
       |  CAST((cu.c * 1000000) // greatest(n.nu, 1) AS BIGINT)
       |    AS cold_user_ppm,
       |  CAST(n.nui AS BIGINT) AS n_test_pairs,
       |  CAST(cui.c AS BIGINT) AS n_cold_pairs,
       |  CAST((cui.c * 1000000) // greatest(n.nui, 1) AS BIGINT)
       |    AS cold_pair_ppm
       |FROM n, cu, cui""".stripMargin

  /** #424 Page–Hinkley drift detector over daily mean event value —
    * the classic sequential mean-shift test the #122 CUSUM family
    * lacks: m_T = Σ_{t≤T}(x_t − x̄_{1..t}) against its running
    * minimum, alarm when PH = m − min(m) exceeds λ = 3σ̂ (σ̂ from the
    * exact integer variance of the daily means — corpus-relative, so
    * the alarm threshold scales with the data, never a magic
    * constant). The fact collapses to the O(days) daily table first;
    * every fold is integer micro-units with (2a+b) div (2b) integral
    * rounding on positive operands; the bounded calendar windows are
    * the sanctioned compress-then-scan device. Fires naturally on
    * this corpus (max PH ≈ 6σ̂, measured). */
  private def pageHinkley(s: SparkSession, dir: String): DataFrame = {
    val d = events(s, dir)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("__n"),
        sum((col("value").cast("decimal(18,6)") * 1000000).cast("long"))
          .as("__s"))
      .withColumn("mean_micro", expr("(2 * __s + __n) div (2 * __n)"))
    val wPre = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    val scan = d
      .withColumn("__cs", sum(col("mean_micro")).over(wPre))
      .withColumn("__ct", count(lit(1)).over(wPre))
      .withColumn("__pm", expr("(2 * __cs + __ct) div (2 * __ct)"))
      .withColumn("__mt", sum(col("mean_micro") - col("__pm")).over(wPre))
      .withColumn("ph", (col("__mt") - min(col("__mt")).over(wPre))
        .cast("long"))
    val sig = d.agg(
      expr("""CAST(floor(sqrt(CAST(CAST(
             |  (count(*) * CAST(sum(CAST(mean_micro AS DECIMAL(38,0)) * mean_micro) AS DECIMAL(38,0))
             |   - CAST(sum(mean_micro) AS DECIMAL(38,0)) * sum(mean_micro))
             |  div (count(*) * count(*)) AS BIGINT) AS DOUBLE))) AS BIGINT)"""
        .stripMargin.replace("\n", " ")).as("__sigma"))
    scan.crossJoin(broadcast(sig))
      .select(col("day"), col("mean_micro"), col("ph"),
        (col("ph") > col("__sigma") * 3).as("alarmed"))
  }

  private val pageHinkleySql =
    """WITH d AS (
      |  SELECT strftime(ts, '%Y-%m-%d') AS day,
      |    CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT))
      |         AS BIGINT) AS s
      |  FROM events GROUP BY 1),
      |x AS (SELECT day, (2 * s + n) // (2 * n) AS mean_micro FROM d),
      |p AS (
      |  SELECT day, mean_micro,
      |    (2 * sum(mean_micro) OVER w + count(*) OVER w)
      |      // (2 * count(*) OVER w) AS pm
      |  FROM x WINDOW w AS (ORDER BY day ROWS UNBOUNDED PRECEDING)),
      |m AS (
      |  SELECT day, mean_micro,
      |    sum(mean_micro - pm) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
      |      AS mt
      |  FROM p),
      |ph AS (
      |  SELECT day, mean_micro,
      |    CAST(mt - min(mt) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
      |         AS BIGINT) AS ph
      |  FROM m),
      |sg AS (
      |  SELECT CAST(floor(sqrt(CAST(CAST(
      |    (count(*) * CAST(sum(CAST(mean_micro AS HUGEINT) * mean_micro) AS HUGEINT)
      |     - CAST(sum(mean_micro) AS HUGEINT) * sum(mean_micro))
      |    // (count(*) * count(*)) AS BIGINT) AS DOUBLE))) AS BIGINT)
      |    AS sigma
      |  FROM x)
      |SELECT day, mean_micro, ph, ph > sg.sigma * 3 AS alarmed
      |FROM ph, sg""".stripMargin

  /** #427 Theil's U2 forecast-accuracy ratio — is the #221
    * seasonal-naive model actually better than the no-change naive on
    * this series? U2 = √(SSE_model ÷ SSE_naive) over the SAME days
    * (model = y_{t−7}, benchmark = y_{t−1}, daily event counts;
    * U2 < 1 ⇒ the model earns its keep). Squared errors fold in
    * DECIMAL(38)/HUGEINT; the ratio quantizes to ppm by positive
    * integer division; √ via the BIGINT→DOUBLE floor(sqrt) device.
    * O(days) compress-then-scan. */
  private def theilU2(s: SparkSession, dir: String): DataFrame = {
    val d = events(s, dir)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n"))
    val w = Window.orderBy("day")
    d.withColumn("__l1", lag(col("n"), 1).over(w))
      .withColumn("__l7", lag(col("n"), 7).over(w))
      .filter(col("__l7").isNotNull)
      .agg(count(lit(1)).as("n_days"),
        sum(((col("n") - col("__l7")).cast("decimal(38,0)"))
          * (col("n") - col("__l7"))).as("__sm"),
        sum(((col("n") - col("__l1")).cast("decimal(38,0)"))
          * (col("n") - col("__l1"))).as("__sn"))
      .select(col("n_days"),
        expr("CAST((__sm * 1000000) div greatest(__sn, 1) AS BIGINT)")
          .as("u2sq_ppm"),
        expr("""CAST(floor(sqrt(CAST(CAST(
               |  (__sm * 1000000000000) div greatest(__sn, 1)
               |  AS BIGINT) AS DOUBLE))) AS BIGINT)"""
          .stripMargin.replace("\n", " ")).as("u2_micro"))
  }

  private val theilU2Sql =
    """WITH d AS (
      |  SELECT strftime(ts, '%Y-%m-%d') AS day,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1),
      |l AS (
      |  SELECT day, n,
      |    lag(n, 1) OVER (ORDER BY day) AS l1,
      |    lag(n, 7) OVER (ORDER BY day) AS l7
      |  FROM d),
      |f AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_days,
      |    sum(CAST(n - l7 AS HUGEINT) * (n - l7)) AS sm,
      |    sum(CAST(n - l1 AS HUGEINT) * (n - l1)) AS sn
      |  FROM l WHERE l7 IS NOT NULL)
      |SELECT n_days,
      |  CAST((sm * 1000000) // greatest(sn, 1) AS BIGINT) AS u2sq_ppm,
      |  CAST(floor(sqrt(CAST(CAST(
      |    (sm * 1000000000000) // greatest(sn, 1)
      |    AS BIGINT) AS DOUBLE))) AS BIGINT) AS u2_micro
      |FROM f""".stripMargin

  val rows: Seq[Q] = Seq(
    Q("q_skew_agg", skewAgg, skewAggSql),
    Q("q_events_window", eventsWindow, eventsWindowSql),
    Q("q_sessionize", sessionize, sessionizeSql),
    Q("q_asof_join", asofJoin, asofJoinSql),
    Q("q_json_extract", jsonExtract, jsonExtractSql),
    Q("q_moving_sum", movingSum, movingSumSql),
    Q("q_asof_tolerance", asofTolerance, asofToleranceSql),
    Q("q_stream_dedup", streamDedup, streamDedupSql),
    Q("q_histogram", histogram, histogramSql),
    Q("q_incremental_agg", incrementalAgg, incrementalAggSql),
    Q("q_range_join", rangeJoin, rangeJoinSql),
    Q("q_funnel", funnel, funnelSql),
    Q("q_retention", retention, retentionSql),
    Q("q_gap_fill", gapFill, gapFillSql),
    Q("q_anomaly_zscore", anomalyZscore, anomalyZscoreSql),
    Q("q_stream_join", streamJoin, streamJoinSql),
    Q("q_time_weighted_avg", timeWeightedAvg, timeWeightedAvgSql),
    Q("q_hopping_window", hoppingWindow, hoppingWindowSql),
    Q("q_mad_outlier", madOutlier, madOutlierSql),
    Q("q_drift_psi", driftPsi, driftPsiSql),
    Q("q_late_arrival", lateArrival, lateArrivalSql),
    Q("q_dead_letter", deadLetter, deadLetterSql),
    Q("q_session_window_fn", sessionWindowFn, sessionWindowFnSql),
    Q("q_welch_ttest", welchTtest, welchTtestSql),
    Q("q_approx_quantile_audit", approxQuantileAudit, approxQuantileAuditSql),
    Q("q_ks_test", ksTest, ksTestSql),
    Q("q_chisq_test", chisqTest, chisqTestSql),
    Q("q_autocorr", autocorr, autocorrSql),
    Q("q_interval_coverage", intervalCoverage, intervalCoverageSql),
    Q("q_changepoint", changepoint, changepointSql),
    Q("q_rolling_quantile", rollingQuantile, rollingQuantileSql),
    Q("q_ecdf", ecdfNormalize, ecdfNormalizeSql),
    Q("q_cumulative_distinct", cumulativeDistinct, cumulativeDistinctSql),
    Q("q_rolling_active", rollingActive, rollingActiveSql),
    Q("q_linear_fit", linearFit, linearFitSql),
    Q("q_ewma", ewma, ewmaSql),
    Q("q_cohort_ltv", cohortLtv, cohortLtvSql),
    Q("q_attribution", attribution, attributionSql),
    Q("q_interarrival", interarrival, interarrivalSql),
    Q("q_session_paths", sessionPaths, sessionPathsSql),
    Q("q_gini", gini, giniSql),
    Q("q_seasonality", seasonality, seasonalitySql),
    Q("q_conversion_lag", conversionLag, conversionLagSql),
    Q("q_completeness", completeness, completenessSql),
    Q("q_pareto_share", paretoShare, paretoShareSql),
    Q("q_burstiness", burstiness, burstinessSql),
    Q("q_outlier_iqr", outlierIqr, outlierIqrSql),
    Q("q_cuped", cuped, cupedSql),
    Q("q_winsorize", winsorize, winsorizeSql),
    Q("q_erasure_audit", erasureAudit, erasureAuditSql),
    Q("q_mom_growth", momGrowth, momGrowthSql),
    Q("q_bootstrap_ci", bootstrapCi, bootstrapCiSql),
    Q("q_runs_test", runsTest, runsTestSql),
    Q("q_seasonal_decompose", seasonalDecompose, seasonalDecomposeSql),
    Q("q_growth_accounting", growthAccounting, growthAccountingSql),
    Q("q_spearman", spearman, spearmanSql),
    Q("q_mann_whitney", mannWhitney, mannWhitneySql),
    Q("q_throttle", throttle, throttleSql),
    Q("q_drawdown", drawdown, drawdownSql),
    Q("q_streaks", streaks, streaksSql),
    Q("q_hist2d", hist2d, hist2dSql),
    Q("q_kmv_distinct", kmvDistinct, kmvDistinctSql),
    Q("q_session_entropy", sessionEntropy, sessionEntropySql),
    Q("q_peak_detect", peakDetect, peakDetectSql),
    Q("q_churn_hazard", churnHazard, churnHazardSql),
    Q("q_event_downsample", eventDownsample, eventDownsampleSql),
    Q("q_hill_tail", hillTail, hillTailSql),
    Q("q_mutual_info", mutualInfo, mutualInfoSql),
    Q("q_ab_srm", abSrm, abSrmSql),
    Q("q_heavy_change", heavyChange, heavyChangeSql),
    Q("q_markov_backtest", markovBacktest, markovBacktestSql),
    Q("q_seasonal_naive_backtest", seasonalNaiveBacktest, seasonalNaiveBacktestSql),
    Q("q_coverage_gap", coverageGap, coverageGapSql),
    Q("q_kaplan_meier", kaplanMeier, kaplanMeierSql),
    Q("q_dp_release", dpRelease, dpReleaseSql),
    Q("q_grouped_split", groupedSplit, groupedSplitSql),
    Q("q_hash_collision_audit", hashCollisionAudit, hashCollisionAuditSql),
    Q("q_rank_churn", rankChurn, rankChurnSql),
    Q("q_attempt_conversion", attemptConversion, attemptConversionSql),
    Q("q_aapor_rates", aaporRates, aaporRatesSql),
    Q("q_straightline", straightline, straightlineSql),
    Q("q_cronbach_alpha", cronbachAlpha, cronbachAlphaSql),
    Q("q_kendall_tau", kendallTau, kendallTauSql),
    Q("q_theil_sen", theilSen, theilSenSql),
    Q("q_entropy_rate", entropyRate, entropyRateSql),
    Q("q_stickiness", stickiness, stickinessSql),
    Q("q_theta_intersect", thetaIntersect, thetaIntersectSql),
    Q("q_overdispersion", overdispersion, overdispersionSql),
    Q("q_key_discovery", keyDiscovery, keyDiscoverySql),
    Q("q_audience_overlap", audienceOverlap, audienceOverlapSql),
    Q("q_power_mde", powerMde, powerMdeSql),
    Q("q_cross_corr", crossCorr, crossCorrSql),
    Q("q_ucb_arms", ucbArms, ucbArmsSql),
    Q("q_shapley_attribution", shapleyAttribution, shapleyAttributionSql),
    Q("q_url_parse", urlParse, urlParseSql),
    Q("q_feature_matrix", featureMatrix, featureMatrixSql),
    Q("q_holt_forecast", holtForecast, holtForecastSql),
    Q("q_sprt", sprt, sprtSql),
    Q("q_nelson_aalen", nelsonAalen, nelsonAalenSql),
    Q("q_bradley_terry", bradleyTerry, bradleyTerrySql),
    Q("q_als_factor", alsFactor, alsFactorSql),
    Q("q_event_study", eventStudy, eventStudySql),
    Q("q_best_split", bestSplit, bestSplitSql),
    Q("q_logrank", logrank, logrankSql),
    Q("q_type_trend", typeTrend, typeTrendSql),
    Q("q_croston", croston, crostonSql),
    Q("q_dtw", dtw, dtwSql),
    Q("q_newsvendor", newsvendor, newsvendorSql),
    Q("q_littles_law", littlesLaw, littlesLawSql),
    Q("q_slo_burn", sloBurn, sloBurnSql),
    Q("q_mtbf", mtbf, mtbfSql),
    Q("q_cold_start", coldStart, coldStartSql),
    Q("q_page_hinkley", pageHinkley, pageHinkleySql),
    Q("q_theil_u2", theilU2, theilU2Sql),
  )
}

package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources._

/** The feeder path (SURVEY §2 ops 1-15 and their widenings): paged,
  * zipped and JDBC ingest, the transform suite, the dedup anti-join, the
  * load and the month repair, plus every query built on `graft.sources`
  * or `FeederTransforms`. */
object Feeder extends QueryFamily("feeder") {
  import Common._

  // pagedSink fixture dirs already built this JVM (see pagedSink: a
  // rebuild would race the lazy readers returned by earlier calls)
  private val sinkBuilt = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Deletes the `<tmpdir>/<prefix>*` directories untouched for 6 hours. */
  private def sweepStale(prefix: String): Unit =
    Option(new java.io.File(sys.props("java.io.tmpdir")).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(prefix) &&
        f.lastModified < System.currentTimeMillis() - 6L * 3600 * 1000)
      .foreach(rmTree)

  /** #1 flagship: project → transform suite → anti-join dedup → insert batch.
    * Reference: feeder.py:248-259 (run() composing the whole feeder). */
  private def feederLoad(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val customer = t(s, dir, "customer")
    val transformed = orders
      .withColumn("wave", col("o_orderkey") % 10)
      .filter(col("wave") === 3)
      .withColumn("result", FeederTransforms.resultFor(col("o_orderstatus")))
      .filter(!FeederTransforms.isReject(col("result")))
      .withColumn("status", FeederTransforms.statusFor(col("result")))
      .withColumn("ivdate_raw", date_format(col("o_orderdate"), "dd.MM.yyyy HH:mm:ss"))
      .withColumn("ivdate", FeederTransforms.normalizeDate(col("ivdate_raw")))
      .withColumn("age", least(floor(col("o_totalprice")).cast("int"), lit(FeederTransforms.SmallintMax)))
      .withColumn("phone", phoneOf(col("o_custkey")))
    // customer is the dim side: broadcast (at 100 TB the fact side stays put)
    val named = transformed
      .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
      .withColumn("name", FeederTransforms.truncateTo(col("c_name"), 10))
    val existing = customer.filter(col("c_custkey") % 3 === 0)
      .select(phoneOf(col("c_custkey")).as("phone"))
    Dedup.newRows(named, existing, "phone", broadcastExisting = true)
      .select(col("o_orderkey").as("id"), col("phone"), col("result"),
        col("status"), col("ivdate"), col("age"), col("name"), col("wave"))
  }

  private val feederLoadSql =
    s"""SELECT o.o_orderkey AS id,
       |       ${phoneSql("o.o_custkey")} AS phone,
       |       CASE WHEN o.o_orderstatus = 'F' THEN 'full' ELSE 'partial' END AS result,
       |       CASE WHEN o.o_orderstatus = 'F' THEN 'complete' ELSE 'interrupted' END AS status,
       |       strftime(o.o_orderdate, '%Y-%m-%d') AS ivdate,
       |       LEAST(CAST(floor(o.o_totalprice) AS INT), 32767) AS age,
       |       substring(c.c_name, 1, 10) AS name,
       |       o.o_orderkey % 10 AS wave
       |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
       |WHERE o.o_orderkey % 10 = 3 AND o.o_orderstatus <> 'O'
       |  AND o.o_custkey % 3 <> 0""".stripMargin

  /** #2 paginated ingestion (feeder.py:22-47): one bounds pass, then each
    * page is an independent key-range pushdown scan — no global window. */
  private def pagedIngest(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    PagedReader.readPages(PagedReader.pages(orders, "o_orderkey", 100, 3))
  }

  private val pagedIngestSql =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
      |FROM (SELECT *, row_number() OVER (ORDER BY o_orderkey) AS rn FROM orders)
      |WHERE rn <= 300""".stripMargin

  /** #3 zipped-tabular extraction (feeder.py:118-122): build deterministic
    * zip archives from `documents` — half with an RFC 4180 CSV payload,
    * half with a real XLSX workbook (shared-string AND inline-string
    * forms) — then distributed stream-decode via the binaryFile source.
    * Both codecs round-trip exactly, so the output is oracle-checked
    * against the source table. */
  private def zipExtract(s: SparkSession, dir: String): DataFrame = {
    // sweep fixture dirs left by crashed runs so repeated runs can't
    // accumulate per-appId dirs unboundedly. Caveat: a session idle for
    // >6h that re-executes a HELD zipExtract plan without rebuilding
    // (rebuilds bump the dir mtime) could lose its fixtures to a
    // concurrent sweep — rebuild by re-calling the query in that case.
    sweepStale("graft_zips_")
    val zipDir = scratchDir(s, "graft_zips_")
    zipDir.mkdirs()
    // clear stale fixtures: leftover batch_*.zip from a previous run
    // would silently match the *.zip glob below
    Option(zipDir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".zip")).foreach(_.delete())
    val docs = t(s, dir, "documents").select("doc_id", "text")
      .filter(col("doc_id") < 40).orderBy("doc_id").collect()
    def zipWith(name: String, entry: String)(write: java.util.zip.ZipOutputStream => Unit): Unit = {
      val out = new java.util.zip.ZipOutputStream(
        new java.io.FileOutputStream(new java.io.File(zipDir, name)))
      out.putNextEntry(new java.util.zip.ZipEntry(entry))
      write(out)
      out.closeEntry(); out.close()
    }
    val (csvDocs, xlsxDocs) = docs.splitAt(20)
    csvDocs.grouped(10).zipWithIndex.foreach { case (chunk, i) =>
      zipWith(f"batch_csv_$i%02d.zip", "results.csv") { out =>
        val sb = new StringBuilder("doc_id,text\n")
        chunk.foreach(r => sb.append(r.getLong(0)).append(',')
          .append(ZippedTabular.csvField(r.getString(1))).append('\n'))
        out.write(sb.toString.getBytes("UTF-8"))
      }
    }
    xlsxDocs.grouped(10).zipWithIndex.foreach { case (chunk, i) =>
      zipWith(f"batch_xlsx_$i%02d.zip", "results.xlsx") { out =>
        val bos = new java.io.ByteArrayOutputStream()
        // doc_id rides as a TYPED numeric cell (t-less <v>), not a string
        ZippedTabular.writeXlsx(bos, Seq("doc_id", "text"),
          chunk.toIndexedSeq.map(r => Seq(r.getLong(0), r.getString(1))),
          sharedStrings = i % 2 == 0)
        out.write(bos.toByteArray)
      }
    }
    val base = zipDir.getAbsolutePath
    // typed read: doc_id lands as BIGINT straight from the codecs (the
    // reference's pd.read_excel dtype inference), no post-hoc string cast
    val zipSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    ZippedTabular.readZippedCsvTyped(s, base + "/batch_csv_*.zip", zipSchema)
      .unionAll(ZippedTabular.readZippedXlsxTyped(s, base + "/batch_xlsx_*.zip", zipSchema))
  }

  private val zipExtractSql =
    """SELECT doc_id, text
      |FROM documents WHERE doc_id < 40""".stripMargin

  /** #4 predicate-pushdown read (feeder.py:127-143's `where wave = N`). */
  private def pushdownFilter(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1998-01-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))

  private val pushdownFilterSql =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'""".stripMargin

  /** #5 dedup vs existing keys: left-anti join on phone (feeder.py:157-160). */
  private def dedupAntijoin(s: SparkSession, dir: String): DataFrame = {
    val incoming = t(s, dir, "orders")
      .select(col("o_orderkey").as("id"), phoneOf(col("o_custkey")).as("phone"))
    val existing = t(s, dir, "customer").filter(col("c_custkey") % 3 === 0)
      .select(phoneOf(col("c_custkey")).as("phone"))
    Dedup.newRows(incoming, existing, "phone", broadcastExisting = true)
      .select("id", "phone")
  }

  private val dedupAntijoinSql =
    s"""SELECT o_orderkey AS id, ${phoneSql("o_custkey")} AS phone
       |FROM orders WHERE o_custkey % 3 <> 0""".stripMargin

  /** #6 conditional status mapping (feeder.py:164-171). */
  private def statusMap(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .withColumn("result", FeederTransforms.resultFor(col("o_orderstatus")))
      .withColumn("status", FeederTransforms.statusFor(col("result")))
      .select("o_orderkey", "o_orderstatus", "result", "status")

  private val statusMapSql =
    """SELECT o_orderkey, o_orderstatus,
      |  CASE WHEN o_orderstatus = 'F' THEN 'full'
      |       WHEN o_orderstatus = 'O' THEN 'reject' ELSE 'partial' END AS result,
      |  CASE WHEN o_orderstatus = 'F' THEN 'complete' ELSE 'interrupted' END AS status
      |FROM orders""".stripMargin

  /** #7 date reparse dd.MM.yyyy HH:mm:ss → yyyy-MM-dd (feeder.py:173-174). */
  private def dateNorm(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .withColumn("ivdate_raw", date_format(col("o_orderdate"), "dd.MM.yyyy HH:mm:ss"))
      .withColumn("ivdate", FeederTransforms.normalizeDate(col("ivdate_raw")))
      .select("o_orderkey", "ivdate_raw", "ivdate")

  private val dateNormSql =
    """SELECT o_orderkey,
      |  strftime(o_orderdate, '%d.%m.%Y %H:%M:%S') AS ivdate_raw,
      |  strftime(o_orderdate, '%Y-%m-%d') AS ivdate
      |FROM orders""".stripMargin

  /** #8 null normalization: NaN / blank / sentinel → NULL (feeder.py:146). */
  private def nullNorm(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .withColumn("val_clean", FeederTransforms.nanToNull(
        when(col("o_orderkey") % 5 === 0, lit(Double.NaN)).otherwise(col("o_totalprice"))))
      .withColumn("priority_clean",
        FeederTransforms.sentinelToNull(col("o_orderpriority"), "4-NOT SPECIFIED"))
      .withColumn("status_clean", FeederTransforms.blankToNull(
        when(col("o_orderkey") % 7 === 0, lit("  ")).otherwise(col("o_orderstatus"))))
      .select("o_orderkey", "val_clean", "priority_clean", "status_clean")

  private val nullNormSql =
    """SELECT o_orderkey,
      |  CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE o_totalprice END AS val_clean,
      |  CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN NULL ELSE o_orderpriority END AS priority_clean,
      |  CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_orderstatus END AS status_clean
      |FROM orders""".stripMargin

  /** #9 numeric clamp + string truncation (feeder.py:180-182, 205). */
  private def clampTruncate(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .withColumn("acct_clamped",
        FeederTransforms.clampAt(floor(col("c_acctbal")).cast("int"), 2000))
      .withColumn("name_short", FeederTransforms.truncateTo(col("c_name"), 10))
      .select("c_custkey", "acct_clamped", "name_short")

  private val clampTruncateSql =
    """SELECT c_custkey,
      |  LEAST(CAST(floor(c_acctbal) AS INT), 2000) AS acct_clamped,
      |  substring(c_name, 1, 10) AS name_short
      |FROM customer""".stripMargin

  /** #10 wide projection/rename — the insert-batch shape (feeder.py:184-225). */
  private def wideProjection(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .select(
        col("o_orderkey").as("id"),
        col("o_custkey").as("respondent_key"),
        col("o_orderstatus").as("result_code"),
        col("o_totalprice").as("score"),
        col("o_orderdate").as("interview_ts"),
        col("o_orderpriority").as("priority"),
        col("c_name").as("respondent_name"),
        col("c_nationkey").as("region_code"),
        col("c_acctbal").as("balance"),
        col("c_mktsegment").as("segment"))
  }

  private val wideProjectionSql =
    """SELECT o.o_orderkey AS id, o.o_custkey AS respondent_key,
      |  o.o_orderstatus AS result_code, o.o_totalprice AS score,
      |  o.o_orderdate AS interview_ts, o.o_orderpriority AS priority,
      |  c.c_name AS respondent_name, c.c_nationkey AS region_code,
      |  c.c_acctbal AS balance, c.c_mktsegment AS segment
      |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey""".stripMargin

  /** #11 distributed batch append shape (feeder.py:230-243): the prepared
    * batch partitioned for concurrent JDBC writers — content unchanged. */
  private def batchAppend(s: SparkSession, dir: String): DataFrame = {
    val batch = t(s, dir, "orders")
      .select(col("o_orderkey").as("id"), phoneOf(col("o_custkey")).as("phone"),
        col("o_totalprice").as("score"))
    JdbcFeed.prepareAppend(batch, numWriters = 8)
  }

  private val batchAppendSql =
    s"""SELECT o_orderkey AS id, ${phoneSql("o_custkey")} AS phone,
       |  o_totalprice AS score FROM orders""".stripMargin

  /** #12 keyed upsert (add_q5010.py:20-46): UPDATE ... WHERE id as a merge. */
  private def upsertQ5010(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "customer")
    val updates = base.filter(col("c_custkey") % 10 === 0)
      .select(col("c_custkey"), (col("c_acctbal") + 1000.0).as("c_acctbal"))
    Upsert.update(base, updates, "c_custkey", Seq("c_acctbal"))
  }

  private val upsertQ5010Sql =
    """SELECT c_custkey, c_name, c_nationkey,
      |  CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 1000.0 ELSE c_acctbal END AS c_acctbal,
      |  c_mktsegment
      |FROM customer""".stripMargin

  /** #42 the skipped-keys report (feeder.py:245-246): the complement of
    * the dedup anti-join — rows whose phone already exists. */
  private def dedupSkipped(s: SparkSession, dir: String): DataFrame = {
    val incoming = t(s, dir, "orders")
      .select(col("o_orderkey").as("id"), phoneOf(col("o_custkey")).as("phone"))
    val existing = t(s, dir, "customer").filter(col("c_custkey") % 3 === 0)
      .select(phoneOf(col("c_custkey")).as("phone"))
    Dedup.skippedRows(incoming, existing, "phone").select("id", "phone")
  }

  private val dedupSkippedSql =
    s"""SELECT o_orderkey AS id, ${phoneSql("o_custkey")} AS phone
       |FROM orders WHERE o_custkey % 3 = 0""".stripMargin

  /** #43 SCD2 history merge: the keyed upsert with history kept —
    * updated keys get their current row closed and a new current row
    * appended (valid_from/valid_to ranges). */
  private def upsertScd2(s: SparkSession, dir: String): DataFrame = {
    val history = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_acctbal"),
        lit("2020-01-01").as("valid_from"),
        lit(null).cast("string").as("valid_to"))
    val updates = t(s, dir, "customer").filter(col("c_custkey") % 10 === 0)
      .select(col("c_custkey"), (col("c_acctbal") + 500.0).as("c_acctbal"),
        lit("2024-06-01").as("ts"))
    Upsert.scd2Apply(history, updates, "c_custkey", "c_acctbal", "ts")
  }

  private val upsertScd2Sql =
    """SELECT c_custkey, c_acctbal, '2020-01-01' AS valid_from,
      |  CASE WHEN c_custkey % 10 = 0 THEN '2024-06-01' ELSE NULL END AS valid_to
      |FROM customer
      |UNION ALL
      |SELECT c_custkey, c_acctbal + 500.0 AS c_acctbal,
      |  '2024-06-01' AS valid_from, NULL AS valid_to
      |FROM customer WHERE c_custkey % 10 = 0""".stripMargin

  /** #13 month-offset date repair with fill-from-interview-date fallback
    * (add_q5011_2t.py:27-45, 58-103). Groups = "files"; the per-group
    * decision comes from the group's first row, exactly like the
    * reference's first-row check. */
  private def monthRepair(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "orders")
      .withColumn("grp", col("o_orderkey") % 20)
      .withColumn("recruit",
        when(col("o_orderkey") % 13 === 0, lit(null).cast("string"))
          .otherwise(date_format(
            when(col("grp") % 2 === 0, add_months(col("o_orderdate"), -1))
              .otherwise(col("o_orderdate")),
            "yyyy-MM-dd HH:mm:ss")))
      .select(col("o_orderkey"), col("grp"), col("o_orderdate"), col("recruit"))
    DateRepair.repair(base, "grp", "o_orderkey", "recruit", "o_orderdate")
      .select("o_orderkey", "grp", "recruit")
  }

  private val monthRepairSql =
    """WITH base AS (
      |  SELECT o_orderkey, o_orderkey % 20 AS grp, o_orderdate,
      |    CASE WHEN o_orderkey % 13 = 0 THEN NULL
      |         ELSE strftime(CASE WHEN (o_orderkey % 20) % 2 = 0
      |                            THEN o_orderdate - INTERVAL 1 MONTH
      |                            ELSE o_orderdate END, '%Y-%m-%d %H:%M:%S') END AS recruit
      |  FROM orders),
      |flags AS (
      |  SELECT grp,
      |    month(arg_min(o_orderdate, o_orderkey)) AS iv_month,
      |    arg_min(CAST(substring(recruit, 6, 2) AS INT), o_orderkey)
      |      FILTER (WHERE recruit IS NOT NULL) AS rec_month
      |  FROM base GROUP BY grp)
      |SELECT b.o_orderkey, b.grp,
      |  CASE WHEN b.recruit IS NULL THEN strftime(b.o_orderdate, '%Y-%m-%d %H:%M:%S')
      |       WHEN coalesce(f.rec_month <> f.iv_month, false)
      |         THEN substring(b.recruit, 1, 5)
      |              || lpad(CAST(CAST(substring(b.recruit, 6, 2) AS INT) + 1 AS VARCHAR), 2, '0')
      |              || substring(b.recruit, 8, 12)
      |       ELSE b.recruit END AS recruit
      |FROM base b JOIN flags f USING (grp)""".stripMargin

  /** #14 multi-wave sweep as ONE grouped query (bulk.py:1-10) — the
    * reference's per-wave driver loop becomes GROUP BY wave. */
  private def waveSweep(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .withColumn("wave", col("o_orderkey") % 10)
      .groupBy("wave")
      .agg(
        count(lit(1)).as("n_results"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total_score"),
        sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("n_full"))

  private val waveSweepSql =
    """SELECT o_orderkey % 10 AS wave,
      |  count(*) AS n_results,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_score,
      |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_full
      |FROM orders GROUP BY 1""".stripMargin

  /** #15 wave-number derivation from the project name (feeder.py:124-125). */
  private def waveDerive(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .withColumn("project_name",
        concat(lit("CATI_W"), lpad((col("o_orderkey") % 10).cast("string"), 2, "0")))
      .withColumn("wave", FeederTransforms.waveFromName(col("project_name")))
      .withColumn("project_name_w6",
        concat(lit("CATI_w"), (col("o_orderkey") % 10).cast("string")))
      .withColumn("wave_w6", FeederTransforms.waveFromNameLoose(col("project_name_w6")))
      .select("o_orderkey", "project_name", "wave", "project_name_w6", "wave_w6")

  private val waveDeriveSql =
    """SELECT o_orderkey,
      |  'CATI_W' || lpad(CAST(o_orderkey % 10 AS VARCHAR), 2, '0') AS project_name,
      |  CAST(right('CATI_W' || lpad(CAST(o_orderkey % 10 AS VARCHAR), 2, '0'), 2) AS INT) AS wave,
      |  'CATI_w' || CAST(o_orderkey % 10 AS VARCHAR) AS project_name_w6,
      |  CAST(replace(right('CATI_w' || CAST(o_orderkey % 10 AS VARCHAR), 2), 'w', '') AS INT) AS wave_w6
      |FROM orders""".stripMargin

  /** #53 CDC change application: the `view` events build a per-user
    * balance snapshot; `purchase`/`error` events replay as an
    * upsert/delete change feed sequenced by (ts, event_id). The feed
    * collapses to its last change per key with one `max_by` aggregate
    * (no window), then hits the snapshot in a single full-outer join —
    * the general form of the reference's UPDATE-only batches
    * (add_q5010.py:20-46) extended with deletes. */
  private def cdcApply(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    // DECIMAL sum keeps the snapshot deterministic across partition
    // orderings (double addition is order-sensitive)
    val base = ev.filter(col("event_type") === "view")
      .groupBy("user_id")
      .agg(sum(col("value").cast("decimal(18,6)")).cast("double").as("bal"))
    val changes = ev.filter(col("event_type").isin("purchase", "error"))
      .select(col("user_id"),
        when(col("event_type") === "purchase", lit("U")).otherwise(lit("D")).as("op"),
        col("value").as("bal"), col("ts"), col("event_id"))
    Cdc.apply(base, changes, "user_id", Seq("bal"), "op", Seq("ts", "event_id"))
  }

  private val cdcApplySql =
    """WITH base AS (
      |  SELECT user_id, CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS bal
      |  FROM events WHERE event_type = 'view' GROUP BY 1),
      |ch AS (
      |  SELECT user_id,
      |    CASE WHEN event_type = 'purchase' THEN 'U' ELSE 'D' END AS op,
      |    value AS bal,
      |    row_number() OVER (PARTITION BY user_id
      |         ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
      |  FROM events
      |  WHERE event_type IN ('purchase', 'error') AND user_id IS NOT NULL),
      |last AS (SELECT user_id, op, bal FROM ch WHERE rn = 1)
      |SELECT coalesce(b.user_id, l.user_id) AS user_id,
      |  CASE WHEN l.user_id IS NOT NULL THEN l.bal ELSE b.bal END AS bal
      |FROM base b FULL JOIN last l ON l.user_id = b.user_id
      |WHERE l.op IS NULL OR l.op <> 'D'""".stripMargin

  /** #62 one-pass column profile of `orders` (ANALYZE-style stats):
    * null/distinct counts + numeric bounds for every column from ONE
    * aggregate job, unpivoted to a row per column. Exact distincts
    * here (oracle-checkable); `approxRsd` switches to HLL at scale. */
  // the profiled frame is the NULL-NORMALIZED projection (the
  // reference's sentinel→NULL transform applied first): raw orders has
  // zero nulls at every SF, so the profiler's n_nulls column never
  // fired (r10 vacuity audit) — profiling post-normalization is also
  // the order the reference pipeline actually runs
  private def profileStats(s: SparkSession, dir: String): DataFrame =
    Profiler.profile(t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate"),
        FeederTransforms.sentinelToNull(col("o_orderpriority"),
          "4-NOT SPECIFIED").as("priority_norm")))

  private val profileStatsSql = {
    def stat(c: String, expr: String, numExpr: Option[String]) = {
      val mn = numExpr.map(e => s"CAST(min($e) AS DOUBLE)").getOrElse("CAST(NULL AS DOUBLE)")
      val mx = numExpr.map(e => s"CAST(max($e) AS DOUBLE)").getOrElse("CAST(NULL AS DOUBLE)")
      s"""SELECT '$c' AS col_name, count(*) - count($expr) AS n_nulls,
         |  count(DISTINCT $expr) AS n_distinct, $mn AS min_num, $mx AS max_num
         |FROM orders""".stripMargin
    }
    Seq(
      stat("o_orderkey", "o_orderkey", Some("o_orderkey")),
      stat("o_custkey", "o_custkey", Some("o_custkey")),
      stat("o_orderstatus", "o_orderstatus", None),
      stat("o_totalprice", "o_totalprice", Some("o_totalprice")),
      stat("o_orderdate", "o_orderdate", Some("epoch_us(o_orderdate)")),
      stat("priority_norm",
        "(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN NULL ELSE o_orderpriority END)",
        None),
    ).mkString("", "\nUNION ALL\n", "")
  }

  /** Unique in-memory Derby database per invocation, with the PREVIOUS
    * invocation's database dropped when a new one is built — a
    * long-lived session holds at most one copy in heap instead of
    * growing monotonically. Lifecycle contract (same as the write-layout
    * scratch dir): at most ONE live result per query key — consume the
    * returned DataFrame before re-invoking the query; re-invocation
    * retires the prior invocation's backing storage. The sequential
    * Verify/Bench drivers satisfy this by construction. */
  private val derbySeq = new java.util.concurrent.atomic.AtomicLong()

  private val lastDerbyUrl = new java.util.concurrent.atomic.AtomicReference[String]()

  private val lastLayoutDir = new java.util.concurrent.atomic.AtomicReference[java.io.File]()

  private def dropDerby(url: String): Unit =
    try java.sql.DriverManager.getConnection(url + ";drop=true")
    catch { case _: java.sql.SQLException => () } // 08006 = dropped OK

  /** #69 LIVE JDBC round-trip — the reference's core "database feeder"
    * semantic (feeder.py:230-243 batch INSERT; add_q5010.py:20-46 keyed
    * UPDATE) executed against a real embedded Derby database:
    *
    *   1. distributed batch append: 4 writer tasks, JDBC batch size 128
    *      (vs the reference's one INSERT per pandas row on one thread);
    *   2. distributed keyed UPDATE: executors run batched prepared
    *      `UPDATE ... WHERE key = ?` statements, one commit per batch
    *      (vs one autocommitted UPDATE per spreadsheet row);
    *   3. partitioned JDBC read-back: 4 range-partitioned scan tasks with
    *      the key predicate generated into each partition's WHERE clause.
    *
    * The oracle recomputes the post-update table from the parquet source,
    * proving insert+update round-tripped the values bit-exact. Embedded
    * in-memory Derby is reachable from every task in local mode; against
    * a networked database only the URL changes. Derby folds unquoted
    * identifiers to uppercase, so the read-back renames columns to the
    * oracle's lowercase. bench=false: measures a fixture database, not
    * the engine. */
  private def jdbcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    // keep derby.log out of the repo checkout
    if (sys.props.get("derby.system.home").isEmpty)
      System.setProperty("derby.system.home", sys.props("java.io.tmpdir"))
    val url = s"jdbc:derby:memory:graft_${s.sparkContext.applicationId}_${derbySeq.incrementAndGet()}"
    Option(lastDerbyUrl.getAndSet(url)).foreach(dropDerby)
    val conn = java.sql.DriverManager.getConnection(url + ";create=true")
    try {
      val st = conn.createStatement()
      st.executeUpdate(
        "CREATE TABLE feed (o_orderkey BIGINT, o_orderstatus VARCHAR(8), o_totalprice DOUBLE)")
      // updateKeyed's contract: an index on the key, or updates full-scan
      st.executeUpdate("CREATE INDEX feed_key ON feed(o_orderkey)")
    } finally conn.close()
    val subset = t(s, dir, "orders")
      .filter(pmod(col("o_orderkey"), lit(20)) === 0)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    JdbcFeed.append(subset, url, "feed", numWriters = 4, batchSize = 128)
    val fixes = subset.filter(pmod(col("o_orderkey"), lit(60)) === 0)
      .select(col("o_orderkey"), lit("X").as("o_orderstatus"))
    JdbcFeed.updateKeyed(fixes, url, "feed", "o_orderkey", Seq("o_orderstatus"),
      numWriters = 4, batchSize = 128)
    val hi = subset.agg(max("o_orderkey")).first().get(0) match {
      case null => 1L
      case k: Long => k + 1L
    }
    s.read.format("jdbc")
      .option("url", url).option("dbtable", "feed")
      .option("partitionColumn", "o_orderkey").option("numPartitions", "4")
      .option("lowerBound", "0").option("upperBound", hi.toString)
      .load()
      .select(col("O_ORDERKEY").as("o_orderkey"),
        col("O_ORDERSTATUS").as("o_orderstatus"),
        col("O_TOTALPRICE").as("o_totalprice"))
  }

  private val jdbcRoundtripSql =
    """SELECT o_orderkey,
      |  CASE WHEN o_orderkey % 60 = 0 THEN 'X' ELSE o_orderstatus END
      |    AS o_orderstatus,
      |  o_totalprice
      |FROM orders WHERE o_orderkey % 20 = 0""".stripMargin

  /** #420 LIVE JDBC MERGE upsert — the dialect-shaped production form
    * of the reference's UPDATE-by-id loop (add_q5010.py:20-46) on
    * embedded Derby: `JdbcFeed.mergeKeyed` bulk-loads the upsert batch
    * into a staging table with 4 concurrent batched JDBC writers, then
    * ONE set-based ANSI `MERGE INTO feed USING stage ON key WHEN
    * MATCHED UPDATE / WHEN NOT MATCHED INSERT` applies the whole batch
    * inside the database (no per-row round-trips; the portable
    * read-merge-write stays available as `q_upsert_q5010` /
    * `updateKeyed`). The batch half-overlaps the seeded table —
    * o_orderkey%60==0 rows exist and get UPDATED, %30==0-but-not-%20
    * rows are new and get INSERTED — so both MERGE arms are proven by
    * the hash; the partitioned read-back parity is recomputed by the
    * oracle from the raw table. Totalprice shifts by an integral
    * +1000 (exact in binary doubles — no rounding drift between
    * engines). */
  private def jdbcMerge(s: SparkSession, dir: String): DataFrame = {
    if (sys.props.get("derby.system.home").isEmpty)
      System.setProperty("derby.system.home", sys.props("java.io.tmpdir"))
    val url = s"jdbc:derby:memory:graft_${s.sparkContext.applicationId}_${derbySeq.incrementAndGet()}"
    Option(lastDerbyUrl.getAndSet(url)).foreach(dropDerby)
    val conn = java.sql.DriverManager.getConnection(url + ";create=true")
    try {
      val st = conn.createStatement()
      st.executeUpdate(
        "CREATE TABLE feed (o_orderkey BIGINT PRIMARY KEY, o_orderstatus VARCHAR(8), o_totalprice DOUBLE)")
    } finally conn.close()
    val subset = t(s, dir, "orders")
      .filter(pmod(col("o_orderkey"), lit(20)) === 0)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    JdbcFeed.append(subset, url, "feed", numWriters = 4, batchSize = 128)
    val upserts = t(s, dir, "orders")
      .filter(pmod(col("o_orderkey"), lit(30)) === 0)
      .select(col("o_orderkey"), lit("M").as("o_orderstatus"),
        (col("o_totalprice") + 1000.0).as("o_totalprice"))
    JdbcFeed.mergeKeyed(upserts, url, "feed", "o_orderkey",
      Seq("o_orderstatus", "o_totalprice"), numWriters = 4, batchSize = 128,
      createTypes = Some("o_orderstatus VARCHAR(8)"))
    val hi = t(s, dir, "orders").agg(max("o_orderkey")).first().get(0) match {
      case null => 1L
      case k: Long => k + 1L
    }
    s.read.format("jdbc")
      .option("url", url).option("dbtable", "feed")
      .option("partitionColumn", "o_orderkey").option("numPartitions", "4")
      .option("lowerBound", "0").option("upperBound", hi.toString)
      .load()
      .select(col("O_ORDERKEY").as("o_orderkey"),
        col("O_ORDERSTATUS").as("o_orderstatus"),
        col("O_TOTALPRICE").as("o_totalprice"))
  }

  private val jdbcMergeSql =
    """SELECT o_orderkey,
      |  CASE WHEN o_orderkey % 30 = 0 THEN 'M' ELSE o_orderstatus END
      |    AS o_orderstatus,
      |  CASE WHEN o_orderkey % 30 = 0 THEN o_totalprice + 1000.0
      |    ELSE o_totalprice END AS o_totalprice
      |FROM orders WHERE o_orderkey % 20 = 0 OR o_orderkey % 30 = 0""".stripMargin

  /** #71 partitioned write layout: lineitem lands under
    * `l_returnflag=<v>/` directories with per-file row counts bounded by
    * the target (WriteLayout: one sizing aggregate + hash-slot salting +
    * the maxRecordsPerFile backstop — no per-value single-writer funnel,
    * no tasks×values small-file explosion). The oracle aggregates the
    * ROUND-TRIPPED files against the source table, proving the layout
    * relocated every row exactly once; `layout_ok` pins the file-shape
    * contract (every value directory ≤ ⌈rows/target⌉ + hash-variance
    * slack files) into the hash compare. bench=false: measures fixture
    * IO, not the engine. */
  private def writeLayout(s: SparkSession, dir: String): DataFrame = {
    val target = 5000L
    val out = scratchDir(s, "graft_layout_", s"_${derbySeq.incrementAndGet()}")
    // drop the PREVIOUS invocation's copy — one-live-result lifecycle
    // contract (see the Derby note above): disk stays one table copy
    // however often the query re-runs
    Option(lastLayoutDir.getAndSet(out)).foreach(rmTree)
    WriteLayout.writePartitioned(
      t(s, dir, "lineitem"), out.getAbsolutePath, Seq("l_returnflag"), target)
    val perDirOk = Option(out.listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).forall { d =>
        val files = Option(d.listFiles()).getOrElse(Array.empty)
          .count(f => f.isFile && f.getName.endsWith(".parquet"))
        val rows = s.read.parquet(d.getAbsolutePath).count()
        // planLayout packs slots to 0.9·target (hash-variance headroom),
        // so the expected count is ⌈rows/(0.9·target)⌉ — same slack
        files <= (rows * 10 + 9 * target - 1) / (9 * target) + 2
      }
    s.read.parquet(out.getAbsolutePath)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
      .withColumn("layout_ok", lit(perDirOk))
  }

  private val writeLayoutSql =
    """SELECT l_returnflag, count(*) AS n,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  TRUE AS layout_ok
      |FROM lineitem GROUP BY 1""".stripMargin

  /** #256 quota progress — the survey-fieldwork quota monitor (the
    * reference's counters endpoint domain, ref feeder.py:27-47 quota
    * polling): per nation cell, a share-proportional target off a
    * corpus-relative global quota (1.2× the achieved total — the
    * mid-fieldwork state), filled = fulfilled orders by that
    * nation's customers, remaining and fill ppm. Customer shares and
    * cell totals are partial-aggregated; the fact-side join shuffles
    * on custkey (co-partitioned at scale); the O(25) cell table and
    * the 1-row total broadcast. */
  private def quotaProgress(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer").select("c_custkey", "c_nationkey")
    val cells = cust.groupBy(col("c_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_customers"))
    val tot = cells.agg(sum("n_customers").as("__tot"))
    val filled = parallelize(s, t(s, dir, "orders"))
      .filter(col("o_orderstatus") === "F")
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("filled"))
    // the global quota is CORPUS-RELATIVE: 1.2× the achieved total, the
    // mid-fieldwork state (~83% average fill) — the old fixed 1000 sat
    // far below every SF's fill and `remaining` was structurally 0
    // (r10 vacuity audit); share-proportional targets against a 1.2×
    // quota leave under-performing cells with real remaining counts
    val ftot = filled.agg(sum("filled").as("__f"))
    cells.crossJoin(broadcast(tot)).crossJoin(broadcast(ftot))
      .withColumn("target",
        expr("(((__f * 12) div 10) * n_customers) div __tot"))
      .join(filled, Seq("nationkey"), "left")
      .join(broadcast(t(s, dir, "nation")
        .select(col("n_nationkey").as("nationkey"), col("n_name"))),
        Seq("nationkey"))
      .select(col("n_name"), col("n_customers"), col("target"),
        coalesce(col("filled"), lit(0L)).as("filled"))
      .withColumn("remaining", expr("greatest(target - filled, 0)"))
      .withColumn("fill_ppm",
        expr("CASE WHEN target > 0 THEN (filled * 1000000) div target" +
          " ELSE 0 END"))
  }

  private val quotaProgressSql =
    """WITH cells AS (
      |  SELECT c_nationkey AS nationkey,
      |    CAST(count(*) AS BIGINT) AS n_customers
      |  FROM customer GROUP BY 1),
      |tot AS (SELECT sum(n_customers) AS t FROM cells),
      |f AS (
      |  SELECT c.c_nationkey AS nationkey, CAST(count(*) AS BIGINT) AS filled
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |  WHERE o.o_orderstatus = 'F' GROUP BY 1),
      |g AS (SELECT (sum(filled) * 12) // 10 AS q FROM f)
      |SELECT n.n_name,
      |  cells.n_customers,
      |  CAST((g.q * n_customers) // tot.t AS BIGINT) AS target,
      |  CAST(coalesce(f.filled, 0) AS BIGINT) AS filled,
      |  CAST(greatest((g.q * n_customers) // tot.t - coalesce(f.filled, 0),
      |    0) AS BIGINT) AS remaining,
      |  CAST(CASE WHEN (g.q * n_customers) // tot.t > 0
      |    THEN (coalesce(f.filled, 0) * 1000000)
      |         // ((g.q * n_customers) // tot.t)
      |    ELSE 0 END AS BIGINT) AS fill_ppm
      |FROM cells
      |CROSS JOIN tot
      |CROSS JOIN g
      |LEFT JOIN f ON f.nationkey = cells.nationkey
      |JOIN nation n ON n.n_nationkey = cells.nationkey""".stripMargin

  /** #257 callback schedule — the CATI dialer's next-attempt plan (the
    * reference's retry-and-poll loop domain, ref feeder.py:29-33 sleep
    * /retry): per user NOT CONVERTED in the trailing 7-day window (no
    * purchase since the global cutoff — deliberately an aggregate
    * predicate, not a "last event" argmax, so it needs no ordering
    * tie-break and stays deterministic under ts collisions),
    * exponential backoff doubling with the recent attempt count and
    * capped at a day: backoff_min = min(2^min(attempts,20), 1440),
    * next attempt = last activity + backoff. The cutoff is a 1-row
    * broadcast; ONE partial-aggregated groupBy over events; the
    * backoff is integer bit-shift arithmetic on both engines (no FP
    * pow). */
  private def callbackSchedule(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("__t"),
        (col("event_type") === "purchase").cast("long").as("__p"))
    val cut = ev.agg((max("__t") - lit(7L * 86400000000L)).as("__cut"))
    ev.crossJoin(broadcast(cut))
      .groupBy("user_id")
      .agg(sum(when(col("__t") >= col("__cut"), 1L).otherwise(0L))
          .as("attempts"),
        max("__t").as("last_seen_us"),
        max(when(col("__t") >= col("__cut"), col("__p")).otherwise(0L))
          .as("__c"))
      .filter(col("__c") === 0L)
      .select(col("user_id"), col("attempts"), col("last_seen_us"),
        expr("least(shiftleft(1L, CAST(least(attempts, 20) AS INT)), 1440)")
          .as("backoff_min"))
      .withColumn("next_attempt_us",
        expr("last_seen_us + backoff_min * 60000000"))
  }

  private val callbackScheduleSql =
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) AS t,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS p
      |  FROM events),
      |cut AS (SELECT max(t) - 7 * 86400000000 AS c FROM e),
      |a AS (
      |  SELECT user_id,
      |    CAST(sum(CASE WHEN t >= cut.c THEN 1 ELSE 0 END) AS BIGINT)
      |      AS attempts,
      |    max(t) AS last_seen_us,
      |    max(CASE WHEN t >= cut.c THEN p ELSE 0 END) AS conv
      |  FROM e, cut GROUP BY 1)
      |SELECT user_id, attempts, last_seen_us,
      |  CAST(least(1 << least(attempts, 20), 1440) AS BIGINT)
      |    AS backoff_min,
      |  CAST(last_seen_us + least(1 << least(attempts, 20), 1440)
      |    * 60000000 AS BIGINT) AS next_attempt_us
      |FROM a WHERE conv = 0""".stripMargin

  /** #258 fieldwork burndown — cumulative completes against the linear
    * pace to the deadline (the chart every fieldwork manager reads):
    * per order day, completes, the running total, the pro-rata target
    * ((total × day_idx) div n_days — integer, monotone, lands exactly
    * on total at the last day), and ahead/behind. The fact scan
    * partial-aggregates to the O(days) series; rank + cumsum run on
    * that bounded series (the series-family window precedent); totals
    * broadcast from a 1-row aggregate. Day keys are ISO strings (the
    * cross-engine date discipline). */
  private def fieldworkBurndown(s: SparkSession, dir: String): DataFrame = {
    val daily = parallelize(s, t(s, dir, "orders"))
      .filter(col("o_orderstatus") === "F")
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n_completes"))
    val tot = daily.agg(sum("n_completes").as("__total"),
      count(lit(1)).as("__days"))
    val w = Window.orderBy("day")
    daily
      .withColumn("__idx", row_number().over(w).cast("long"))
      .withColumn("cum_completes",
        sum("n_completes").over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .crossJoin(broadcast(tot))
      .select(col("day"), col("n_completes"), col("cum_completes"),
        expr("(__total * __idx) div __days").as("target_cum"))
      .withColumn("delta", expr("cum_completes - target_cum"))
  }

  private val fieldworkBurndownSql =
    """WITH d AS (
      |  SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
      |    CAST(count(*) AS BIGINT) AS n_completes
      |  FROM orders WHERE o_orderstatus = 'F' GROUP BY 1),
      |t AS (SELECT sum(n_completes) AS total, count(*) AS days FROM d),
      |c AS (
      |  SELECT day, n_completes,
      |    CAST(sum(n_completes) OVER (ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum_completes,
      |    CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS idx
      |  FROM d)
      |SELECT day, n_completes, cum_completes,
      |  CAST((t.total * c.idx) // t.days AS BIGINT) AS target_cum,
      |  CAST(cum_completes - (t.total * c.idx) // t.days AS BIGINT)
      |    AS delta
      |FROM c, t""".stripMargin

  /** #349 DataSource V2 paged-feed read — the reference's REST pager
    * (feeder.py:22-47) as a REAL TableProvider
    * (sources/v2/PagedFeed.scala, registered as `graft-paged`): runs of
    * contiguous pages packed into input partitions by Spark's file-split
    * rule, so the scheduler owns fetch parallelism/retry, executor-side
    * transport with each task's page GETs in flight at once, column
    * pruning pushed into the line parser. The fixture stands in for the
    * HTTP endpoint (zero egress): orders serialized as page-NNNNN.tsv
    * files of 2500 rows in orderkey order — fixture IO, excluded from
    * the bench like the other fabrication queries. The page files are
    * written DISTRIBUTED by the two-phase ordered scan
    * (`PrefixSum.orderedScan`: range-partition on the key, per-partition
    * counts → global offsets, O(partitions) at the driver), page = rank
    * div 2500, then one writer task per page via
    * repartitionAndSortWithinPartitions — the driver never holds the
    * table (the r9 fixture writer collect()ed all of orders, which would
    * OOM the gate itself at sf100). Executor-local writes feeding the
    * read assume a shared filesystem (true in local mode, where fixtures
    * are built; a real deployment reads the actual HTTP feed). The query
    * is the read-side parity gate: a full-feed aggregate by status off
    * the DSv2 scan must equal the parquet truth. PagedFeedSpec asserts
    * the page packing and pruned read schema.
    *
    * Shared with #350 `q_paged_pushdown`, which reads the SAME fixture
    * through the source's filter-pushdown path. */
  private[graft] def pagedFixtureDir(s: SparkSession, dir: String): String = {
    // sweep ONLY this application's own stale fixture dirs (other sfDirs
    // from earlier queries in the same JVM). Crashed-JVM leftovers under
    // other appIds are left to the OS tmpdir reaper — sweeping them from
    // here could yank a fixture out from under a concurrent still-running
    // JVM mid-read (r9 ADVICE).
    sweepStale(s"graft_dsv2_${s.sparkContext.applicationId}_")
    val pageDir = scratchDir(s, "graft_dsv2_", "_" + dir.replaceAll("[^a-zA-Z0-9.]", "_"))
    buildLock(pageDir.getAbsolutePath).synchronized {
      pageDir.mkdirs()
      Option(pageDir.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".tsv")).foreach(_.delete())
      val pageSize = 2500L
      // pass 1 (PrefixSum.orderedScan): per-partition counts → offsets
      val (sorted, counts) = PrefixSum.orderedScan(t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("cents")),
        Seq(col("o_orderkey")))(_.size.toLong)
      val offsets = counts.scanLeft(0L)(_ + _)
      val nPages = math.max(((offsets.last + pageSize - 1) / pageSize).toInt, 1)
      val pageDirPath = pageDir.getAbsolutePath
      // pass 2: page = global rank div pageSize; one reducer per page
      // (partitioner key = page) with rank-sorted rows → each task
      // streams exactly one page file, already in orderkey order
      sorted.mapPartitionsWithIndex { (i, it) =>
          var rank = offsets(i)
          it.map { r =>
            val k = (rank / pageSize, rank)
            rank += 1
            (k, (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
          }
        }
        .repartitionAndSortWithinPartitions(new org.apache.spark.Partitioner {
          override def numPartitions: Int = nPages
          override def getPartition(key: Any): Int =
            key.asInstanceOf[(Long, Long)]._1.toInt
        })
        .foreachPartition { it: Iterator[((Long, Long), (Long, Long, String, Long))] =>
          var w: java.io.PrintWriter = null
          var cur = -1L
          try it.foreach { case ((p, _), (ok, ck, st, cents)) =>
            if (p != cur) {
              if (w != null) w.close()
              cur = p
              w = new java.io.PrintWriter(
                new java.io.File(pageDirPath, f"page-$p%05d.tsv"), "UTF-8")
            }
            w.println(s"$ok\t$ck\t$st\t$cents")
          } finally if (w != null) w.close()
        }
    }
    pageDir.getAbsolutePath
  }

  private def pagedFeed(s: SparkSession, dir: String): DataFrame =
    s.read.format("graft-paged")
      .schema("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, cents BIGINT")
      .option("dir", pagedFixtureDir(s, dir))
      // the pager's declared page size: powers the source's row-count
      // statistics and LIMIT-pushdown page pruning
      .option("pageRows", "2500")
      .load()

  private def pagedDsv2(s: SparkSession, dir: String): DataFrame =
    pagedFeed(s, dir)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        countDistinct(col("o_custkey")).as("n_cust"),
        sum("cents").as("sum_cents"))

  private val pagedDsv2Sql =
    """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust,
      |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
      |    AS BIGINT) AS sum_cents
      |FROM orders GROUP BY 1""".stripMargin

  /** #350 DSv2 paged-feed read WITH predicate pushdown — the reference's
    * wave-FILTERED crawl (feeder.py:127-143, `select … where wave = N`)
    * through `SupportsPushDownFilters`: the key-range predicate prunes
    * whole PAGES at planning time (each page file's [first,last] key
    * span is its zone — PagedFeedSpec asserts fewer planned pages than
    * the feed has), and the status/key filters are evaluated inside the
    * reader during the parse, so non-matching rows never surface to
    * Spark. At 100 TB this is the difference between fetching the
    * overlapping slice of a 10k-page export and fetching all of it.
    * The key constants sit inside every shipped SF's key space
    * (orderkeys start at 1; sf0.001 tops out ≈6k) so the audit is
    * non-vacuous at each gate SF. */
  private def pagedPushdown(s: SparkSession, dir: String): DataFrame =
    pagedFeed(s, dir)
      .filter(col("o_orderkey") >= 1000L && col("o_orderkey") <= 20000L &&
        col("o_orderstatus") =!= "O")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"),
        sum("cents").as("sum_cents"))

  private val pagedPushdownSql =
    """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(min(o_orderkey) AS BIGINT) AS min_key,
      |  CAST(max(o_orderkey) AS BIGINT) AS max_key,
      |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
      |    AS BIGINT) AS sum_cents
      |FROM orders
      |WHERE o_orderkey BETWEEN 1000 AND 20000 AND o_orderstatus <> 'O'
      |GROUP BY 1""".stripMargin

  /** #419 DSv2 paged feed over LIVE HTTP — the reference's actual
    * transport (feeder.py:22-47's `requests.get` page loop, with its
    * retry and sleep-between-pages at feeder.py:29-33) executed end to
    * end: the same paged fixture is served by an in-process loopback
    * HTTP endpoint (sources/v2/LoopbackPageServer.scala — the wire is
    * a real socket, the protocol is real GET/Range/retry; zero egress)
    * and read through `HttpPageTransport` — one GET per page, a task's
    * pages all requested at once, each with bounded
    * exponential-backoff retry, page-count discovery from
    * `GET /_PAGES`, byte statistics from 1-byte ranged GETs'
    * Content-Range totals, and key-zone pruning via HTTP Range probes
    * of each page's first/last line, so the pushed key range below
    * plans only the overlapping pages without fetching the rest (at
    * sf0.001 the range covers the whole feed — the filter is exact
    * everywhere, pruning kicks in from sf0.01 up). The parity
    * aggregate proves the HTTP read is lossless vs the parquet truth
    * the oracle recomputes. PagedFeedSpec additionally pins the
    * transport's 503-retry budget and probe-degradation behavior. */
  private def pagedHttp(s: SparkSession, dir: String): DataFrame = {
    val base = graft.sources.v2.LoopbackPageServer.serve(pagedFixtureDir(s, dir))
    s.read.format("graft-paged")
      .schema("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, cents BIGINT")
      .option("dir", base)
      .option("pageRows", "2500")
      .load()
      .filter(col("o_orderkey") >= 500L && col("o_orderkey") <= 12000L)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"),
        sum("cents").as("sum_cents"))
  }

  private val pagedHttpSql =
    """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(min(o_orderkey) AS BIGINT) AS min_key,
      |  CAST(max(o_orderkey) AS BIGINT) AS max_key,
      |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
      |    AS BIGINT) AS sum_cents
      |FROM orders
      |WHERE o_orderkey BETWEEN 500 AND 12000
      |GROUP BY 1""".stripMargin

  /** #428 async export lifecycle — the LAST reference API behavior the
    * engine couldn't execute end to end: results arrive not as paged
    * GETs but as a server-side export job you authenticate to, create,
    * poll, and download (feeder.py:49-122, auth header feeder.py:15-16).
    * Executed for real over the loopback socket:
    * [[graft.sources.v2.ExportLifecycle]] POSTs the create request
    * (SS-Token header — the server 401s without it), polls
    * `/projects/{pid}/results/data/{rid}` through a not-ready→ready
    * sequence (LoopbackPageServer answers state=1 twice before
    * publishing state=3 + the file URL, so the poll loop provably
    * iterates), downloads the zip from the BARE signed URL
    * (feeder.py:118 sends no token), and chains the bytes into the
    * distributed zip→XLSX decode ([[graft.sources.ZippedTabular]] —
    * feeder.py:118-122's read_excel). The artifact is a
    * deterministically-built XLSX of the bounded o_orderkey ≤ 2000
    * orders slice, so the oracle recomputes every row from the parquet
    * truth: a hash match proves the WHOLE chain (auth → create → poll
    * → download → unzip → worksheet decode → typed rows) lossless.
    * Control plane is O(1) per project — never per row — and the
    * downloaded archives decode distributed (binaryFile tasks), which
    * is where fleet-scale ingest parallelizes. PagedFeedSpec pins the
    * 401-without-token and poll-budget-exceeded failure paths. */
  private def exportLifecycle(s: SparkSession, dir: String): DataFrame = {
    sweepStale(s"graft_export_${s.sparkContext.applicationId}_")
    val exDir = scratchDir(s, "graft_export_", "_" + dir.replaceAll("[^a-zA-Z0-9.]", "_"))
    val dlDir = new java.io.File(exDir, "downloaded")
    // application-scoped token: never a magic constant that a stale
    // server from another run would accidentally accept
    val token = s"tok-${s.sparkContext.applicationId}"
    buildLock(exDir.getAbsolutePath).synchronized {
      exDir.mkdirs()
      // the export artifact the "service" will publish: a zip holding a
      // single XLSX worksheet of the bounded orders slice (the
      // reference's archiveSingleXlsxResultFile shape), built
      // deterministically so the oracle can recompute every cell
      val rows = t(s, dir, "orders").filter(col("o_orderkey") <= 2000L)
        .select(col("o_orderkey"), col("o_orderstatus"),
          (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("cents"))
        .orderBy("o_orderkey").collect()
      val zf = new java.io.File(exDir, "export-results.zip")
      val out = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream(zf))
      out.putNextEntry(new java.util.zip.ZipEntry("results.xlsx"))
      val bos = new java.io.ByteArrayOutputStream()
      graft.sources.ZippedTabular.writeXlsx(bos,
        Seq("o_orderkey", "o_orderstatus", "cents"),
        rows.toIndexedSeq.map(r => Seq(r.getLong(0), r.getString(1), r.getLong(2))))
      out.write(bos.toByteArray)
      out.closeEntry(); out.close()
      val base = graft.sources.v2.LoopbackPageServer.serve(exDir.getAbsolutePath)
      graft.sources.v2.LoopbackPageServer.armExport(exDir.getAbsolutePath,
        token, "export-results.zip", notReadyPolls = 2)
      // resolve the export counter BY NAME from the live listing
      // (feeder.py:40-48's get_counter_id) — the loopback listing leads
      // with a decoy counter, so a first-element shortcut would pick
      // the wrong id and the downstream hash compare would catch it
      val counterId = graft.sources.v2.ExportLifecycle.recruitCounterId(
        graft.sources.v2.ExportLifecycle.listCounters(base, 7, token))
        .getOrElse(throw new java.io.IOException(
          "graft-export: no recruit counter in the project listing"))
      val zipBytes = graft.sources.v2.ExportLifecycle.fetchExportZip(
        base, projectId = 7, counterId = counterId, token = token,
        pollDelayMs = 20L, maxPolls = 10)
      dlDir.mkdirs()
      Option(dlDir.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".zip")).foreach(_.delete())
      java.nio.file.Files.write(
        new java.io.File(dlDir, "export-00001.zip").toPath, zipBytes)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("o_orderkey",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("o_orderstatus",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("cents",
        org.apache.spark.sql.types.LongType)))
    graft.sources.ZippedTabular.readZippedXlsxTyped(s,
      dlDir.getAbsolutePath + "/export-*.zip", schema)
  }

  private val exportLifecycleSql =
    """SELECT o_orderkey, o_orderstatus,
      |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |FROM orders WHERE o_orderkey <= 2000""".stripMargin

  /** #402 DSv2 paged SINK round-trip — the reference's batch INSERT
    * loop (feeder.py:230-243) as a first-class `df.write.format(
    * "graft-paged")` BatchWrite with the REAL two-phase commit
    * protocol: every task writes a hidden `.inprogress` temporary and
    * emits a commit message; the DRIVER's commit renames them into the
    * reader's dense `page-%05d.tsv` namespace in partition order and
    * writes a `_PAGES` manifest; aborted/speculative attempts delete
    * their temporaries, so a concurrent reader can never observe a
    * half-written page. Upstream repartitionByRange on the feed key
    * fixes partition ids, so page numbering is deterministic and
    * key-ordered (the pager contract the read side's zone pruning
    * relies on). The query writes the orders feed through the sink,
    * reads it back through the DSv2 reader, and emits parity
    * aggregates the oracle recomputes from the raw table — the gate
    * proves write+read is lossless. */
  private def pagedSink(s: SparkSession, dir: String): DataFrame = {
    val outDir = scratchDir(s, "graft_dsv2_", "_sink_" + dir.replaceAll("[^a-zA-Z0-9.]", "_"))
    buildLock(outDir.getAbsolutePath).synchronized {
      // build ONCE per JVM: the returned reader is a lazy plan that
      // scans after this lock is released, so a repeat invocation must
      // not delete-and-rewrite pages under a still-unscanned reader
      // (r10 ADVICE). The write is deterministic (range partitioning on
      // the key), so the first build serves every later call.
      if (sinkBuilt.add(outDir.getAbsolutePath)) {
        outDir.mkdirs()
        Option(outDir.listFiles()).getOrElse(Array.empty)
          .filter(f => f.getName.endsWith(".tsv") || f.getName == "_PAGES" ||
            f.getName.endsWith(".inprogress"))
          .foreach(_.delete())
        val parts = math.max(s.sparkContext.defaultParallelism, 1)
        try t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
              .as("cents"))
          .repartitionByRange(parts, col("o_orderkey"))
          .sortWithinPartitions("o_orderkey")
          .write.format("graft-paged")
          .option("dir", outDir.getAbsolutePath)
          .mode("append").save()
        catch { case e: Throwable =>
          sinkBuilt.remove(outDir.getAbsolutePath) // failed build: retryable
          throw e
        }
      }
    }
    s.read.format("graft-paged")
      .schema("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, cents BIGINT")
      .option("dir", outDir.getAbsolutePath)
      .load()
      .agg(count(lit(1)).as("n_rows"),
        min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"),
        expr("CAST(pmod(sum(CAST(o_orderkey AS DECIMAL(38,0)))," +
          " 1000000000000000003) AS BIGINT)").as("key_checksum"),
        sum(col("cents").cast("decimal(38,0)")).cast("decimal(38,0)")
          .cast("string").as("sum_cents"))
  }

  private val pagedSinkSql =
    """SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(min(o_orderkey) AS BIGINT) AS min_key,
      |  CAST(max(o_orderkey) AS BIGINT) AS max_key,
      |  CAST(sum(CAST(o_orderkey AS HUGEINT)) % 1000000000000000003
      |    AS BIGINT) AS key_checksum,
      |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS HUGEINT))
      |    AS VARCHAR) AS sum_cents
      |FROM orders""".stripMargin

  val rows: Seq[Q] = Seq(
    Q("q_feeder_load", feederLoad, feederLoadSql),
    Q("q_paged_ingest", pagedIngest, pagedIngestSql),
    Q("q_zip_extract", zipExtract, zipExtractSql, bench = false),
    Q("q_pushdown_filter", pushdownFilter, pushdownFilterSql),
    Q("q_dedup_antijoin", dedupAntijoin, dedupAntijoinSql),
    Q("q_status_map", statusMap, statusMapSql),
    Q("q_date_norm", dateNorm, dateNormSql),
    Q("q_null_norm", nullNorm, nullNormSql),
    Q("q_clamp_truncate", clampTruncate, clampTruncateSql),
    Q("q_wide_projection", wideProjection, wideProjectionSql),
    Q("q_batch_append", batchAppend, batchAppendSql),
    Q("q_upsert_q5010", upsertQ5010, upsertQ5010Sql),
    Q("q_month_repair", monthRepair, monthRepairSql),
    Q("q_wave_sweep", waveSweep, waveSweepSql),
    Q("q_wave_derive", waveDerive, waveDeriveSql),
    Q("q_dedup_skipped", dedupSkipped, dedupSkippedSql),
    Q("q_upsert_scd2", upsertScd2, upsertScd2Sql),
    Q("q_cdc_apply", cdcApply, cdcApplySql),
    Q("q_profile_stats", profileStats, profileStatsSql),
    Q("q_jdbc_roundtrip", jdbcRoundtrip, jdbcRoundtripSql, bench = false),
    Q("q_jdbc_merge", jdbcMerge, jdbcMergeSql, bench = false),
    Q("q_write_layout", writeLayout, writeLayoutSql, bench = false),
    Q("q_quota_progress", quotaProgress, quotaProgressSql),
    Q("q_callback_schedule", callbackSchedule, callbackScheduleSql),
    Q("q_fieldwork_burndown", fieldworkBurndown, fieldworkBurndownSql),
    Q("q_paged_dsv2", pagedDsv2, pagedDsv2Sql, bench = false),
    Q("q_paged_pushdown", pagedPushdown, pagedPushdownSql, bench = false),
    Q("q_paged_http", pagedHttp, pagedHttpSql, bench = false),
    Q("q_export_lifecycle", exportLifecycle, exportLifecycleSql, bench = false),
    Q("q_paged_sink", pagedSink, pagedSinkSql, bench = false),
  )
}

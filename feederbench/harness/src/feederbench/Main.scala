package feederbench

import java.io.{File, FileInputStream, PrintWriter}
import java.sql.DriverManager

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.{GraftSession, SparkEntry}
import graft.operators.{DateRepair, Dedup, FeederTransforms}
import graft.sources.{JdbcFeed, ZippedTabular}
import graft.sources.v2.LoopbackPageServer

/** Run settings, read from the properties file `run.py` writes. */
final class Conf(path: String) {
  private val p = new java.util.Properties()
  locally { val in = new FileInputStream(path); try p.load(in) finally in.close() }
  def apply(k: String): String =
    Option(p.getProperty(k)).getOrElse(sys.error(s"missing setting $k"))
  def long(k: String): Long = apply(k).toLong
  def int(k: String): Int = apply(k).toInt
  def flag(k: String): Boolean = apply(k) == "1"
}

/** One workload: per-setup fixtures, the timed batch, and the untimed
  * steps around it. `batch` returns the rows the batch committed (or, for
  * the registry, the input rows it read). */
abstract class Workload(val c: Conf, val tr: Tracer) {
  var spark: SparkSession = _
  val cores: Int = c.int("cores")
  val out: String = c("out")
  private val held = mutable.ArrayBuffer.empty[DataFrame]

  /** Traced runs materialize each layer's output at its boundary, so the
    * layer's lazy work lands inside its own span; untraced runs keep the
    * plan lazy, exactly as a caller would. */
  def boundary(layer: String, df: DataFrame, rowsKey: String = "rows"): DataFrame =
    if (!tr.enabled) df
    else {
      val p = df.persist(StorageLevel.MEMORY_ONLY)
      held += p
      tr.attr(layer, rowsKey, p.count().toDouble)
      p
    }

  def releaseHeld(): Unit = { held.foreach(_.unpersist(false)); held.clear() }

  def fixture(rep: Int): Unit
  /** Untimed, before every batch: bring the database back to the size
    * every batch starts from. */
  def prepare(): Unit = ()
  def batch(): Long
  /** Untimed, after every batch: throws when the batch's effect is wrong. */
  def verify(): Unit = ()
  /** Untimed, once after the timed loop: probes of known defects of the
    * program (name -> error). They are reported on their own, not as
    * operations of the workload. */
  def knownDefectProbes(): Seq[(String, Option[String])] = Nil
  /** Untimed: write the outputs the oracle check reads. */
  def dump(plantCorruption: Boolean): Unit
  /** True when the dump runs a whole batch's worth of the program on its
    * own inputs: it then stands for the first warm-up batch instead of
    * running again after the timed loop. */
  def dumpWarms: Boolean = false
  /** Cold batches the first set-up runs before the timed loop: enough
    * that the timed batches no longer get faster from one to the next. */
  def warmupBatches: Int = 2
  def teardown(): Unit = ()

  // --- Derby helpers --------------------------------------------------------
  private var dbName = ""
  def url: String = s"jdbc:derby:memory:$dbName"

  def freshDb(rep: Int): Unit = {
    dropDb()
    dbName = s"feederbench_${getClass.getSimpleName.toLowerCase}$rep"
    DriverManager.getConnection(url + ";create=true").close()
  }

  def dropDb(): Unit = if (dbName.nonEmpty) {
    try DriverManager.getConnection(url + ";drop=true").close()
    catch { case _: java.sql.SQLException => () } // Derby reports a drop as 08006
    dbName = ""
  }

  def sql(stmts: String*): Unit = {
    val conn = DriverManager.getConnection(url)
    try { val st = conn.createStatement(); stmts.foreach(st.executeUpdate); st.close() }
    finally conn.close()
  }

  def scalar(q: String): Long = {
    val conn = DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery(q)
      rs.next(); rs.getLong(1)
    } finally conn.close()
  }

  /** Bulk-load a TSV fixture with one prepared batch insert. */
  def loadTsv(table: String, file: String, types: Seq[Char]): Unit = {
    val conn = DriverManager.getConnection(url)
    try {
      conn.setAutoCommit(false)
      val ps = conn.prepareStatement(
        s"INSERT INTO $table VALUES (${types.map(_ => "?").mkString(", ")})")
      val src = scala.io.Source.fromFile(file, "UTF-8")
      try {
        var n = 0
        src.getLines().foreach { line =>
          line.split("\t", -1).zip(types).zipWithIndex.foreach { case ((v, t), i) =>
            if (t == 'L') ps.setLong(i + 1, v.toLong) else ps.setString(i + 1, v)
          }
          ps.addBatch(); n += 1
          if (n % 5000 == 0) ps.executeBatch()
        }
        ps.executeBatch()
      } finally src.close()
      conn.commit()
    } finally conn.close()
  }

  def readTable(table: String): DataFrame =
    spark.read.format("jdbc").option("url", url).option("dbtable", table).load()

  def writeParquet(df: DataFrame, name: String): Unit =
    df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$out/$name")
}

/** Zipped-XLSX wave export -> transforms -> pushed-down lookup -> dedup ->
  * JDBC append into the table the first append creates. */
final class FeederWave(c: Conf, tr: Tracer) extends Workload(c, tr) {
  private val waveDir = s"${c("data")}/wave"
  private val wave = c.int("wave")
  private val expectNew = c.long("expect_new")
  private val schema = StructType(Seq(
    "id" -> LongType, "project" -> StringType, "phone" -> StringType,
    "result_code" -> StringType, "ivdate" -> StringType, "age" -> LongType,
    "name" -> StringType, "region" -> StringType, "score" -> DoubleType,
    "duration_s" -> LongType, "operator" -> StringType, "q1" -> LongType)
    .map { case (n, t) => StructField(n, t) })
  private val loadCols = Seq("id", "phone", "wave", "result", "status", "ivdate", "age",
    "name", "region", "score", "duration_s", "operator", "q1")

  private def transform(raw: DataFrame): DataFrame = {
    import FeederTransforms._
    raw
      .withColumn("wave", waveFromName(col("project")))
      .withColumn("result", resultFor(col("result_code")))
      .filter(!isReject(col("result")))
      .withColumn("status", statusFor(col("result")))
      .withColumn("ivdate", normalizeDate(col("ivdate")))
      .withColumn("age", clampSmallint(col("age")))
      .withColumn("name", truncateTo(blankToNull(col("name")), 100))
      .withColumn("region", blankToNull(col("region")))
      .withColumn("score", nanToNull(col("score")))
      .select(loadCols.map(col): _*)
  }

  /** The wave's rows to insert, built through every layer in order. */
  private def freshRows(): DataFrame = {
    val raw = tr.span("sources.zipped") {
      boundary("sources.zipped",
        ZippedTabular.readZippedXlsxTyped(spark, waveDir, schema))
    }
    val tx = tr.span("operators.transforms") {
      boundary("operators.transforms", transform(raw), "rows_out")
    }
    val existing = tr.span("sources.jdbc.lookup") {
      boundary("sources.jdbc.lookup",
        JdbcFeed.existingKeysReader(spark, url, "recruits_log", "phone", "wave", wave).load())
    }
    tr.span("operators.dedup") {
      val fresh = boundary("operators.dedup", Dedup.newRows(tx, existing, "phone"), "rows_new")
      val skipped = Dedup.skippedRows(tx, existing, "phone").count()
      tr.attr("operators.dedup", "rows_skipped", skipped.toDouble)
      fresh
    }
  }

  /** recruits_log, and the results table as `JdbcFeed.append` creates it
    * on a first (here: empty) load. */
  override def fixture(rep: Int): Unit = {
    freshDb(rep)
    sql("CREATE TABLE recruits_log (phone VARCHAR(16), wave INT)",
      "CREATE INDEX recruits_log_wave ON recruits_log(wave)")
    loadTsv("recruits_log", s"${c("data")}/recruits_log.tsv", Seq('S', 'L'))
    val empty = spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    JdbcFeed.append(transform(empty), url, "results", numWriters = 1)
  }

  override def prepare(): Unit = sql("TRUNCATE TABLE results")

  override def batch(): Long = {
    val fresh = freshRows()
    tr.span("sources.jdbc.append") {
      JdbcFeed.append(fresh, url, "results", numWriters = cores, batchSize = 1000)
    }
    expectNew
  }

  override def verify(): Unit = {
    val n = scalar("SELECT COUNT(*) FROM results")
    tr.attr("sources.jdbc.append", "append_rows", n.toDouble)
    require(n == expectNew, s"results holds $n rows after the batch, expected $expectNew")
  }

  /** The reference's typed target: strings in VARCHAR, age in SMALLINT.
    * The batch keeps its NULL strings. */
  override def knownDefectProbes(): Seq[(String, Option[String])] = {
    sql("""CREATE TABLE results_typed (id BIGINT, phone VARCHAR(16), wave INT,
          | result VARCHAR(16), status VARCHAR(16), ivdate VARCHAR(10), age SMALLINT,
          | name VARCHAR(100), region VARCHAR(64), score DOUBLE, duration_s BIGINT,
          | operator VARCHAR(64), q1 BIGINT)""".stripMargin)
    val err = try {
      JdbcFeed.append(freshRows(), url, "results_typed", numWriters = cores, batchSize = 1000)
      val n = scalar("SELECT COUNT(*) FROM results_typed")
      if (n == expectNew) None else Some(s"results_typed holds $n rows, expected $expectNew")
    } catch { case NonFatal(e) => Some(Main.rootMessage(e)) }
    Seq("typed_null_append" -> err)
  }

  override def dump(plantCorruption: Boolean): Unit = {
    if (plantCorruption)
      // JdbcFeed.append created the table with quoted, lower-case names
      sql("""UPDATE results SET "age" = "age" + 1 WHERE "id" = """ +
        """(SELECT MIN("id") FROM results WHERE "age" IS NOT NULL)""")
    writeParquet(readTable("results"), "appended")
  }

  override def teardown(): Unit = dropDb()
}

/** Corrections feed over HTTP pages -> DateRepair -> keyed MERGE (update
  * and insert mix) and keyed UPDATE into a preloaded, indexed table. */
final class FeederUpsert(c: Conf, tr: Tracer) extends Workload(c, tr) {
  private val pagesDir = s"${c("data")}/pages"
  private val preMax = c.long("preload_max_id")
  private val expectTotal = c.long("preload") + c.long("insert_rows")
  private val ddl = c("ddl")
  private var base = ""

  private def feed(): DataFrame = tr.span("sources.paged") {
    boundary("sources.paged",
      spark.read.format("graft-paged").schema(ddl).option("dir", base).load())
  }

  override def fixture(rep: Int): Unit = {
    freshDb(rep)
    sql("CREATE TABLE results (id BIGINT NOT NULL PRIMARY KEY, q5010 BIGINT, q5011 VARCHAR(19))")
    loadTsv("results", s"${c("data")}/results.tsv", Seq('L', 'L', 'S'))
    base = LoopbackPageServer.serve(new File(pagesDir).getAbsolutePath)
  }

  override def prepare(): Unit = sql(s"DELETE FROM results WHERE id > $preMax")

  override def batch(): Long = {
    val raw = feed()
    if (tr.enabled) tr.attr("sources.paged", "pages", raw.rdd.getNumPartitions.toDouble)
    val repaired = tr.span("operators.repair") {
      boundary("operators.repair",
        DateRepair.repair(raw.withColumn("ivts_t", to_timestamp(col("ivts"))),
          "file_id", "row_no", "q5011", "ivts_t"))
    }
    if (tr.enabled) {
      val changed = repaired.select(col("id"), col("q5011").as("fixed"))
        .join(raw.select("id", "q5011"), "id")
        .filter(!col("fixed").eqNullSafe(col("q5011"))).count()
      tr.attr("operators.repair", "rows_changed", changed.toDouble)
      tr.attr("operators.repair", "groups", c.long("files").toDouble)
    }
    tr.span("sources.jdbc.merge") {
      JdbcFeed.mergeKeyed(repaired.filter(col("kind") === "m"), url, "results", "id",
        Seq("q5010", "q5011"), numWriters = cores, batchSize = 500,
        createTypes = Some("q5011 VARCHAR(19)"))
    }
    tr.span("sources.jdbc.update") {
      JdbcFeed.updateKeyed(repaired.filter(col("kind") === "u"), url, "results", "id",
        Seq("q5010"), numWriters = cores, batchSize = 500)
    }
    c.long("correction_rows")
  }

  override def verify(): Unit = {
    val n = scalar("SELECT COUNT(*) FROM results")
    tr.attr("sources.jdbc.update", "upsert_rows", c.long("correction_rows").toDouble)
    require(n == expectTotal, s"results holds $n rows after the batch, expected $expectTotal")
  }

  /** mergeKeyed into a VARCHAR target with the feed's NULL recruit dates
    * kept as they arrived. */
  override def knownDefectProbes(): Seq[(String, Option[String])] = {
    sql("CREATE TABLE results_probe (id BIGINT NOT NULL PRIMARY KEY, q5010 BIGINT, " +
      "q5011 VARCHAR(19))")
    val err = try {
      val rows = feed().filter(col("kind") === "m")
      JdbcFeed.mergeKeyed(rows, url, "results_probe", "id", Seq("q5010", "q5011"),
        numWriters = cores, batchSize = 500, createTypes = Some("q5011 VARCHAR(19)"))
      val n = scalar("SELECT COUNT(*) FROM results_probe")
      val want = c.long("merge_rows")
      if (n == want) None else Some(s"results_probe holds $n rows, expected $want")
    } catch { case NonFatal(e) => Some(Main.rootMessage(e)) }
    Seq("typed_null_merge" -> err)
  }

  override def dump(plantCorruption: Boolean): Unit = {
    if (plantCorruption)
      sql("UPDATE results SET q5010 = q5010 + 1 WHERE id = (SELECT MIN(id) FROM results)")
    writeParquet(readTable("results"), "upserted")
  }

  override def teardown(): Unit = dropDb()
}

/** Both feeder paths in one batch: a wave load, then a corrections apply,
  * each into its own in-memory Derby database. One workload rather than
  * two keeps every run of the benchmark within its time budget; the
  * append and the merge/update still show apart in the traced run. */
final class Feeder(c: Conf, tr: Tracer) extends Workload(c, tr) {
  private val parts = Seq(new FeederWave(c, tr), new FeederUpsert(c, tr))

  /** Batch times fall until the fifth batch of a JVM: 8.6, 4.1, 3.5, 3.2,
    * then 2.7-3.0 s on 4 vCPUs. */
  override def warmupBatches: Int = 4

  override def fixture(rep: Int): Unit = parts.foreach { p => p.spark = spark; p.fixture(rep) }
  override def prepare(): Unit = parts.foreach(_.prepare())
  override def batch(): Long = parts.map(_.batch()).sum
  override def verify(): Unit = parts.foreach(_.verify())
  override def releaseHeld(): Unit = parts.foreach(_.releaseHeld())
  override def knownDefectProbes(): Seq[(String, Option[String])] =
    parts.flatMap(_.knownDefectProbes())
  override def dump(plantCorruption: Boolean): Unit = parts.foreach(_.dump(plantCorruption))
  override def teardown(): Unit = parts.foreach(_.teardown())
}

/** Four registry queries per batch, each ending in the noop sink. The
  * build (the registry call, including any driver jobs it runs) is timed
  * apart from the action. */
final class RegistryHot(c: Conf, tr: Tracer) extends Workload(c, tr) {
  val keys = Seq("q_hyperanf", "q_canonical_pick", "q_corpus_build", "q_gearys_c")
  private val dir = c("data")

  override def fixture(rep: Int): Unit = ()

  /** The dump runs every query of a pass (to parquet, not noop). */
  override def dumpWarms: Boolean = true
  /** The dump (17-29 s cold), then one noop pass (8-11 s); the passes
    * after that take 6-7 s and stay there. */
  override def warmupBatches: Int = 2

  /** Drop whatever a query left persisted, so every call starts cold;
    * the count of what was left is the `persisted_left` metric. */
  private def release(): Int = {
    val sc = spark.sparkContext
    val left = sc.getPersistentRDDs.size
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(false))
    left
  }

  override def batch(): Long = {
    keys.foreach { k =>
      val df = tr.span(s"queries.$k.build")(SparkEntry.queries(k)(spark, dir))
      tr.span(s"queries.$k.action")(df.write.format("noop").mode(SaveMode.Overwrite).save())
      val left = release()
      tr.attr(s"queries.$k.action", "persisted_left", left.toDouble)
    }
    c.long("pass_input_rows")
  }

  override def dump(plantCorruption: Boolean): Unit = {
    keys.foreach { k =>
      val df = SparkEntry.queries(k)(spark, dir)
      val shown =
        if (plantCorruption && k == "q_gearys_c") df.withColumn("geary_micro", col("geary_micro") + 1)
        else df
      writeParquet(shown, s"queries/$k")
      release()
    }
    val oracle = SparkEntry.oracleSql
    val w = new PrintWriter(s"$out/oracle_sql.json", "UTF-8")
    try w.write(keys.map(k => s"${Main.jstr(k)}: ${Main.jstr(oracle(k))}")
      .mkString("{", ",\n", "}\n"))
    finally w.close()
  }
}

object Main {
  def jstr(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case ch if ch < ' ' => b.append(f"\\u${ch.toInt}%04x")
      case ch => b.append(ch)
    }
    b.append('"').toString
  }

  def rootMessage(e: Throwable): String = {
    var t = e
    while (t.getCause != null && t.getCause != t) t = t.getCause
    s"${t.getClass.getName}: ${Option(t.getMessage).getOrElse("").linesIterator.nextOption().getOrElse("")}"
  }

  private def vmHwmKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  def main(args: Array[String]): Unit = {
    val c = new Conf(args(0))
    val out = c("out")
    new File(out).mkdirs()
    System.setProperty("derby.system.home", out)
    val tr = new Tracer
    val w: Workload = c("workload") match {
      case "feeder" => new Feeder(c, tr)
      case "registry_hot" => new RegistryHot(c, tr)
      case other => sys.error(s"unknown workload $other")
    }
    val cores = c.int("cores")
    val jvmStartNs = System.nanoTime() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime * 1000000L
    val setups = mutable.ArrayBuffer.empty[String]
    val opsFailed = mutable.ArrayBuffer.empty[String]

    /** One set-up: a new session (stopping the previous one) and every
      * fixture; the first also runs the cold batches that warm the JIT,
      * and counts from JVM start. */
    def setUp(rep: Int): Unit = {
      if (w.spark != null) { w.teardown(); w.spark.stop() }
      val t0 = if (rep == 1) jvmStartNs else System.nanoTime()
      val tS = System.nanoTime()
      w.spark = GraftSession.builder(cores.toString, cores.toString)
        .config("spark.local.dir", s"$out/spark-local")
        .config("spark.sql.warehouse.dir", s"$out/warehouse")
        .getOrCreate()
      w.spark.sparkContext.setLogLevel("ERROR")
      tr.attach(w.spark.sparkContext)
      val startS = (System.nanoTime() - tS) / 1e9
      w.fixture(rep)
      val tW = System.nanoTime()
      val warmBatches = mutable.ArrayBuffer.empty[Double]
      def timed(body: => Unit): Unit = {
        val tb = System.nanoTime(); body; warmBatches += (System.nanoTime() - tb) / 1e9
      }
      if (rep == 1) {
        if (w.dumpWarms) timed(w.dump(c.flag("plant_corruption")))
        while (warmBatches.size < w.warmupBatches) timed { w.prepare(); w.batch(); w.verify() }
      }
      val warmS = (System.nanoTime() - tW) / 1e9
      // plain Double.toString: JSON numbers whatever the JVM locale
      setups += s"""{"rep": $rep, "start_s": $startS, "warmup_s": $warmS, """ +
        s""""warmup_batches_s": [${warmBatches.mkString(", ")}], """ +
        s""""total_s": ${(System.nanoTime() - t0) / 1e9}}"""
    }
    // phase ends in seconds since JVM start: where a run's wall time goes
    val phases = mutable.ArrayBuffer.empty[String]
    def phase(name: String): Unit =
      phases += s"${jstr(name)}: ${(System.nanoTime() - jvmStartNs) / 1e9}"
    setUp(1)
    phase("setup1")

    // --- the timed closed loop -----------------------------------------
    val seconds = c("seconds").toDouble
    val batches = mutable.ArrayBuffer.empty[String]
    def loop(traced: Boolean, budgetS: Double): Unit = {
      tr.enabled = traced
      val t0 = System.nanoTime()
      var n = 0
      while (n < c.int("min_batches") || (System.nanoTime() - t0) / 1e9 < budgetS) {
        w.prepare()
        tr.batch = batches.size
        val tb = System.nanoTime()
        val (rows, err) =
          try { val r = w.batch(); (r, None) }
          catch { case NonFatal(e) => (0L, Some(rootMessage(e))) }
        val dt = (System.nanoTime() - tb) / 1e9
        val checkErr = if (err.nonEmpty) err else
          try { w.verify(); None } catch { case NonFatal(e) => Some(rootMessage(e)) }
        if (traced) org.apache.spark.FeederBenchAccess.drainListeners(w.spark.sparkContext)
        w.releaseHeld()
        checkErr.foreach(e => opsFailed += s"batch ${batches.size}: $e")
        batches += s"""{"i": ${batches.size}, "s": $dt, "rows": $rows, """ +
          s""""traced": $traced, "ok": ${checkErr.isEmpty}}"""
        n += 1
      }
    }
    if (c.flag("trace")) { loop(traced = false, seconds / 2); loop(traced = true, seconds / 2) }
    else loop(traced = false, seconds)
    tr.enabled = false
    phase("loop")

    // --- untimed: known-defect probes, outputs for the oracle check -------
    val probes = w.knownDefectProbes()
    phase("probes")
    if (!w.dumpWarms) w.dump(c.flag("plant_corruption"))
    phase("dump")
    val hwm = vmHwmKb()
    // the later set-ups run after the loop, so no timed batch pays for a
    // session that has not run yet; cheap set-ups run more often, so the
    // median has enough of them on every workload
    val tSetups = System.nanoTime()
    var reps = 1
    while (reps < c.int("min_setups") ||
        (reps < c.int("max_setups") && (System.nanoTime() - tSetups) / 1e9 < c("setup_seconds").toDouble)) {
      reps += 1
      setUp(reps)
    }
    phase("setups")
    val res = new PrintWriter(s"$out/result.json", "UTF-8")
    try {
      res.write(
        s"""{"setups": [${setups.mkString(", ")}],
           | "batches": [${batches.mkString(",\n  ")}],
           | "batch_failures": [${opsFailed.map(jstr).mkString(", ")}],
           | "known_defects": [${probes.map { case (n, e) =>
          s"""{"name": ${jstr(n)}, "error": ${e.map(jstr).getOrElse("null")}}""" }.mkString(", ")}],
           | "phases_s": {${phases.mkString(", ")}},
           | "vm_hwm_kb": $hwm,
           | "xmx_bytes": ${Runtime.getRuntime.maxMemory}}
           |""".stripMargin)
    } finally res.close()
    val sp = new PrintWriter(s"$out/spans.json", "UTF-8")
    try sp.write(tr.json) finally sp.close()
    w.teardown()
    w.spark.stop()
    sys.exit(0) // no lingering non-daemon thread may hold the run open
  }
}

package graft

import org.apache.spark.sql.functions._

/** DSv2 paged-feed source (sources/v2/PagedFeed.scala): the REST-pager
  * shape as a TableProvider — pages packed into input partitions by
  * Spark's file-split rule, pruned read schema, full content parity with
  * the parquet truth. */
class PagedFeedSpec extends GraftSuite {
  import PagedFeedSpec.{plannedPages, plannedRuns}

  private val dir = "/root/testdata/sf0.001"

  private def feed = {
    // build the page fixture through the registry query once, then read
    // the same directory directly for the plan-shape assertions
    SparkEntry.queries("q_paged_dsv2")(spark, dir).collect()
    val tmpRoot = new java.io.File(sys.props("java.io.tmpdir"))
    val pageDir = tmpRoot.listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith(
        s"graft_dsv2_${spark.sparkContext.applicationId}"))
      .filter(_.getName.contains("sf0.001"))
      .head
    (pageDir,
      spark.read.format("graft-paged")
        .schema("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, cents BIGINT")
        .option("dir", pageDir.getAbsolutePath).load())
  }

  /** `f` with the SQL confs `kv` set, restoring them after. */
  private def withConf[T](kv: (String, String)*)(f: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** `sizes.length` pages in a fresh directory, page p holding fixed-width
    * 13-byte lines (keys continuing across pages) up to `sizes(p)` bytes. */
  private def sizedPages(tag: String, sizes: Seq[Int]): java.io.File = {
    val tmp = java.nio.file.Files.createTempDirectory(s"graft_dsv2_$tag").toFile
    tmp.deleteOnExit()
    var key = 0
    sizes.zipWithIndex.foreach { case (bytes, p) =>
      require(bytes % 13 == 0)
      val f = new java.io.File(tmp, f"page-$p%05d.tsv")
      f.deleteOnExit()
      val w = new java.io.PrintWriter(f, "UTF-8")
      (0 until bytes / 13).foreach { _ => key += 1; w.print(f"$key%06d\t${p % 10}\tS\t1\n") }
      w.close()
      assert(f.length() == bytes)
    }
    tmp
  }

  private def fileFeed(dir: java.io.File) = spark.read.format("graft-paged")
    .schema("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, cents BIGINT")
    .option("dir", dir.getAbsolutePath).load()

  test("pages pack into contiguous input partitions by Spark's file-split rule") {
    // the registry fixture: every page planned once, in page order
    val (pageDir, df) = feed
    val names = pageDir.listFiles().map(_.getName).filter(_.endsWith(".tsv")).sorted.toSeq
    assert(names.length == math.ceil(
      spark.read.parquet(s"$dir/orders.parquet").count() / 2500.0).toInt)
    assert(plannedRuns(df).flatten == names)
    // N equal small pages of b bytes, open cost o: a partition holds
    // min(maxPartitionBytes, max(o, N·(b + o) / minPartitionNum)) bytes,
    // and a page joins a run while the run's Σ(b + o) plus its b fits,
    // so k = ⌊(split − b) / (b + o)⌋ + 1 pages per run, ⌈N / k⌉ runs
    val (n, b, o, minParts) = (10, 650, 1000, 4)
    val small = sizedPages("pack", Seq.fill(n)(b))
    withConf("spark.sql.files.openCostInBytes" -> o.toString,
      "spark.sql.files.minPartitionNum" -> minParts.toString) {
      val split = n * (b + o) / minParts
      val k = (split - b) / (b + o) + 1
      val runs = plannedRuns(fileFeed(small))
      assert(runs.length == (n + k - 1) / k, s"runs $runs for split $split")
      assert(runs.map(_.length) == Seq(3, 3, 3, 1))
      assert(runs.flatten == (0 until n).map(p => f"page-$p%05d.tsv"))
      assert(fileFeed(small).count() == n * b / 13)
    }
    // the default rule (open cost 4 MB, the session's 4 cores) on the
    // corrections feed's shape: 12 small pages make 4 runs of 3
    assert(spark.sparkContext.defaultParallelism == 4)
    val runs12 = plannedRuns(fileFeed(sizedPages("pack12", Seq.fill(12)(b))))
    assert(runs12.map(_.length) == Seq(3, 3, 3, 3), s"runs $runs12")
    assert(runs12.flatten == (0 until 12).map(p => f"page-$p%05d.tsv"))
    // a page larger than maxPartitionBytes gets a partition of its own
    val mixed = sizedPages("pack_big", Seq(b, 5200, b, b))
    withConf("spark.sql.files.maxPartitionBytes" -> "2000",
      "spark.sql.files.openCostInBytes" -> "100") {
      val runs = plannedRuns(fileFeed(mixed))
      assert(runs == Seq(Seq("page-00000.tsv"), Seq("page-00001.tsv"),
        Seq("page-00002.tsv", "page-00003.tsv")), s"runs $runs")
      assert(fileFeed(mixed).count() == (3 * b + 5200) / 13)
    }
  }

  test("column pruning reaches the reader: a 1-column projection parses 1 field") {
    val (_, df) = feed
    val plan = df.select("o_custkey").queryExecution.executedPlan.toString
    // the scan description prints the pruned field list
    assert(plan.contains("fields=o_custkey"),
      s"read schema not pruned to the projection:\n$plan")
    assert(!plan.contains("fields=o_orderkey,"),
      s"scan still reads the full feed schema:\n$plan")
  }

  test("full content parity with the parquet truth (every column, every row)") {
    val (_, df) = feed
    val got = df.orderBy("o_orderkey").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val want = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
      .orderBy("o_orderkey").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    assert(got.sameElements(want))
  }

  test("key-range pushdown prunes whole pages at planning time") {
    // three pages with disjoint key zones: [1,100], [101,200], [201,300]
    val tmp = java.nio.file.Files.createTempDirectory("graft_dsv2_prune").toFile
    try {
      (0 until 3).foreach { p =>
        val w = new java.io.PrintWriter(
          new java.io.File(tmp, f"page-$p%05d.tsv"), "UTF-8")
        (1 to 100).foreach(i => w.println(s"${p * 100 + i}\t$p\tS\t1"))
        w.close()
      }
      val df = spark.read.format("graft-paged")
        .schema("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, cents BIGINT")
        .option("dir", tmp.getAbsolutePath).load()
      // no filter → all 3 pages planned
      assert(plannedPages(df) == 3)
      // a range inside page 1's zone plans exactly one page
      val mid = df.filter(col("o_orderkey") >= 150L && col("o_orderkey") <= 160L)
      assert(plannedPages(mid) == 1,
        s"mid-range filter planned ${plannedPages(mid)} of 3 pages")
      assert(mid.count() == 11)
      // a range spanning the 1|2 boundary plans two pages
      val span = df.filter(col("o_orderkey") > 150L && col("o_orderkey") < 250L)
      assert(plannedPages(span) == 2,
        s"boundary-spanning filter planned ${plannedPages(span)} of 3 pages")
      assert(span.count() == 99)
      // an out-of-range filter plans ZERO pages
      val empty = df.filter(col("o_orderkey") > 300L)
      assert(plannedPages(empty) == 0,
        s"out-of-range filter still planned ${plannedPages(empty)} pages")
      assert(empty.count() == 0)
      // equality pushes as a point range
      val eq = df.filter(col("o_orderkey") === 42L)
      assert(plannedPages(eq) == 1)
      assert(eq.count() == 1)
    } finally {
      tmp.listFiles().foreach(_.delete()); tmp.delete()
    }
  }

  test("pushed filters reach the scan and the filtered read matches parquet truth") {
    val (_, df) = feed
    val q = df.filter(col("o_orderkey") >= 10L && col("o_orderstatus") === "F")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") && plan.contains("o_orderkey"),
      s"no pushed filters in the scan description:\n$plan")
    val got = q.select("o_orderkey").collect().map(_.getLong(0)).sorted
    val want = spark.read.parquet(s"$dir/orders.parquet")
      .filter(col("o_orderkey") >= 10L && col("o_orderstatus") === "F")
      .select("o_orderkey").collect().map(_.getLong(0)).sorted
    assert(got.sameElements(want))
  }

  test("a filter on a column OUTSIDE the projection still evaluates in the reader") {
    val (_, df) = feed
    val q = df.filter(col("o_orderstatus") === "F").select("o_custkey")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("fields=o_custkey"),
      s"projection not pruned with an out-of-projection filter:\n$plan")
    val want = spark.read.parquet(s"$dir/orders.parquet")
      .filter(col("o_orderstatus") === "F").count()
    assert(q.count() == want)
  }

  test("pushed LIMIT plans only the first ceil(n/pageRows) pages") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_dsv2_limit").toFile
    try {
      (0 until 4).foreach { p =>
        val w = new java.io.PrintWriter(
          new java.io.File(tmp, f"page-$p%05d.tsv"), "UTF-8")
        (1 to 50).foreach(i => w.println(s"${p * 50 + i}\t$p\tS\t1"))
        w.close()
      }
      def feed = spark.read.format("graft-paged")
        .schema("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, cents BIGINT")
        .option("dir", tmp.getAbsolutePath).option("pageRows", "50").load()
      val limited = feed.limit(60)
      assert(limited.count() == 60)
      val plan = limited.queryExecution.executedPlan.toString
      assert(plan.contains("PushedLimit: 60"), s"limit not pushed:\n$plan")
      // 60 rows over 50-row pages → 2 pages planned, 2 never fetched
      // (read the SCAN's pages — the post-limit RDD coalesces)
      val nPlanned = plannedPages(limited)
      assert(nPlanned == 2, s"expected 2 pages for limit 60, planned $nPlanned")
      // a pushed filter disables page-count pruning (rows/page unknown
      // post-filter) but the result stays correct
      val lf = feed.filter(col("o_custkey") >= 1L).limit(10)
      assert(lf.count() == 10)
    } finally {
      tmp.listFiles().foreach(_.delete()); tmp.delete()
    }
  }

  test("the source reports byte/row statistics to the optimizer") {
    val (pageDir, df) = feed
    val stats = df.queryExecution.optimizedPlan.stats
    val onDisk = pageDir.listFiles().filter(_.getName.endsWith(".tsv"))
      .map(_.length()).sum
    assert(stats.sizeInBytes == BigInt(onDisk),
      s"sizeInBytes ${stats.sizeInBytes} != on-disk $onDisk")
  }

  // ---- HTTP transport: the DSv2 scan over http:// URLs against an
  // in-process loopback endpoint (the real GET/Range/retry protocol,
  // zero egress) ----

  private def httpFixture(tag: String, nPages: Int, rowsPerPage: Int)
    : (java.io.File, String) = {
    val tmp = java.nio.file.Files.createTempDirectory(s"graft_http_$tag").toFile
    tmp.deleteOnExit()
    (0 until nPages).foreach { p =>
      val w = new java.io.PrintWriter(
        new java.io.File(tmp, f"page-$p%05d.tsv"), "UTF-8")
      (1 to rowsPerPage).foreach(i =>
        w.println(s"${p * rowsPerPage + i}\t$p\tS\t1"))
      w.close()
    }
    (tmp, graft.sources.v2.LoopbackPageServer.serve(tmp.getAbsolutePath))
  }

  private def httpFeed(base: String) = spark.read.format("graft-paged")
    .schema("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, cents BIGINT")
    .option("dir", base).load()

  test("HTTP transport: full parity with the same pages read from disk") {
    val (tmp, base) = httpFixture("parity", 3, 100)
    val viaHttp = httpFeed(base)
    val viaFile = spark.read.format("graft-paged")
      .schema("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, cents BIGINT")
      .option("dir", tmp.getAbsolutePath).load()
    assert(plannedPages(viaHttp) == 3, "every page planned over HTTP")
    val a = viaHttp.collect().map(_.toSeq).toSet
    val b = viaFile.collect().map(_.toSeq).toSet
    assert(a == b && a.size == 300, "HTTP read diverged from file read")
  }

  test("HTTP transport: Range-request zone probes prune whole pages") {
    val (_, base) = httpFixture("prune", 3, 100)
    val df = httpFeed(base)
    val mid = df.filter(col("o_orderkey") >= 150L && col("o_orderkey") <= 160L)
    assert(plannedPages(mid) == 1,
      s"HTTP zone pruning planned ${plannedPages(mid)} of 3 pages")
    assert(mid.count() == 11)
  }

  test("HTTP transport: byte statistics come from Content-Range totals") {
    val (tmp, base) = httpFixture("stats", 2, 50)
    val stats = httpFeed(base).queryExecution.optimizedPlan.stats
    val onDisk = tmp.listFiles().filter(_.getName.endsWith(".tsv"))
      .map(_.length()).sum
    assert(stats.sizeInBytes == BigInt(onDisk),
      s"HTTP sizeInBytes ${stats.sizeInBytes} != on-disk $onDisk")
  }

  test("HTTP transport: bounded retry/backoff rides out transient 503s") {
    val (tmp, base) = httpFixture("retry", 2, 10)
    // two 503s then success: within the default 3-retry budget
    graft.sources.v2.LoopbackPageServer.failFirst(tmp.getAbsolutePath, 2)
    assert(httpFeed(base).count() == 20)
    // more consecutive 503s than the budget → the task fails loudly
    graft.sources.v2.LoopbackPageServer.failFirst(tmp.getAbsolutePath, 50)
    // the failure may surface at plan time (driver-side size/zone probe)
    // or execution time (task GET wrapped in SparkException) — loud
    // either way, never silently short data
    val ex = intercept[Exception] {
      spark.read.format("graft-paged")
        .schema("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, cents BIGINT")
        .option("dir", base).option("maxRetries", "1")
        .option("retryBackoffMs", "1").load().count()
    }
    def mentions503(t: Throwable): Boolean =
      t != null && (Option(t.getMessage).exists(_.contains("503")) ||
        mentions503(t.getCause))
    assert(mentions503(ex), s"expected HTTP 503 failure: ${ex.getMessage}")
    graft.sources.v2.LoopbackPageServer.failFirst(tmp.getAbsolutePath, 0)
  }

  // 12 pages of a corrections-shaped feed: DateRepair needs a group, an
  // order, a recruit date and an interview timestamp
  private val corrPages = 12
  private val corrRowsPerPage = 40

  private def correctionsFeed(tag: String): (String, org.apache.spark.sql.DataFrame) = {
    val tmp = java.nio.file.Files.createTempDirectory(s"graft_http_$tag").toFile
    tmp.deleteOnExit()
    (0 until corrPages).foreach { p =>
      val w = new java.io.PrintWriter(
        new java.io.File(tmp, f"page-$p%05d.tsv"), "UTF-8")
      (0 until corrRowsPerPage).foreach { i =>
        val id = p * corrRowsPerPage + i
        val rec = if (id % 7 == 0) "\\N" else f"2024-${1 + id % 3}%02d-10 09:00:00"
        w.println(s"$id\t${id % 5}\t$i\t$rec\t2024-02-15 12:00:00")
      }
      w.close()
    }
    val base = graft.sources.v2.LoopbackPageServer.serve(tmp.getAbsolutePath)
    (tmp.getAbsolutePath, spark.read.format("graft-paged")
      .schema("id BIGINT, file_id BIGINT, row_no BIGINT, q5011 STRING, ivts STRING")
      .option("dir", base).load())
  }

  private def repairCorrections(df: org.apache.spark.sql.DataFrame) =
    graft.operators.DateRepair.repair(
      df.withColumn("ivts_t", to_timestamp(col("ivts"))),
      "file_id", "row_no", "q5011", "ivts_t")

  test("HTTP transport: one DataFrame lists its pages once across all its actions") {
    val (dir, df) = correctionsFeed("listing")
    val total = corrPages * corrRowsPerPage
    assert(df.count() == total)
    // a window over the same DataFrame
    assert(repairCorrections(df).collect().length == total)
    // range partitioning samples the source in a job of its own
    val perPart = df.repartitionByRange(4, col("id")).rdd
      .mapPartitions(it => Iterator(it.size)).collect()
    assert(perPart.sum == total)
    val req = graft.sources.v2.LoopbackPageServer.requests(dir)
    // one listing: the manifest plus one 1-byte size probe per page
    assert(req.manifest == 1 && req.ranged == corrPages,
      s"expected 1 manifest GET and $corrPages size probes, got $req")
    assert(req.full >= corrPages, s"pages were never read: $req")
  }

  test("HTTP transport: zone probes run once per DataFrame, and only for a key filter") {
    val (dir, df) = correctionsFeed("zones")
    // no pushed key filter: the listing's size probes and no zone probe
    assert(df.count() == corrPages * corrRowsPerPage)
    val unfiltered = graft.sources.v2.LoopbackPageServer.requests(dir)
    assert(unfiltered.ranged == corrPages,
      s"expected only $corrPages size probes without a key filter, got $unfiltered")
    // ids 50..100 lie in pages 1 [40, 79] and 2 [80, 119]
    val keyed = df.filter(col("id") >= 50L && col("id") <= 100L)
    assert(plannedPages(keyed) == 2)
    assert(keyed.count() == 51)
    assert(keyed.count() == 51)
    // 1 size probe plus 2 zone probes per page, whatever the number of plans
    val req = graft.sources.v2.LoopbackPageServer.requests(dir)
    assert(req.ranged == 3 * corrPages,
      s"expected ${3 * corrPages} ranged GETs over three plans, got $req")
  }

  test("page fetches: DateRepair plus one action GETs every page once") {
    val (dir, df) = correctionsFeed("repair_once")
    val repaired = repairCorrections(df).collect()
    assert(repaired.length == corrPages * corrRowsPerPage)
    val req = graft.sources.v2.LoopbackPageServer.requests(dir)
    assert(req.full == corrPages,
      s"expected $corrPages full page GETs for one repaired action, got $req")
  }

  test("page fetches: updateKeyed from a paged feed GETs every page once") {
    val (dir, df) = correctionsFeed("update_once")
    System.setProperty("derby.system.home", sys.props("java.io.tmpdir"))
    val url = "jdbc:derby:memory:paged_update_once"
    val conn = java.sql.DriverManager.getConnection(url + ";create=true")
    try {
      val st = conn.createStatement()
      st.executeUpdate("CREATE TABLE corr (id BIGINT NOT NULL PRIMARY KEY, row_no BIGINT)")
      (0L until (corrPages * corrRowsPerPage).toLong).grouped(100).foreach { ids =>
        st.executeUpdate("INSERT INTO corr VALUES " + ids.map(i => s"($i, -1)").mkString(", "))
      }
    } finally conn.close()
    graft.sources.JdbcFeed.updateKeyed(df, url, "corr", "id", Seq("row_no"),
      numWriters = 4, batchSize = 50)
    val req = graft.sources.v2.LoopbackPageServer.requests(dir)
    assert(req.full == corrPages,
      s"expected $corrPages full page GETs for one keyed update, got $req")
    val check = java.sql.DriverManager.getConnection(url)
    try {
      val rs = check.createStatement().executeQuery(
        s"SELECT COUNT(*) FROM corr WHERE row_no = MOD(id, $corrRowsPerPage)")
      rs.next()
      assert(rs.getLong(1) == corrPages * corrRowsPerPage, "updates not applied")
    } finally check.close()
  }

  // ---- async export lifecycle (feeder.py:49-122): auth, poll budget,
  // and artifact fidelity against the loopback export API ----

  private def exportFixture(tag: String): (java.io.File, String, Array[Byte]) = {
    val tmp = java.nio.file.Files.createTempDirectory(s"graft_export_$tag").toFile
    tmp.deleteOnExit()
    val payload = s"deterministic export payload for $tag".getBytes("UTF-8")
    val out = new java.util.zip.ZipOutputStream(
      new java.io.FileOutputStream(new java.io.File(tmp, "export.zip")))
    out.putNextEntry(new java.util.zip.ZipEntry("results.csv"))
    out.write(payload)
    out.closeEntry(); out.close()
    val zipBytes = java.nio.file.Files.readAllBytes(
      new java.io.File(tmp, "export.zip").toPath)
    (tmp, graft.sources.v2.LoopbackPageServer.serve(tmp.getAbsolutePath), zipBytes)
  }

  test("export lifecycle: missing/wrong SS-Token gets 401 and fails fast") {
    val (tmp, base, _) = exportFixture("auth")
    graft.sources.v2.LoopbackPageServer.armExport(
      tmp.getAbsolutePath, "right-token", "export.zip", notReadyPolls = 0)
    val ex = intercept[java.io.IOException] {
      graft.sources.v2.ExportLifecycle.fetchExportZip(
        base, projectId = 1, counterId = 2, token = "wrong-token",
        pollDelayMs = 1, maxPolls = 3, retries = 3, backoffMs = 1)
    }
    // 4xx is a config/contract error: fail IMMEDIATELY, never the
    // exponential-backoff retry loop a 5xx gets
    assert(ex.getMessage.contains("401"), ex.getMessage)
  }

  test("export lifecycle: a stuck export exhausts the poll budget loudly") {
    val (tmp, base, _) = exportFixture("budget")
    graft.sources.v2.LoopbackPageServer.armExport(
      tmp.getAbsolutePath, "tok", "export.zip", notReadyPolls = 1000)
    val ex = intercept[java.io.IOException] {
      graft.sources.v2.ExportLifecycle.fetchExportZip(
        base, projectId = 1, counterId = 2, token = "tok",
        pollDelayMs = 1, maxPolls = 4, retries = 1, backoffMs = 1)
    }
    assert(ex.getMessage.contains("not ready after 4 polls"), ex.getMessage)
  }

  test("export lifecycle: not-ready→ready poll sequence delivers the exact artifact") {
    val (tmp, base, want) = exportFixture("happy")
    graft.sources.v2.LoopbackPageServer.armExport(
      tmp.getAbsolutePath, "tok", "export.zip", notReadyPolls = 2)
    val got = graft.sources.v2.ExportLifecycle.fetchExportZip(
      base, projectId = 9, counterId = 5, token = "tok",
      pollDelayMs = 1, maxPolls = 10, retries = 1, backoffMs = 1)
    assert(java.util.Arrays.equals(got, want),
      "downloaded zip differs from the served artifact")
    // a second lifecycle gets a FRESH request id and its own poll
    // countdown — ids never collide across creates
    val again = graft.sources.v2.ExportLifecycle.fetchExportZip(
      base, projectId = 9, counterId = 5, token = "tok",
      pollDelayMs = 1, maxPolls = 10, retries = 1, backoffMs = 1)
    assert(java.util.Arrays.equals(again, want))
  }

  test("headerOpts: authToken maps to SS-Token; httpHeaders parse as Name: value pairs") {
    val h = graft.sources.v2.PageTransport.headerOpts(Map(
      "authToken" -> "secret",
      "httpHeaders" -> "Accept: text/tsv ;; X-Trace: abc:123"))
    assert(h == Map("SS-Token" -> "secret", "Accept" -> "text/tsv",
      "X-Trace" -> "abc:123"))
    assert(graft.sources.v2.PageTransport.headerOpts(Map.empty).isEmpty)
  }

  test("null round-trip: \\N lines decode to NULL, short lines pad with NULL") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_dsv2_nulls").toFile
    try {
      val w = new java.io.PrintWriter(new java.io.File(tmp, "page-00000.tsv"), "UTF-8")
      w.println("1\t\\N\tok\t7")
      w.println("2\t5") // short line: missing trailing fields -> NULL
      w.close()
      val rows = spark.read.format("graft-paged")
        .schema("a BIGINT, b BIGINT, s STRING, c BIGINT")
        .option("dir", tmp.getAbsolutePath).load()
        .orderBy("a").collect()
      assert(rows(0).getLong(0) == 1L && rows(0).isNullAt(1) &&
        rows(0).getString(2) == "ok" && rows(0).getLong(3) == 7L)
      assert(rows(1).getLong(0) == 2L && rows(1).getLong(1) == 5L &&
        rows(1).isNullAt(2) && rows(1).isNullAt(3))
    } finally {
      tmp.listFiles().foreach(_.delete()); tmp.delete()
    }
  }
}

object PagedFeedSpec {
  /** The page names the `graft-paged` scan of `df` planned, one run per
    * input partition (the scan's own partitions: a post-scan RDD may
    * coalesce them). */
  def plannedRuns(df: org.apache.spark.sql.DataFrame): Seq[Seq[String]] =
    df.queryExecution.sparkPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.get.inputPartitions.map {
      case p: graft.sources.v2.PagedFeedPartition => p.pages.map(_.name).toSeq
    }

  /** How many pages the scan of `df` planned. */
  def plannedPages(df: org.apache.spark.sql.DataFrame): Int = plannedRuns(df).map(_.length).sum
}

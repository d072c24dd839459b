package graft.sources.v2

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 provider for the paged-feed shape — the reference's
  * paginated REST crawl (feeder.py:22-47) as a first-class Spark table:
  * `spark.read.format("graft-paged").schema(ddl).option("dir", …).load()`.
  *
  * The page-index space is the parallelism axis: `planInputPartitions`
  * packs CONTIGUOUS runs of pages into input partitions by Spark's own
  * file-split rule (`FilePartition.maxSplitBytes`: a partition holds up
  * to min(`spark.sql.files.maxPartitionBytes`, max(`openCostInBytes`,
  * Σ(bytes + openCost) / minPartitionNum)) bytes, each page costing its
  * bytes plus `openCostInBytes`, a page of unknown size the open cost
  * alone; minPartitionNum is `spark.sql.files.minPartitionNum`, else
  * the default parallelism). A small feed spreads over every core; a
  * 10k-page export becomes a few hundred tasks with Spark's scheduler
  * in charge of retry — never a driver loop. A task requests
  * ALL its partition's pages at once on a shared daemon pool
  * ([[PageOpens]]) and reads the bodies in page order, so the round
  * trips of one partition overlap; at most the partition's pages are
  * in flight per task. Column pruning is pushed into the reader
  * (`SupportsPushDownRequiredColumns`): a 2-column projection parses
  * 2 fields per line however wide the feed.
  *
  * Predicate pushdown (`SupportsPushDownFilters`) mirrors the
  * reference's wave-FILTERED crawl (feeder.py:127-143, `where wave=N`):
  * comparison/null/in filters on any feed column are evaluated inside
  * the reader DURING the parse — rows failing them never surface to
  * Spark — and filters on the feed's ORDER KEY column additionally
  * prune whole pages at planning time. Pages are key-ordered (the pager
  * contract), so each page's [first,last] key span is a zone map: the
  * planner probes just the first and last line of each page file (two
  * bounded reads per page, all sent at once — the stand-in for a pager
  * manifest) and skips pages whose span misses the pushed key range. A
  * key-range scan over a 10k-page feed plans only the overlapping
  * pages.
  *
  * The transport behind a page is pluggable ([[PageTransport]]) and
  * selected by the `dir` option's scheme: a filesystem path reads
  * `page-*.tsv` files directly; an `http(s)://` base URL is the real
  * thing — the reference's `requests.get` loop (feeder.py:22-47) as an
  * executor-side GET per page with bounded retry/backoff and an
  * optional politeness delay (`throttleMs`, the reference's
  * sleep-between-pages at feeder.py:29-33). Planning discovers the
  * page list from the endpoint's `_PAGES` manifest, and zone probes
  * use HTTP Range requests (first/last bytes of a page) so key-range
  * pruning still skips whole pages without fetching them; a server
  * without Range support degrades to no pruning, never to wrong
  * results. Every planning/pruning/scheduling piece is shared between
  * transports.
  *
  * The page list is taken ONCE per DataFrame, as Spark's file sources
  * do (`InMemoryFileIndex`): [[PagedFeedTable]] lists the pages on
  * first planning and every scan, statistics call and action planned
  * from the DataFrame reuses that listing; the zone probes, likewise,
  * run on the first key-filtered plan and are reused by every later
  * one. The page set is therefore fixed when the DataFrame is first
  * planned; `load()` again to see pages appended later.
  *
  * Supported field types: LONG, INT, DOUBLE, STRING, BOOLEAN;
  * `\N` encodes NULL. Lines are TAB-separated in schema order; string
  * values are escaped (see [[PagedTsv]]) so tabs/newlines/backslashes
  * round-trip losslessly and a literal "\N" is distinguishable from
  * NULL.
  */
class PagedFeedProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-paged"

  // schema is caller-declared (a REST feed has no self-describing
  // footer); inferSchema accepts an optional `schema` DDL option for
  // SQL-only callers
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val ddl = options.get("schema")
    require(ddl != null,
      "graft-paged requires .schema(...) or a 'schema' DDL option")
    StructType.fromDDL(ddl)
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new PagedFeedTable(schema, properties.asScala.toMap)

  override def supportsExternalMetadata(): Boolean = true
}

/** One page of the feed: a stable name (ordering key), a transport
  * location (file path or URL), and its size in bytes when known
  * (-1 unknown — statistics then report no byte estimate). */
private[graft] case class PageRef(name: String, loc: String, bytes: Long)

/** The pluggable fetch behind a page. Driver-side: `listPages` (once
  * per DataFrame, by [[PagedFeedTable]]), `firstLine`/`lastLine` (zone
  * probes for key-range pruning — both BOUNDED reads, never the page,
  * every page's probes in flight at once, so they must be thread-safe).
  * Executor-side: `open` (the full page, one bounded unit of IO; a
  * task opens its partition's pages concurrently, so `open` must be
  * thread-safe), started at least `throttleMs` apart within a task.
  * Serializable because the reader factory ships it to executors. */
private[v2] trait PageTransport extends Serializable {
  def listPages(): Array[PageRef]
  def open(ref: PageRef): java.io.BufferedReader
  def firstLine(ref: PageRef): Option[String]
  def lastLine(ref: PageRef): Option[String]
  /** Least gap between two page GET starts within one task: the
    * reference's sleep-between-pages (feeder.py:29-33); 0 = none. */
  def throttleMs: Long = 0L
}

private[graft] object PageTransport {
  /** The daemon pool every page open and listing probe in this JVM runs
    * on. Its threads only wait on round trips, so it is sized for
    * overlap, not for cores; the cap bounds the JVM's concurrent page
    * requests, and idle threads exit. */
  private[v2] lazy val pool: java.util.concurrent.ScheduledThreadPoolExecutor = {
    val p = new java.util.concurrent.ScheduledThreadPoolExecutor(64,
      (r: Runnable) => {
        val th = new Thread(r, "graft-paged-fetch")
        th.setDaemon(true)
        th
      })
    p.setKeepAliveTime(5, java.util.concurrent.TimeUnit.SECONDS)
    p.allowCoreThreadTimeOut(true)
    p
  }

  /** The value of `f`, rethrowing what failed it (an `IOException`
    * stays an `IOException`) on the calling thread. */
  private[v2] def await[T](f: java.util.concurrent.Future[T]): T =
    try f.get()
    catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }

  /** `f` of every element of `xs`, all sent at once on [[pool]], in the
    * order of `xs`. The first call that fails fails the whole; the calls
    * still pending are then dropped. */
  private[v2] def concurrently[A, B: scala.reflect.ClassTag](xs: Seq[A])(f: A => B): Array[B] = {
    val calls = xs.map(x => pool.submit(new java.util.concurrent.Callable[B] {
      override def call(): B = f(x)
    }))
    try calls.map(await(_)).toArray
    finally calls.foreach(_.cancel(true))
  }

  /** Scheme-dispatch: http(s):// base URL → HTTP transport; anything
    * else is a local/NFS directory of page files. */
  def forDir(opts: Map[String, String]): PageTransport = {
    val dir = opts.getOrElse("dir",
      throw new IllegalArgumentException("graft-paged: 'dir' option required"))
    if (dir.startsWith("http://") || dir.startsWith("https://"))
      new HttpPageTransport(dir.stripSuffix("/"),
        retries = opts.getOrElse("maxRetries", "3").toInt,
        backoffMs = opts.getOrElse("retryBackoffMs", "100").toLong,
        throttleMs = opts.getOrElse("throttleMs", "0").toLong,
        headers = headerOpts(opts))
    else new FilePageTransport(dir)
  }

  /** Per-request headers from the read options: `authToken` is the
    * reference's `SS-Token` auth header (feeder.py:15-16), sent with
    * EVERY request the transport makes (manifest, probes, page GETs);
    * `httpHeaders` adds arbitrary ones as `Name: value` pairs separated
    * by `;;` (a feed behind a gateway wants e.g. Accept overrides). */
  private[graft] def headerOpts(opts: Map[String, String]): Map[String, String] = {
    val auth = opts.get("authToken").map("SS-Token" -> _)
    val extra = opts.get("httpHeaders").toSeq
      .flatMap(_.split(";;")).map(_.trim).filter(_.nonEmpty)
      .map { h =>
        val i = h.indexOf(':')
        require(i > 0, s"graft-paged: malformed httpHeaders entry '$h'")
        h.substring(0, i).trim -> h.substring(i + 1).trim
      }
    (extra ++ auth).toMap
  }
}

/** Zero-egress transport: pages are `page-*.tsv` files in a directory
  * (local disk in tests; a posix mount in production). */
private[v2] class FilePageTransport(dir: String) extends PageTransport {
  override def listPages(): Array[PageRef] =
    Option(new java.io.File(dir).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(f => f.isFile && f.getName.startsWith("page-") &&
        f.getName.endsWith(".tsv"))
      .sortBy(_.getName)
      .map(f => PageRef(f.getName, f.getAbsolutePath, f.length()))

  override def open(ref: PageRef): java.io.BufferedReader =
    new java.io.BufferedReader(new java.io.InputStreamReader(
      new java.io.FileInputStream(ref.loc), "UTF-8"))

  override def firstLine(ref: PageRef): Option[String] =
    PagedFeedScan.firstLine(new java.io.File(ref.loc))

  override def lastLine(ref: PageRef): Option[String] =
    PagedFeedScan.lastLine(new java.io.File(ref.loc))
}

/** The production transport: each page is `GET <base>/<page-name>` —
  * the reference's paginated crawl (feeder.py:22-47), with its retry
  * and sleep-between-pages politeness re-expressed as per-request
  * bounded retry/backoff (5xx and connection faults retry with
  * exponential backoff; 4xx fails fast — a missing page is a contract
  * violation, not a transient) and an optional `throttleMs` gap
  * between page fetch starts (kept by [[PageOpens]]). Listing the pages
  * reads the page count from `GET <base>/_PAGES` (`pages=N`, the
  * manifest the sink writes), then sends one size probe per page, all
  * at once on [[PageTransport.pool]]; it runs once per DataFrame (see
  * [[PagedFeedTable]]), not per plan. The zone probes are HTTP Range
  * requests, also sent all at once and also taken once per DataFrame:
  * `bytes=0-8191` for the first line, a suffix range for the last — a
  * server answering 200 (no Range support) degrades that page to
  * "unprunable", never to a wrong prune. */
private[v2] class HttpPageTransport(base: String, retries: Int,
                                    backoffMs: Long, override val throttleMs: Long,
                                    headers: Map[String, String] = Map.empty)
  extends PageTransport {

  // per-request auth/custom headers (feeder.py:15-16's SS-Token):
  // every manifest read, zone probe, and page GET carries them
  private def connect(url: String, range: Option[String]): java.net.HttpURLConnection =
    Http.exchange("graft-paged", url, "GET", headers ++ range.map("Range" -> _), None,
      retries, backoffMs)

  private def readAll(c: java.net.HttpURLConnection): String =
    new String(Http.readAll(c), "UTF-8")

  override def listPages(): Array[PageRef] = {
    val manifest = readAll(connect(s"$base/_PAGES", None))
    val pages = manifest.linesIterator
      .collectFirst { case l if l.startsWith("pages=") =>
        l.stripPrefix("pages=").trim.toInt }
      .getOrElse(throw new java.io.IOException(
        s"graft-paged: $base/_PAGES has no pages= line"))
    PageTransport.concurrently(0 until pages)(i => sized(f"page-$i%05d.tsv"))
  }

  // byte size from a 1-byte ranged GET's Content-Range total (one cheap
  // bounded round trip per page per listing, and the table lists once
  // per DataFrame); -1 when the server doesn't say
  private def sized(name: String): PageRef = {
    val c = connect(s"$base/$name", Some("bytes=0-0"))
    try {
      val len =
        if (c.getResponseCode == 206)
          Option(c.getHeaderField("Content-Range"))
            .flatMap(_.split("/").lastOption)
            .flatMap(s => scala.util.Try(s.trim.toLong).toOption)
            .getOrElse(-1L)
        else c.getContentLengthLong
      c.getInputStream.close()
      PageRef(name, s"$base/$name", len)
    } finally c.disconnect()
  }

  override def open(ref: PageRef): java.io.BufferedReader = {
    val c = connect(ref.loc, None)
    new java.io.BufferedReader(
      new java.io.InputStreamReader(c.getInputStream, "UTF-8")) {
      override def close(): Unit = { super.close(); c.disconnect() }
    }
  }

  override def firstLine(ref: PageRef): Option[String] = {
    val c = connect(ref.loc, Some("bytes=0-8191"))
    val partial = c.getResponseCode == 206
    val in = new java.io.BufferedReader(
      new java.io.InputStreamReader(c.getInputStream, "UTF-8"))
    try {
      val l = Option(in.readLine())
      // a 206 window that held no full line (pathologically long first
      // line) is indistinguishable from a complete short page — only
      // trust it if a newline or EOF bounded the line. 8 KiB covers any
      // sane feed row; when in doubt return None (no prune).
      if (partial) l.filter(_.length < 8191) else l
    } finally { in.close(); c.disconnect() }
  }

  override def lastLine(ref: PageRef): Option[String] = {
    val c = connect(ref.loc, Some("bytes=-8192"))
    if (c.getResponseCode != 206) {
      // no Range support: the suffix request returned the WHOLE page —
      // reading it to find the last line would defeat the point of a
      // bounded probe. Degrade to "unprunable".
      c.getInputStream.close(); c.disconnect()
      return None
    }
    val s = readAll(c)
    val lines = s.split("\n").filter(_.nonEmpty)
    // the window holds a full last line iff it spans a preceding
    // newline (or the whole page fit inside it)
    if (s.length < 8192 || (s.indexOf('\n') >= 0 && lines.length > 1))
      lines.lastOption.map(_.stripSuffix("\r"))
    else None
  }
}

/** Lossless TSV string codec shared by the reader and the sink.
  * MySQL-dump-style escapes: `\\` `\t` `\n` `\r` — so a string value
  * can never break the line/field framing, and a literal "\N" encodes
  * as `\\N`, distinguishable from the bare NULL sentinel `\N`.
  * `unescape(escape(s)) == s` for every string (PagedSinkSpec pins a
  * hostile-characters round-trip). Both directions are identity on
  * strings without special characters, so pre-existing plain fixtures
  * parse unchanged. */
private[v2] object PagedTsv {
  def escape(s: String): String = {
    var needs = false
    var i = 0
    while (!needs && i < s.length) {
      val c = s.charAt(i)
      needs = c == '\\' || c == '\t' || c == '\n' || c == '\r'
      i += 1
    }
    if (!needs) return s
    val sb = new java.lang.StringBuilder(s.length + 8)
    i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '\\' => sb.append("\\\\")
        case '\t' => sb.append("\\t")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case c => sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  def unescape(s: String): String = {
    if (s.indexOf('\\') < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case '\\' => sb.append('\\'); i += 2
          case 't' => sb.append('\t'); i += 2
          case 'n' => sb.append('\n'); i += 2
          case 'r' => sb.append('\r'); i += 2
          case _ => sb.append(c); i += 1 // unknown escape: keep verbatim
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }
}

/** One per `load()`. `pages` is the feed's listing and `zones` its
  * pages' (first line, last line) pairs, each taken on first use and
  * shared by every scan planned from this table: Spark calls
  * `estimateStatistics` many times per query and builds a new `Scan`
  * per action, AQE re-plan and range-partition sample. Only a scan
  * with a pushed key range reads `zones`. */
private[v2] class PagedFeedTable(schema: StructType, props: Map[String, String])
  extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  private lazy val transport = PageTransport.forDir(props)
  private lazy val pages: Array[PageRef] = transport.listPages()
  private lazy val zones: Array[PageZone] = PagedFeedScan.zones(transport, pages)

  override def name(): String = s"graft_paged(${props.getOrElse("dir", "?")})"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new PagedFeedScanBuilder(schema, options.asScala.toMap ++ props, () => pages,
      () => zones)
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
    : org.apache.spark.sql.connector.write.WriteBuilder =
    new PagedFeedWriteBuilder(info.schema(),
      info.options().asScala.toMap ++ props)
}

private[v2] class PagedFeedScanBuilder(full: StructType, opts: Map[String, String],
                                       listing: () => Array[PageRef],
                                       zones: () => Array[PageZone])
  extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters with SupportsPushDownLimit {
  private var required: StructType = full
  private var pushed: Array[Filter] = Array.empty
  private var limit: Int = -1

  override def pruneColumns(requiredSchema: StructType): Unit =
    // Spark hands back a subset of `full` in full-schema order
    required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, residual) = filters.partition(PagedFeedScan.supported(full, _))
    pushed = accepted
    // accepted filters are FULLY evaluated in the reader → only the
    // residual goes back to Spark for post-scan evaluation
    residual
  }

  override def pushedFilters(): Array[Filter] = pushed

  // a pager client fetches only the first ceil(n/pageRows) pages for a
  // LIMIT n — the planning win of a paged source. Partial push: Spark
  // keeps its own global limit (return false), the source just stops
  // fetching/parsing early.
  override def pushLimit(n: Int): Boolean = { limit = n; false }

  override def build(): Scan =
    new PagedFeedScan(full, required, pushed, limit, opts, listing, zones)
}

private[v2] object PagedFeedScan {
  /** Filters the reader can evaluate exactly during the parse. Anything
    * else (And/Or trees, string predicates, …) stays with Spark. */
  def supported(full: StructType, f: Filter): Boolean = {
    val names = full.fieldNames.toSet
    f match {
      case sources.EqualTo(a, _) => names(a)
      case sources.GreaterThan(a, _) => names(a)
      case sources.GreaterThanOrEqual(a, _) => names(a)
      case sources.LessThan(a, _) => names(a)
      case sources.LessThanOrEqual(a, _) => names(a)
      case sources.In(a, _) => names(a)
      case sources.IsNull(a) => names(a)
      case sources.IsNotNull(a) => names(a)
      case _ => false
    }
  }

  /** The pushed key range [lo, hi] (inclusive, Long.Min/Max when open)
    * implied by the key-column filters — drives page-zone pruning. */
  def keyRange(keyCol: String, filters: Array[Filter]): (Long, Long) = {
    var lo = Long.MinValue
    var hi = Long.MaxValue
    def num(v: Any): Option[Long] = v match {
      case l: java.lang.Long => Some(l)
      case i: java.lang.Integer => Some(i.toLong)
      case _ => None
    }
    filters.foreach {
      case sources.EqualTo(a, v) if a == keyCol =>
        num(v).foreach { l => lo = math.max(lo, l); hi = math.min(hi, l) }
      case sources.GreaterThan(a, v) if a == keyCol =>
        num(v).foreach(l => lo = math.max(lo, if (l == Long.MaxValue) l else l + 1))
      case sources.GreaterThanOrEqual(a, v) if a == keyCol =>
        num(v).foreach(l => lo = math.max(lo, l))
      case sources.LessThan(a, v) if a == keyCol =>
        num(v).foreach(l => hi = math.min(hi, if (l == Long.MinValue) l else l - 1))
      case sources.LessThanOrEqual(a, v) if a == keyCol =>
        num(v).foreach(l => hi = math.min(hi, l))
      case sources.In(a, vs) if a == keyCol =>
        val ls = vs.flatMap(num)
        if (ls.nonEmpty && ls.length == vs.length) {
          lo = math.max(lo, ls.min); hi = math.min(hi, ls.max)
        }
      case _ =>
    }
    (lo, hi)
  }

  /** Spark's split size for file scans (`FilePartition.maxSplitBytes`)
    * over pages of `sizes` bytes: min(maxPartitionBytes, max(openCost,
    * Σ(bytes + openCost) / minPartitionNum)), a size < 0 (unknown)
    * counting as 0 bytes. */
  def maxSplitBytes(sizes: Seq[Long], maxPartitionBytes: Long, openCost: Long,
                    minPartitionNum: Int): Long = {
    val total = sizes.map(b => math.max(b, 0L) + openCost).sum
    math.min(maxPartitionBytes, math.max(openCost, total / math.max(minPartitionNum, 1)))
  }

  /** `pages` cut into contiguous runs the way Spark packs files into
    * partitions (`FilePartition.getFilePartitions`, without its
    * largest-first sort: pages keep their order): a run closes before
    * a page whose bytes would take it past [[maxSplitBytes]], and each
    * page adds its bytes plus `openCost` to its run. A page larger than
    * the split gets a run of its own. */
  def pack(pages: Array[PageRef], maxPartitionBytes: Long, openCost: Long,
           minPartitionNum: Int): Array[Array[PageRef]] = {
    val split = maxSplitBytes(pages.toSeq.map(_.bytes), maxPartitionBytes, openCost,
      minPartitionNum)
    val runs = Array.newBuilder[Array[PageRef]]
    val run = Array.newBuilder[PageRef]
    var runPages = 0
    var runBytes = 0L
    pages.foreach { p =>
      val bytes = math.max(p.bytes, 0L)
      if (runPages > 0 && runBytes + bytes > split) {
        runs += run.result(); run.clear(); runPages = 0; runBytes = 0L
      }
      run += p; runPages += 1; runBytes += bytes + openCost
    }
    if (runPages > 0) runs += run.result()
    runs.result()
  }

  /** Every page's zone probes, the first and last line of each page
    * sent together on [[PageTransport.pool]]. */
  def zones(transport: PageTransport, pages: Array[PageRef]): Array[PageZone] =
    PageTransport.concurrently(pages.toSeq.flatMap(p => Seq(p -> true, p -> false))) {
      case (p, first) => if (first) transport.firstLine(p) else transport.lastLine(p)
    }.grouped(2).map(fl => PageZone(fl(0), fl(1))).toArray

  /** First line of a page file — one bounded read. */
  def firstLine(f: java.io.File): Option[String] = {
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(
      new java.io.FileInputStream(f), "UTF-8"))
    try Option(in.readLine()) finally in.close()
  }

  /** Last line of a page file — backward probe from EOF, expanding the
    * tail window until a newline-delimited full line is seen. Bounded:
    * O(line length), never the file. */
  def lastLine(f: java.io.File): Option[String] = {
    val len = f.length()
    if (len == 0) return None
    val raf = new java.io.RandomAccessFile(f, "r")
    try {
      var window = 4096L
      while (true) {
        val start = math.max(0L, len - window)
        raf.seek(start)
        val buf = new Array[Byte]((len - start).toInt)
        raf.readFully(buf)
        val s = new String(buf, "UTF-8")
        val lines = s.split("\n").filter(_.nonEmpty)
        // the window holds a full line iff it spans a preceding newline
        // (or the file start)
        if (start == 0 || s.indexOf('\n') >= 0 && lines.length > 1)
          return lines.lastOption.map(_.stripSuffix("\r"))
        window *= 4
      }
      None
    } finally raf.close()
  }
}

private[v2] class PagedFeedScan(full: StructType, required: StructType,
                                pushed: Array[Filter], limit: Int,
                                opts: Map[String, String],
                                listing: () => Array[PageRef],
                                zones: () => Array[PageZone])
  extends Scan with Batch with SupportsReportStatistics {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-paged dir=${opts.getOrElse("dir", "?")} " +
      s"fields=${required.fieldNames.mkString(",")} " +
      s"PushedFilters: [${pushed.mkString(", ")}]" +
      (if (limit >= 0) s" PushedLimit: $limit" else "")

  private val transport: PageTransport = PageTransport.forDir(opts)

  /** Feed-level size/row estimate for the optimizer (AQE, broadcast
    * decisions): bytes from the table's page listing (file sizes /
    * HTTP Content-Length); rows exact-ish when the pager declares its
    * page size (`pageRows`). */
  override def estimateStatistics(): Statistics = {
    val pages = listing()
    val bytes =
      if (pages.exists(_.bytes < 0)) None else Some(pages.map(_.bytes).sum)
    val rows = opts.get("pageRows").map(_.toLong)
      .map(pr => math.max(pages.length - 1, 0) * pr + 1)
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        bytes.map(java.util.OptionalLong.of).getOrElse(java.util.OptionalLong.empty())
      override def numRows(): java.util.OptionalLong =
        rows.map(java.util.OptionalLong.of).getOrElse(java.util.OptionalLong.empty())
    }
  }

  override def planInputPartitions(): Array[InputPartition] = {
    var pages = listing()
    // pushed LIMIT with a declared page size and no pushed filters:
    // only the first ceil(n/pageRows) pages can contribute — the rest
    // are never fetched (pages are key-ordered by the pager contract)
    val pageRows = opts.get("pageRows").map(_.toLong).getOrElse(-1L)
    if (limit >= 0 && pushed.isEmpty && pageRows > 0) {
      val need = ((limit + pageRows - 1) / pageRows).toInt
      pages = pages.take(math.max(need, 1))
    }
    // page-zone pruning: the feed's order key (option `keyCol`, default
    // the first schema field when it's integral) is nondecreasing across
    // a page, so [first,last] of each page is its key zone
    val keyCol = opts.getOrElse("keyCol",
      if (full.nonEmpty && (full.head.dataType == LongType ||
        full.head.dataType == IntegerType)) full.head.name else "")
    val keyIdx = full.fieldNames.indexOf(keyCol)
    val (lo, hi) = if (keyIdx >= 0)
      PagedFeedScan.keyRange(keyCol, pushed) else (Long.MinValue, Long.MaxValue)
    val kept =
      if (lo == Long.MinValue && hi == Long.MaxValue) pages
      else {
        def key(line: Option[String]): Option[Long] =
          line.map(_.split("\t", -1)).filter(_.length > keyIdx)
            .flatMap(p => scala.util.Try(p(keyIdx).toLong).toOption)
        def overlaps(z: PageZone): Boolean = (key(z.first), key(z.last)) match {
          case (Some(first), Some(last)) => last >= lo && first <= hi
          case _ => true // unreadable zone → never prune on a guess
        }
        // `pages` is a prefix of the listing, so page i's zone is zones(i)
        pages.zip(zones()).collect { case (ref, z) if overlaps(z) => ref }
      }
    // contiguous runs of the kept pages, packed by Spark's file-split
    // rule: the reference's PageNumber loop, cut into one run per task
    val conf = SQLConf.get
    val minPartitionNum = conf.filesMinPartitionNum
      .orElse(conf.getConf(SQLConf.LEAF_NODE_DEFAULT_PARALLELISM))
      .getOrElse(SparkSession.active.sparkContext.defaultParallelism)
    PagedFeedScan.pack(kept, conf.filesMaxPartitionBytes, conf.filesOpenCostInBytes,
      minPartitionNum).map(PagedFeedPartition(_): InputPartition)
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val fullNames = full.fieldNames
    val picks = required.fields.map { rf =>
      val i = fullNames.indexOf(rf.name)
      require(i >= 0, s"graft-paged: unknown column ${rf.name}")
      (i, rf.dataType)
    }
    // filter columns may lie outside the projection — parse them too,
    // but only for evaluation, never surfaced
    val filterCols = pushed.flatMap(_.references).distinct
      .map { name =>
        val i = fullNames.indexOf(name)
        require(i >= 0, s"graft-paged: unknown filter column $name")
        name -> ((i, full.fields(i).dataType))
      }.toMap
    new PagedFeedReaderFactory(picks, pushed, filterCols, limit, transport)
  }
}

/** A page's first and last line (None when a bounded probe could not
  * read a full line): the key zone planning prunes by. */
private[v2] case class PageZone(first: Option[String], last: Option[String])

/** One task's contiguous run of pages, in page order. */
private[graft] case class PagedFeedPartition(pages: Array[PageRef])
  extends InputPartition

/** Serializable factory shipped to executors: holds only the (source
  * field index, type) projection, the pushed-filter program, and the
  * transport — never the full page list. */
private[v2] class PagedFeedReaderFactory(picks: Array[(Int, DataType)],
                                         pushed: Array[Filter],
                                         filterCols: Map[String, (Int, DataType)],
                                         limit: Int,
                                         transport: PageTransport)
  extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[PagedFeedPartition]
    new PagedFeedReader(p.pages, picks, pushed, filterCols, limit, transport)
  }
}

/** The GETs of one task's pages, all in flight at once on
  * [[PageTransport.pool]], so their round trips overlap. Page i+1's
  * request starts once page i's has started and, with `throttleMs`
  * set, that many milliseconds later; with no throttle every page is
  * requested at once. `await(i)` hands page i's open body to the task
  * thread, or throws what failed its GET (the `IOException` of a GET
  * that ran out of retries). `close()` closes every body already open;
  * a request still in flight closes its body when it returns, and one
  * not yet started is never sent. */
private[v2] final class PageOpens(pages: Array[PageRef], transport: PageTransport)
  extends java.io.Closeable {
  import java.util.concurrent.{CompletableFuture, TimeUnit}

  private val bodies = Array.fill(pages.length)(new CompletableFuture[java.io.BufferedReader])
  private val gapNs = TimeUnit.MILLISECONDS.toNanos(transport.throttleMs)
  // when each page's request started; Long.MinValue until it has
  private val startedNs = new java.util.concurrent.atomic.AtomicLongArray(
    Array.fill(pages.length)(Long.MinValue))

  if (pages.nonEmpty) schedule(0, 0L)

  private def schedule(i: Int, delayNs: Long): Unit =
    PageTransport.pool.schedule(new Runnable { override def run(): Unit = start(i) },
      delayNs, TimeUnit.NANOSECONDS)

  private def start(i: Int): Unit = {
    if (bodies(i).isDone) return // closed before this page's turn
    if (gapNs > 0 && i > 0) {
      // page i was scheduled before page i-1's start was stamped, so the
      // gap is checked against the stamp itself
      val prev = startedNs.get(i - 1)
      val wait = if (prev == Long.MinValue) gapNs else prev + gapNs - System.nanoTime()
      if (wait > 0) return schedule(i, wait)
    }
    if (i + 1 < pages.length) schedule(i + 1, gapNs)
    startedNs.set(i, System.nanoTime())
    try {
      val body = transport.open(pages(i))
      if (!bodies(i).complete(body)) body.close() // closed while in flight
    } catch { case t: Throwable => bodies(i).completeExceptionally(t) }
  }

  def await(i: Int): java.io.BufferedReader = PageTransport.await(bodies(i))

  override def close(): Unit = {
    val closed = new java.io.IOException("graft-paged: reader closed")
    bodies.foreach { f =>
      if (!f.completeExceptionally(closed) && !f.isCompletedExceptionally) f.join().close()
    }
  }
}

/** Reads one task's pages in page order, all of their GETs started at
  * once ([[PageOpens]]). */
private[v2] class PagedFeedReader(pages: Array[PageRef], picks: Array[(Int, DataType)],
                                  pushed: Array[Filter],
                                  filterCols: Map[String, (Int, DataType)],
                                  limit: Int,
                                  transport: PageTransport)
  extends PartitionReader[InternalRow] {
  private val opens = new PageOpens(pages, transport)
  // every page's lines in page order; a page is closed once read
  private val lines = pages.indices.iterator.flatMap { i =>
    val src = opens.await(i)
    Iterator.continually(src.readLine()).takeWhile(l => l != null || { src.close(); false })
  }
  private var row: InternalRow = _
  private var emitted = 0L

  private def parse(parts: Array[String], srcIdx: Int, dt: DataType): Any = {
    val raw = if (srcIdx < parts.length) parts(srcIdx) else "\\N"
    if (raw == "\\N") null
    else dt match {
      case LongType => raw.toLong
      case IntegerType => raw.toInt
      case DoubleType => raw.toDouble
      case BooleanType => raw.toBoolean
      case StringType => PagedTsv.unescape(raw)
      case other =>
        throw new IllegalArgumentException(s"graft-paged: unsupported type $other")
    }
  }

  // type-aware three-way compare on parsed JVM values; null never matches
  private def cmp(a: Any, b: Any): Option[Int] = (a, b) match {
    case (null, _) | (_, null) => None
    case (x: Long, y: java.lang.Number) => Some(java.lang.Long.compare(x, y.longValue))
    case (x: Int, y: java.lang.Number) => Some(java.lang.Long.compare(x.toLong, y.longValue))
    case (x: Double, y: java.lang.Number) => Some(java.lang.Double.compare(x, y.doubleValue))
    case (x: String, y: String) => Some(x.compareTo(y))
    case (x: Boolean, y: java.lang.Boolean) => Some(java.lang.Boolean.compare(x, y))
    case _ => None
  }

  private def eval(parts: Array[String], f: Filter): Boolean = {
    def v(name: String): Any = {
      val (i, dt) = filterCols(name)
      parse(parts, i, dt)
    }
    f match {
      case sources.EqualTo(a, x) => cmp(v(a), x).contains(0)
      case sources.GreaterThan(a, x) => cmp(v(a), x).exists(_ > 0)
      case sources.GreaterThanOrEqual(a, x) => cmp(v(a), x).exists(_ >= 0)
      case sources.LessThan(a, x) => cmp(v(a), x).exists(_ < 0)
      case sources.LessThanOrEqual(a, x) => cmp(v(a), x).exists(_ <= 0)
      case sources.In(a, xs) => { val av = v(a); xs.exists(x => cmp(av, x).contains(0)) }
      case sources.IsNull(a) => v(a) == null
      case sources.IsNotNull(a) => v(a) != null
      case _ => true // unreachable: pushFilters only accepts the above
    }
  }

  override def next(): Boolean = {
    // pushed limit: no partition needs more than `limit` surviving rows
    // (Spark's own global limit dedups across partitions) — the task
    // stops parsing as soon as the budget is spent, and close() drops
    // the pages it never read
    if (limit >= 0 && emitted >= limit) return false
    while (lines.hasNext) {
      val parts = lines.next().split("\t", -1)
      if (pushed.forall(eval(parts, _))) {
        val values = new Array[Any](picks.length)
        var i = 0
        while (i < picks.length) {
          val (srcIdx, dt) = picks(i)
          values(i) = parse(parts, srcIdx, dt) match {
            case s: String => UTF8String.fromString(s)
            case other => other
          }
          i += 1
        }
        row = InternalRow.fromSeq(values.toIndexedSeq)
        emitted += 1
        return true
      }
    }
    false
  }

  override def get(): InternalRow = row
  override def close(): Unit = opens.close()
}

// ===========================================================================
// Write path — the feeder's LOAD side as a DSv2 BatchWrite
// ===========================================================================

/** The write half of the paged feed: `df.write.format("graft-paged")
  * .option("dir", …).mode("append").save()` — the reference's batch
  * INSERT loop (feeder.py:230-243) as a first-class Spark sink with
  * the REAL two-phase commit protocol:
  *
  *   - each task writes its partition to `…/.page-<partition>-<task>
  *     .inprogress` (never visible to a concurrent reader), emits a
  *     commit message carrying (partitionId, tmpPath, rows);
  *   - the driver's `BatchWrite.commit` renames the temporaries into
  *     the reader's `page-%05d.tsv` namespace in partition order —
  *     pages are dense and deterministic because upstream partitioning
  *     (e.g. repartitionByRange on the feed key) fixes partition ids —
  *     then writes a `_PAGES` manifest (page/row counts);
  *   - `abort` (or a failed/speculative attempt's `abort()`) deletes
  *     its temporary, so half-written pages can never be read.
  *
  * Line format mirrors the reader exactly: TAB-separated in schema
  * order, `\N` for NULL, types LONG/INT/DOUBLE/STRING/BOOLEAN. A
  * production JDBC/HTTP transport would replace the rename with its
  * endpoint's commit call and keep the protocol unchanged. */
private[v2] class PagedFeedWriteBuilder(schema: StructType,
                                        opts: Map[String, String])
  extends org.apache.spark.sql.connector.write.WriteBuilder {
  import org.apache.spark.sql.connector.write._

  override def build(): Write = new Write {
    override def toBatch: BatchWrite = new PagedFeedBatchWrite(schema, opts)
  }
}

private[v2] class PagedFeedBatchWrite(schema: StructType,
                                      opts: Map[String, String])
  extends org.apache.spark.sql.connector.write.BatchWrite {
  import org.apache.spark.sql.connector.write._

  private val dir = opts.getOrElse("dir",
    throw new IllegalArgumentException("graft-paged: 'dir' option required"))

  // per-write id baked into every temporary's name: commit/abort
  // cleanup can then target ONLY this write's stragglers (failed or
  // speculative attempts), never a concurrent append's live temps
  private val writeId = java.util.UUID.randomUUID().toString.substring(0, 8)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new PagedFeedWriterFactory(schema, dir, writeId)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val d = new java.io.File(dir)
    d.mkdirs()
    val msgs = messages.collect { case m: PagedFeedCommit => m }
      .sortBy(_.partition)
    // existing committed pages stay (append semantics): continue the
    // dense numbering after them, and carry their manifest's row count
    // forward so pages=/rows= stay mutually consistent across appends
    val existing = Option(d.listFiles()).getOrElse(Array.empty)
      .count(f => f.getName.startsWith("page-") && f.getName.endsWith(".tsv"))
    val priorRows = {
      val m = new java.io.File(d, "_PAGES")
      if (existing > 0 && m.isFile) {
        val src = scala.io.Source.fromFile(m, "UTF-8")
        try src.getLines().collectFirst {
          case l if l.startsWith("rows=") => l.stripPrefix("rows=").toLong
        }.getOrElse(0L) finally src.close()
      } else 0L
    }
    var page = existing
    var rows = priorRows
    msgs.foreach { m =>
      val tmp = new java.io.File(m.tmpPath)
      if (m.rows > 0) {
        val dst = new java.io.File(d, f"page-$page%05d.tsv")
        if (!tmp.renameTo(dst))
          throw new java.io.IOException(s"graft-paged: commit rename failed: $tmp -> $dst")
        page += 1
        rows += m.rows
      } else if (!tmp.delete() && tmp.exists()) // empty partition → no page
        throw new java.io.IOException(s"graft-paged: commit cleanup failed: $tmp")
    }
    // stray temporaries of THIS write (failed/speculative attempts) must
    // not leak into later listings; a concurrent write's temps (different
    // writeId) are left alone
    Option(d.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.endsWith(s"-$writeId.inprogress"))
      .foreach(_.delete())
    val manifest = new java.io.File(d, "_PAGES")
    // BufferedWriter (not PrintWriter): IO errors THROW, so a short
    // manifest write fails the commit instead of passing silently
    val out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      new java.io.FileOutputStream(manifest), "UTF-8"))
    try out.write(s"pages=$page\nrows=$rows\n") finally out.close()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    messages.collect { case m: PagedFeedCommit => m }
      .foreach(m => new java.io.File(m.tmpPath).delete())
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.endsWith(s"-$writeId.inprogress"))
      .foreach(_.delete())
  }
}

private[v2] case class PagedFeedCommit(partition: Int, tmpPath: String,
                                       rows: Long)
  extends org.apache.spark.sql.connector.write.WriterCommitMessage

private[v2] class PagedFeedWriterFactory(schema: StructType, dir: String,
                                         writeId: String)
  extends org.apache.spark.sql.connector.write.DataWriterFactory {
  import org.apache.spark.sql.connector.write._

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new PagedFeedWriter(schema, dir, partitionId, taskId, writeId)
}

private[v2] class PagedFeedWriter(schema: StructType, dir: String,
                                  partitionId: Int, taskId: Long,
                                  writeId: String)
  extends org.apache.spark.sql.connector.write.DataWriter[InternalRow] {
  import org.apache.spark.sql.connector.write._

  private val tmp = {
    val d = new java.io.File(dir)
    d.mkdirs()
    new java.io.File(d, f".page-$partitionId%05d-$taskId-$writeId.inprogress")
  }
  // BufferedWriter over OutputStreamWriter, NOT PrintWriter: PrintWriter
  // swallows IOExceptions into an internal flag, so a short write (disk
  // full) would commit a truncated page as a success. BufferedWriter
  // throws, failing the task attempt → Spark retries/aborts → the
  // two-phase commit actually holds.
  private val out = new java.io.BufferedWriter(
    new java.io.OutputStreamWriter(new java.io.FileOutputStream(tmp), "UTF-8"))
  private var rows = 0L

  override def write(record: InternalRow): Unit = {
    val sb = new StringBuilder
    var i = 0
    while (i < schema.length) {
      if (i > 0) sb.append('\t')
      if (record.isNullAt(i)) sb.append("\\N")
      else schema(i).dataType match {
        case LongType => sb.append(record.getLong(i))
        case IntegerType => sb.append(record.getInt(i))
        case DoubleType => sb.append(record.getDouble(i))
        case BooleanType => sb.append(record.getBoolean(i))
        case StringType =>
          sb.append(PagedTsv.escape(record.getUTF8String(i).toString))
        case other =>
          throw new IllegalArgumentException(s"graft-paged: unsupported type $other")
      }
      i += 1
    }
    out.write(sb.result())
    out.write('\n')
    rows += 1
  }

  override def commit(): WriterCommitMessage = {
    out.close() // flushes; throws on IO error → task attempt fails, not lies
    PagedFeedCommit(partitionId, tmp.getAbsolutePath, rows)
  }

  override def abort(): Unit = {
    try out.close() catch { case _: java.io.IOException => () }
    tmp.delete()
  }
  override def close(): Unit =
    try out.close() catch { case _: java.io.IOException => () }
}

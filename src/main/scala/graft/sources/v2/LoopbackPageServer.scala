package graft.sources.v2

import java.net.InetSocketAddress

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

/** In-process HTTP endpoint serving a directory of `page-*.tsv` files —
  * the zero-egress stand-in for the reference's REST export service
  * (feeder.py:22-47). Lets [[HttpPageTransport]] run end-to-end in a
  * sandbox with no network: the loopback socket is the wire, the
  * protocol is the real one.
  *
  * Serves:
  *   - `GET /_PAGES` — the page manifest (`pages=N`), synthesized from
  *     the directory listing when the sink hasn't written one;
  *   - `GET /page-NNNNN.tsv` — a page, honoring single-range
  *     `Range: bytes=a-b` / `bytes=-n` requests with 206 + Content-Range
  *     responses so the transport's zone/size probes stay bounded;
  *   - anything else — 404.
  *
  * `failFirst(n)` arms fault injection: the next `n` page GETs answer
  * 503 before the file is served, exercising the transport's bounded
  * retry/backoff the way a flaky production endpoint would.
  *
  * `requests(dir)` reads the server's request counters: manifest
  * answers, ranged (206) page answers and full (200) page answers,
  * counted apart, so a test can pin how many round trips planning
  * and scanning cost.
  *
  * Latency model: every response with a body costs about 44 ms on the
  * loopback (about 1 ms with `-Dsun.net.httpserver.nodelay=true`). The
  * JDK server writes the headers and the body as separate segments, and
  * Nagle's algorithm, together with the client's delayed ACK, holds the
  * body back. The server keeps that default on purpose: it stands in for
  * a remote paginated API, where each GET is a round trip. A round trip
  * costs its ~44 ms only where it sits on the critical path: a change
  * that avoids one page GET there saves about 44 ms per task slot, and
  * a client that overlaps its round trips (`graft-paged` requests a
  * task's pages at once) saves on the client side. Either way the
  * saving comes from the client, never from a faster fixture.
  *
  * `armExport(...)` switches on the ASYNC EXPORT API — the reference's
  * create-then-poll-then-download flow (feeder.py:49-122) over the
  * same socket:
  *   - `POST /projects/{pid}/results/data` (SS-Token required, body
  *     must carry a counterId — feeder.py:56-88) → `{"body": <rid>}`;
  *   - `GET /projects/{pid}/results/data/{rid}` (SS-Token required) →
  *     `{"body": {"state": 1, "log": …, "fileUrl": null}}` for the
  *     first `notReadyPolls` polls, then
  *     `{"body": {"state": 3, …, "fileUrl": "<signed url>"}}`
  *     (feeder.py:90-116's state-3 wait);
  *   - `GET /<zipName>` — the signed file URL, served bare (the
  *     reference's `requests.get(file_url)` sends no token,
  *     feeder.py:118);
  *   - a missing/wrong SS-Token on the API routes → 401.
  *
  * One server per directory, started lazily and stopped by a JVM
  * shutdown hook — the DataFrames built over it are lazy plans that
  * execute long after the builder returns, so the endpoint must outlive
  * the call (same lifetime device as the paged fixture dirs). */
object LoopbackPageServer {
  private val servers = scala.collection.concurrent.TrieMap.empty[String, (HttpServer, PageRoutes, Exports)]

  /** A snapshot of one server's answered requests since it started:
    * `_PAGES` manifests, ranged page GETs (206) and full page GETs
    * (200). Injected 503s are not counted. */
  final case class Requests(manifest: Long, ranged: Long, full: Long)

  /** Page-route state for one server: armed 503s and request counts. */
  private final class PageRoutes {
    val remaining = new java.util.concurrent.atomic.AtomicInteger(0)
    val manifest = new java.util.concurrent.atomic.AtomicLong(0L)
    val ranged = new java.util.concurrent.atomic.AtomicLong(0L)
    val full = new java.util.concurrent.atomic.AtomicLong(0L)
  }

  /** Export-API state for one server: armed token + artifact, a fresh
    * request-id per POST, and a countdown of not-ready polls per id. */
  private final class Exports {
    @volatile var token: String = null // null = export API off (404)
    @volatile var zipName: String = "export.zip"
    @volatile var notReadyPolls: Int = 0
    val nextRid = new java.util.concurrent.atomic.AtomicLong(1000L)
    val polls = scala.collection.concurrent.TrieMap
      .empty[Long, java.util.concurrent.atomic.AtomicInteger]
  }

  /** Base URL (`http://127.0.0.1:<port>`) of the server for `dir`,
    * starting it on a free port on first use. */
  def serve(dir: String): String = {
    val (srv, _, _) = servers.getOrElseUpdate(dir, start(dir))
    s"http://127.0.0.1:${srv.getAddress.getPort}"
  }

  /** Arm fault injection for `dir`: the next `n` page GETs return 503. */
  def failFirst(dir: String, n: Int): Unit =
    servers.get(dir).foreach(_._2.remaining.set(n))

  /** The request counters of the server for `dir` (zeros if none runs). */
  def requests(dir: String): Requests =
    servers.get(dir).fold(Requests(0L, 0L, 0L)) { case (_, f, _) =>
      Requests(f.manifest.get, f.ranged.get, f.full.get)
    }

  /** Arm the async export API for `dir`: requests authenticated with
    * `token` may create exports; each export answers "not ready" to its
    * first `notReadyPolls` status polls, then publishes the file URL of
    * `<dir>/<zipName>`. */
  def armExport(dir: String, token: String, zipName: String,
                notReadyPolls: Int): Unit =
    servers.get(dir).foreach { case (_, _, es) =>
      require(!zipName.contains("/") && !zipName.contains(".."))
      es.zipName = zipName
      es.notReadyPolls = notReadyPolls
      es.token = token
    }

  /** The server's internal threads (HTTP-Dispatcher, idle-timeout
    * timer) inherit daemon status from the creating thread and would
    * otherwise pin the JVM open after main() returns (observed: a
    * completed Verify run that never exited). Create AND start the
    * server from a short-lived daemon thread so everything it spawns
    * is a daemon; handler threads get an explicit daemon factory. */
  private def start(dir: String): (HttpServer, PageRoutes, Exports) = {
    @volatile var out: (HttpServer, PageRoutes, Exports) = null
    @volatile var err: Throwable = null
    val t = new Thread(() => {
      try out = startDaemonContext(dir)
      catch { case e: Throwable => err = e }
    }, "loopback-page-server-boot")
    t.setDaemon(true)
    t.start()
    t.join()
    if (err != null) throw err
    out
  }

  private def startDaemonContext(dir: String): (HttpServer, PageRoutes, Exports) = {
    val pages = new PageRoutes
    val exports = new Exports
    val srv = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    srv.createContext("/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        try route(ex)
        finally ex.close()
      }

      private val apiRe = "projects/(\\d+)/results/data(?:/(\\d+))?".r
      private val countersRe = "projects/(\\d+)/counters".r

      private def route(ex: HttpExchange): Unit = {
        val name = ex.getRequestURI.getPath.stripPrefix("/")
        if (name == "_PAGES") return manifest(ex)
        name match {
          case apiRe(_, rid) if exports.token != null => return api(ex, Option(rid).map(_.toLong))
          case countersRe(_) if exports.token != null => return counters(ex)
          case _ =>
        }
        // the signed file URL: served bare, like the reference's
        // unauthenticated requests.get(file_url) (feeder.py:118)
        if (exports.token != null && name == exports.zipName) {
          val f = new java.io.File(dir, name)
          if (!f.isFile) return send(ex, 404, Array.empty)
          return send(ex, 200, java.nio.file.Files.readAllBytes(f.toPath))
        }
        if (!name.startsWith("page-") || !name.endsWith(".tsv") ||
          name.contains("/") || name.contains(".."))
          return send(ex, 404, Array.empty)
        val f = new java.io.File(dir, name)
        if (!f.isFile) return send(ex, 404, Array.empty)
        if (pages.remaining.getAndUpdate(n => math.max(n - 1, 0)) > 0)
          return send(ex, 503, Array.empty)
        val bytes = java.nio.file.Files.readAllBytes(f.toPath)
        rangeOf(ex, bytes.length) match {
          case Some((a, b)) =>
            pages.ranged.incrementAndGet()
            ex.getResponseHeaders.set("Content-Range",
              s"bytes $a-$b/${bytes.length}")
            send(ex, 206, java.util.Arrays.copyOfRange(bytes, a, b + 1))
          case None =>
            pages.full.incrementAndGet()
            send(ex, 200, bytes)
        }
      }

      /** The export API: POST create → rid; GET status → not-ready for
        * the armed number of polls, then state=3 + the file URL. Both
        * require the armed SS-Token — missing/wrong → 401. */
      private def api(ex: HttpExchange, rid: Option[Long]): Unit = {
        val got = Option(ex.getRequestHeaders.getFirst("SS-Token"))
        if (!got.contains(exports.token))
          return send(ex, 401, """{"error":"invalid or missing SS-Token"}"""
            .getBytes("UTF-8"))
        (ex.getRequestMethod, rid) match {
          case ("POST", None) =>
            val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
            // the reference's create body names the counter to export
            // (feeder.py:56-60) — a create without one is a 400
            if (!body.contains("counterId"))
              return send(ex, 400, """{"error":"counterId required"}"""
                .getBytes("UTF-8"))
            val id = exports.nextRid.incrementAndGet()
            exports.polls.put(id,
              new java.util.concurrent.atomic.AtomicInteger(exports.notReadyPolls))
            send(ex, 200, s"""{"body": $id}""".getBytes("UTF-8"))
          case ("GET", Some(id)) =>
            val ctr = exports.polls.get(id)
              .getOrElse(return send(ex, 404, Array.empty))
            if (ctr.getAndUpdate(n => math.max(n - 1, 0)) > 0)
              send(ex, 200,
                """{"body": {"state": 1, "log": "Export started\nPreparing file\n", "fileUrl": null}}"""
                  .getBytes("UTF-8"))
            else {
              val host = Option(ex.getRequestHeaders.getFirst("Host"))
                .getOrElse(s"127.0.0.1:${srv.getAddress.getPort}")
              send(ex, 200,
                (s"""{"body": {"state": 3, "log": "Export started\\nDone\\n", """ +
                  s""""fileUrl": "http://$host/${exports.zipName}"}}""").getBytes("UTF-8"))
            }
          case _ => send(ex, 404, Array.empty)
        }
      }

      /** The counter listing (feeder.py:40-48): a decoy counter FIRST,
        * then the recruit counter — so the client's name-based
        * resolution is exercised, never first-element luck. Token-gated
        * like the other API routes. Names are the reference's Cyrillic
        * literals, JSON-escaped to keep the wire ASCII. */
      private def counters(ex: HttpExchange): Unit = {
        val got = Option(ex.getRequestHeaders.getFirst("SS-Token"))
        if (!got.contains(exports.token))
          return send(ex, 401, """{"error":"invalid or missing SS-Token"}"""
            .getBytes("UTF-8"))
        if (ex.getRequestMethod != "GET") return send(ex, 404, Array.empty)
        // ИНТЕРВЬЮ (decoy), --------РЕКРУТ (the export counter)
        send(ex, 200, ("""{"body": [""" +
          """{"id": 11, "name": "ИНТЕРВЬЮ"}, """ +
          """{"id": 42, "name": "--------РЕКРУТ"}]}""")
          .getBytes("UTF-8"))
      }

      private def manifest(ex: HttpExchange): Unit = {
        val own = new java.io.File(dir, "_PAGES")
        val body =
          if (own.isFile) java.nio.file.Files.readAllBytes(own.toPath)
          else {
            val n = Option(new java.io.File(dir).listFiles())
              .getOrElse(Array.empty[java.io.File])
              .count(f => f.isFile && f.getName.startsWith("page-") &&
                f.getName.endsWith(".tsv"))
            s"pages=$n\n".getBytes("UTF-8")
          }
        pages.manifest.incrementAndGet()
        send(ex, 200, body)
      }

      /** Single-range parse: `bytes=a-b`, `bytes=a-`, `bytes=-n` →
        * inclusive [a, b] clamped to the entity; None → whole entity. */
      private def rangeOf(ex: HttpExchange, len: Int): Option[(Int, Int)] = {
        val h = Option(ex.getRequestHeaders.getFirst("Range")).getOrElse("")
        if (!h.startsWith("bytes=") || len == 0) return None
        val spec = h.stripPrefix("bytes=")
        val (a, b) = spec.split("-", -1) match {
          case Array("", n) if n.nonEmpty => // suffix: last n bytes
            (math.max(len - n.toInt, 0), len - 1)
          case Array(s, "") if s.nonEmpty => (s.toInt, len - 1)
          case Array(s, e) if s.nonEmpty && e.nonEmpty =>
            (s.toInt, math.min(e.toInt, len - 1))
          case _ => return None
        }
        if (a > b || a >= len) None else Some((a, b))
      }

      private def send(ex: HttpExchange, code: Int, body: Array[Byte]): Unit = {
        ex.sendResponseHeaders(code, if (body.isEmpty) -1 else body.length.toLong)
        if (body.nonEmpty) {
          val os = ex.getResponseBody
          os.write(body)
          os.close()
        }
      }
    })
    srv.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(8,
      (r: Runnable) => {
        val th = new Thread(r, "loopback-page-server-worker")
        th.setDaemon(true)
        th
      }))
    srv.start()
    Runtime.getRuntime.addShutdownHook(new Thread(() => srv.stop(0)))
    (srv, pages, exports)
  }
}

package graft.sources.v2

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

/** The paged reader's contract for one task's pages: their GETs overlap,
  * their starts keep the throttle gap, `close()` leaves no body open,
  * and a GET that runs out of retries fails the read. Stub transports
  * stand in for the network, so nothing here depends on the loopback
  * server's latency. */
class PagedFeedReaderSpec extends AnyFunSuite {

  private val rowsPerPage = 10

  private def pages(n: Int): Array[PageRef] =
    Array.tabulate(n)(p => PageRef(f"page-$p%05d.tsv", s"stub:$p", -1L))

  /** Serves page p as keys p*10+1 .. p*10+10 and counts the opens
    * requested, the bodies they returned and the bodies closed again.
    * `beforeOpen` runs at the start of every `open`. */
  private class StubTransport(beforeOpen: PageRef => Unit = _ => (),
                              override val throttleMs: Long = 0L)
    extends PageTransport {
    val requested = new AtomicInteger
    val opened = new AtomicInteger
    val closed = new AtomicInteger
    override def listPages(): Array[PageRef] = Array.empty
    override def firstLine(ref: PageRef): Option[String] = None
    override def lastLine(ref: PageRef): Option[String] = None
    override def open(ref: PageRef): java.io.BufferedReader = {
      requested.incrementAndGet()
      beforeOpen(ref)
      val p = ref.loc.stripPrefix("stub:").toInt
      val body = (1 to rowsPerPage).map(i => s"${p * rowsPerPage + i}\n").mkString
      opened.incrementAndGet()
      new java.io.BufferedReader(new java.io.StringReader(body)) {
        private var open = true
        override def close(): Unit = synchronized {
          if (open) { open = false; closed.incrementAndGet() }
          super.close()
        }
      }
    }
    /** Waits up to 10 s for every requested open to return a body and
      * for every body to be closed. */
    def allClosed(): Boolean = {
      def done = opened.get == requested.get && closed.get == opened.get
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(10)
      while (!done && System.nanoTime() < deadline) Thread.sleep(5)
      done
    }
  }

  private def reader(ps: Array[PageRef], t: PageTransport, limit: Int = -1) =
    new PagedFeedReader(ps, Array((0, LongType)), Array.empty, Map.empty, limit, t)

  private def drain(r: PagedFeedReader): Seq[Long] = {
    val out = Seq.newBuilder[Long]
    while (r.next()) out += r.get().getLong(0)
    out.result()
  }

  test("a task's page GETs are all in flight at once") {
    val k = 4
    val together = new CountDownLatch(k)
    // each open waits until all k have started: serial opens would time out
    val t = new StubTransport(beforeOpen = _ => {
      together.countDown()
      if (!together.await(10, TimeUnit.SECONDS))
        throw new java.io.IOException("page opens did not overlap")
    })
    val r = reader(pages(k), t)
    try assert(drain(r) == (1L to k * rowsPerPage).toSeq, "rows out of page order")
    finally r.close()
    assert(t.allClosed())
  }

  test("with throttleMs set, page GET starts stay that far apart") {
    val gapMs = 40L
    val starts = new ConcurrentLinkedQueue[(String, Long)]
    val t = new StubTransport(beforeOpen = ref => starts.add(ref.name -> System.nanoTime()),
      throttleMs = gapMs)
    val r = reader(pages(4), t)
    try assert(drain(r).length == 4 * rowsPerPage) finally r.close()
    val s = starts.asScala.toSeq
    assert(s.map(_._1) == pages(4).map(_.name).toSeq, s"starts out of page order: $s")
    s.map(_._2).sliding(2).foreach { case Seq(a, b) =>
      assert(b - a >= TimeUnit.MILLISECONDS.toNanos(gapMs),
        f"page starts ${(b - a) / 1e6}%.2f ms apart, throttle $gapMs ms")
    }
  }

  test("close() after the first row leaves no page body open, in flight ones included") {
    // slow opens: when the reader closes, later pages are still in flight
    val laterRequested = new CountDownLatch(1)
    val t = new StubTransport(beforeOpen = ref =>
      if (ref.name != "page-00000.tsv") { laterRequested.countDown(); Thread.sleep(100) })
    val r = reader(pages(6), t)
    assert(r.next() && r.get().getLong(0) == 1L)
    // page 1's GET starts on a pool thread: close once it is in flight, or
    // close() can win the race and cancel it before it is ever sent
    laterRequested.await(10, TimeUnit.SECONDS)
    r.close()
    assert(t.requested.get > 1, "later pages were never requested")
    assert(t.allClosed(), s"requested ${t.requested.get}, opened ${t.opened.get}, " +
      s"closed ${t.closed.get}")
  }

  test("close() after a pushed LIMIT is spent leaves no page body open") {
    val t = new StubTransport()
    val r = reader(pages(5), t, limit = 3)
    assert(drain(r) == Seq(1L, 2L, 3L))
    r.close()
    assert(t.allClosed(), s"requested ${t.requested.get}, opened ${t.opened.get}, " +
      s"closed ${t.closed.get}")
  }

  test("a page GET past its retry budget fails the read with its 503") {
    val dir = java.nio.file.Files.createTempDirectory("graft_reader_retry").toFile
    dir.deleteOnExit()
    (0 until 2).foreach { p =>
      val f = new java.io.File(dir, f"page-$p%05d.tsv")
      f.deleteOnExit()
      val w = new java.io.PrintWriter(f, "UTF-8")
      (1 to rowsPerPage).foreach(i => w.println(p * rowsPerPage + i))
      w.close()
    }
    val base = LoopbackPageServer.serve(dir.getAbsolutePath)
    val t = PageTransport.forDir(Map("dir" -> base, "maxRetries" -> "1",
      "retryBackoffMs" -> "1"))
    val listed = t.listPages()
    LoopbackPageServer.failFirst(dir.getAbsolutePath, 50)
    val r = reader(listed, t)
    try {
      val ex = intercept[Exception](drain(r))
      def mentions503(e: Throwable): Boolean =
        e != null && (Option(e.getMessage).exists(_.contains("503")) || mentions503(e.getCause))
      assert(mentions503(ex), s"expected an HTTP 503 failure: $ex")
      assert(ex.isInstanceOf[java.io.IOException], s"not the GET's IOException: $ex")
    } finally {
      r.close()
      LoopbackPageServer.failFirst(dir.getAbsolutePath, 0)
    }
  }

  test("the HTTP transport takes its throttle from the throttleMs option") {
    assert(PageTransport.forDir(Map("dir" -> "http://127.0.0.1:1", "throttleMs" -> "25"))
      .throttleMs == 25L)
    assert(PageTransport.forDir(Map("dir" -> "pages")).throttleMs == 0L)
  }
}

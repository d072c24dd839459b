package graft.sources.v2

/** The one retrying HTTP exchange behind `graft-paged` and
  * `graft-export`. */
private[v2] object Http {

  /** `method url` with `headers` (and `body`, when given), returned once
    * the server answers 200 or 206; the caller reads and disconnects
    * it. Connection faults (IOException) and non-4xx statuses retry up
    * to `retries` times, sleeping `backoffMs << min(attempt - 1, 6)`
    * between attempts. A 4xx (a bad token, a bad request) throws at
    * once: retrying it only hides a config error. `tag` names the
    * source in the errors. */
  def exchange(tag: String, url: String, method: String,
               headers: Map[String, String], body: Option[String],
               retries: Int, backoffMs: Long): java.net.HttpURLConnection = {
    var attempt = 0
    while (true) {
      val c = new java.net.URL(url).openConnection()
        .asInstanceOf[java.net.HttpURLConnection]
      c.setRequestMethod(method)
      c.setConnectTimeout(10000)
      c.setReadTimeout(60000)
      headers.foreach { case (k, v) => c.setRequestProperty(k, v) }
      val code =
        try {
          body.foreach { b =>
            c.setDoOutput(true)
            val os = c.getOutputStream
            try os.write(b.getBytes("UTF-8")) finally os.close()
          }
          c.getResponseCode
        } catch {
          case e: java.io.IOException =>
            c.disconnect()
            if (attempt >= retries) throw e
            -1
        }
      if (code == 200 || code == 206) return c
      c.disconnect()
      if (code >= 400 && code < 500)
        throw new java.io.IOException(s"$tag: HTTP $code for $method $url")
      if (code >= 0 && attempt >= retries)
        throw new java.io.IOException(
          s"$tag: HTTP $code for $method $url after ${attempt + 1} attempts")
      attempt += 1
      if (backoffMs > 0) Thread.sleep(backoffMs << math.min(attempt - 1, 6))
    }
    throw new IllegalStateException("unreachable")
  }

  /** The whole response body of `c`, which is then disconnected. */
  def readAll(c: java.net.HttpURLConnection): Array[Byte] = {
    val in = c.getInputStream
    try in.readAllBytes() finally { in.close(); c.disconnect() }
  }
}

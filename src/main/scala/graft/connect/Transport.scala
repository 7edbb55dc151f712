package graft.connect

import java.net.URI
import java.net.http.{HttpClient, HttpRequest => JHttpRequest, HttpResponse => JHttpResponse}
import java.time.Duration

/** Minimal HTTP transport seam. Connector logic (auth, pagination, upload)
  * is written against this trait so every piece is testable with a mock —
  * exactly how the reference tests its hooks against mocked `requests`
  * sessions (tests/hooks/conftest.py:129-183).
  */
final case class HttpRequest(
    method: String,
    url: String,
    headers: Map[String, String] = Map.empty,
    body: Array[Byte] = Array.emptyByteArray,
    /** Fully streaming body: a supplier of a fresh InputStream per send
      * attempt (e.g. a multipart prologue + file + epilogue composite) —
      * constant memory, no temp copy on disk. Takes precedence over
      * `body`.
      */
    bodyStream: Option[() => java.io.InputStream] = None) {
  /** The payload bytes regardless of backing — for tests/mocks only;
    * production transports stream without loading.
    */
  def effectiveBody: Array[Byte] = bodyStream match {
    case Some(mk) =>
      val in = mk()
      try in.readAllBytes() finally in.close()
    case None => body
  }
}

final case class HttpResponse(
    status: Int,
    headers: Map[String, String] = Map.empty,
    body: Array[Byte] = Array.emptyByteArray) {
  def bodyString: String = new String(body, "UTF-8")
  def isSuccess: Boolean = status >= 200 && status < 300
}

/** Download-side twin of `HttpRequest.bodyStream`: the body is handed back
  * as the (socket) InputStream, never materialized — a multi-GB `.h5`
  * download costs one chunk buffer of memory, matching the reference's
  * 1 KiB `iter_content` loop (drm.py:70-88). Caller closes `body`.
  */
final case class StreamingHttpResponse(
    status: Int,
    headers: Map[String, String] = Map.empty,
    body: java.io.InputStream) {
  def isSuccess: Boolean = status >= 200 && status < 300
  /** Content-Length if the server sent a usable one, else -1. Malformed or
    * duplicated values (headerMap comma-joins repeats) degrade to -1 —
    * the length only drives progress logging, never correctness, so a bad
    * proxy header must not fail an otherwise-good download.
    */
  def contentLength: Long = headers.collectFirst {
    case (k, v) if k.equalsIgnoreCase("content-length") => v
  }.flatMap(_.split(',').head.trim.toLongOption).getOrElse(-1L)
}

/** Serializable so connector closures (fetch/push lambdas built over a
  * transport + token provider) can run inside executor-side mapPartitions
  * (FileTransfer.executePlan); the JDK client itself is rebuilt per JVM.
  */
trait Transport extends Serializable {
  def send(req: HttpRequest): HttpResponse

  /** Streaming-body variant for large downloads. The default adapts `send`
    * (fine for mocks and small control-plane responses — the body is
    * already in memory, so it also synthesizes Content-Length);
    * production transports override it to hand back the live stream.
    */
  def sendStreaming(req: HttpRequest): StreamingHttpResponse = {
    val r = send(req)
    val h = if (r.headers.keys.exists(_.equalsIgnoreCase("content-length"))) r.headers
            else r.headers + ("content-length" -> r.body.length.toString)
    StreamingHttpResponse(r.status, h, new java.io.ByteArrayInputStream(r.body))
  }
}

/** Production transport on the JDK 17 HttpClient (no extra deps).
  * Timeouts mirror the reference's upload posture: 4 s connect / 302 s read
  * ("required … after uploading large files", dmp.py:125-136).
  */
final class JavaNetTransport(
    connectTimeout: Duration = Duration.ofSeconds(4),
    readTimeout: Duration = Duration.ofSeconds(302)) extends Transport {

  @transient private lazy val client = HttpClient.newBuilder()
    .connectTimeout(connectTimeout).build()

  private def buildJdkRequest(req: HttpRequest): JHttpRequest = {
    val b = JHttpRequest.newBuilder(URI.create(req.url)).timeout(readTimeout)
    req.headers.foreach { case (k, v) => b.header(k, v) }
    def publisher = req.bodyStream match {
      case Some(mk) => JHttpRequest.BodyPublishers.ofInputStream(() => mk())
      case None => JHttpRequest.BodyPublishers.ofByteArray(req.body)
    }
    req.method.toUpperCase match {
      case "GET" => b.GET().build()
      case "POST" => b.POST(publisher).build()
      case m => b.method(m, publisher).build()
    }
  }

  private def headerMap(resp: JHttpResponse[_]): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    resp.headers().map().asScala.view.mapValues(_.asScala.mkString(",")).toMap
  }

  override def send(req: HttpRequest): HttpResponse = {
    val resp = client.send(buildJdkRequest(req),
      JHttpResponse.BodyHandlers.ofByteArray())
    HttpResponse(resp.statusCode(), headerMap(resp), resp.body())
  }

  /** Socket-backed body: nothing buffered beyond the client's flow-control
    * window; the caller's chunk loop is the only full pass over the bytes.
    *
    * Wrapped in an idle watchdog: the JDK request timeout stops applying
    * once headers arrive, so with `ofInputStream` a mid-body stall would
    * otherwise block a read forever (the buffered path was implicitly
    * bounded because `ofByteArray` ran under the request timeout). The
    * watchdog closes the stream after `readTimeout` without progress,
    * failing the blocked read instead of wedging the executor task.
    */
  override def sendStreaming(req: HttpRequest): StreamingHttpResponse = {
    val resp = client.send(buildJdkRequest(req),
      JHttpResponse.BodyHandlers.ofInputStream())
    StreamingHttpResponse(resp.statusCode(), headerMap(resp),
      new IdleTimeoutInputStream(resp.body(), readTimeout))
  }
}

/** Closes the wrapped stream when a single read has been BLOCKED for more
  * than `idle` — closing unblocks the stuck read, which then fails with a
  * diagnosable IOException. Two subtleties the implementation pins down:
  *
  *  - only an in-flight read arms the watchdog (`inFlight` + entry
  *    timestamp): a slow CONSUMER between reads (GC pause, disk stall in
  *    the copy loop) must never abort a healthy socket;
  *  - the JDK client's blocked read can unblock from an async close with
  *    a clean -1 (EOF sentinel), not an exception — an aborted read must
  *    surface as a throw either way, or a stalled download would pass as
  *    complete (and `Content-Length`-less responses have no second
  *    guard).
  *
  * One shared daemon timer; the task dies with the stream; the task body
  * never lets a Throwable escape into the Timer thread (that would kill
  * the JVM-wide watchdog silently).
  */
private[graft] final class IdleTimeoutInputStream(
    in: java.io.InputStream, idle: Duration) extends java.io.InputStream {
  @volatile private var readStart = 0L
  @volatile private var inFlight = false
  @volatile private var timedOut = false
  private val task = new java.util.TimerTask {
    override def run(): Unit =
      try {
        if (inFlight && System.nanoTime() - readStart > idle.toNanos) {
          timedOut = true
          // close on a throwaway daemon thread: the Timer is shared
          // JVM-wide, and a close() that itself blocks (dead peer during
          // TLS shutdown) must not stop the watchdog for every other
          // concurrent download
          val t = new Thread(() => {
            try in.close() catch { case _: Throwable => () }
          }, "graft-body-abort")
          t.setDaemon(true)
          t.start()
          cancel()
        }
      } catch { case _: Throwable => () }
  }
  IdleTimeoutInputStream.timer.schedule(task,
    math.max(1, idle.toMillis / 4), math.max(1, idle.toMillis / 4))
  private def abort(cause: Throwable): Nothing =
    throw new java.io.IOException(
      s"download body read blocked for > ${idle.getSeconds}s, stream aborted",
      cause)
  private def touched(f: => Int): Int = {
    readStart = System.nanoTime()
    inFlight = true
    val r = try f
      catch { case e: java.io.IOException if timedOut => abort(e) }
      finally inFlight = false
    // an async close can unblock the read as clean EOF rather than a throw
    if (timedOut) abort(null)
    r
  }
  override def read(): Int = touched(in.read())
  override def read(b: Array[Byte], off: Int, len: Int): Int =
    touched(in.read(b, off, len))
  override def available(): Int = in.available()
  override def close(): Unit = { task.cancel(); in.close() }
}

private[graft] object IdleTimeoutInputStream {
  val timer = new java.util.Timer("graft-body-idle-watchdog", true)
}

/** Scripted transport for tests: responses served in order per URL matcher. */
final class MockTransport(script: Seq[PartialFunction[HttpRequest, HttpResponse]])
  extends Transport {
  private var calls = 0
  val log = scala.collection.mutable.ArrayBuffer.empty[HttpRequest]
  override def send(req: HttpRequest): HttpResponse = synchronized {
    // materialize streaming bodies NOW — callers may free the backing
    // stream/file right after send returns, tests inspect the log later,
    // and script handlers must see the same bytes the log records
    val eff = req.copy(body = req.effectiveBody, bodyStream = None)
    log += eff
    val handler = script.find(_.isDefinedAt(eff))
      .getOrElse(throw new IllegalStateException(s"unexpected request: ${req.method} ${req.url}"))
    calls += 1
    handler(eff)
  }
}

package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import graft.connect.{HttpRequest, HttpResponse, MiniJson, Transport}

/** In-process stand-in for the DRM record API and the DMP upload endpoint.
  *
  * `FileTransfer.executePlan` serializes the transport into every Spark
  * task, so the instance is only a stateless handle: all state lives in the
  * JVM-global [[FakeDmp]] object, shared by the task threads of `local[n]`.
  */
final class FakeDmpTransport extends Transport {
  override def send(req: HttpRequest): HttpResponse = FakeDmp.handle(req)
}

object FakeDmp {
  val DrmBase = "https://drm.bench"
  val DrmJwt = "https://drm.bench/token"
  val DmpUrl = "https://dmp.bench/graphql"
  val DmpJwt = "https://dmp.bench/token"
  private val FilePrefix = "https://files.bench/"
  private val RecordUrl = """https://drm\.bench/dreem/algorythm/record/([^/]+)/h5/""".r

  /** Counters of one measured unit; `snapshot` reads, `reset` zeroes. */
  val requests, tokenRequests, downBytes, upBytes, reupBytes, uploads,
      rejected, busyNanos = new AtomicLong
  /** dmp_id -> member refs of its last accepted bundle. */
  val accepted = new ConcurrentHashMap[String, Seq[String]]()
  /** dmp_ids accepted during the current unit (a re-send is a re-upload). */
  private val acceptedBefore = ConcurrentHashMap.newKeySet[String]()
  private val groupStart = new ThreadLocal[java.lang.Long]

  @volatile private var base: Array[Byte] = Array.emptyByteArray

  /** Seeded payload family: one random block per seed; each ref's file is
    * the block with the ref's sha256 over its first 32 bytes.
    */
  def configure(seed: Long, size: Int): Unit = {
    val rnd = new java.util.Random(seed)
    val b = new Array[Byte](size)
    rnd.nextBytes(b)
    base = b
  }

  def payload(ref: String): Array[Byte] = {
    val out = base.clone()
    val d = sha256(ref.getBytes(UTF_8))
    System.arraycopy(d, 0, out, 0, math.min(d.length, out.length))
    out
  }

  /** Groups uploaded before the benchmark started (a seeded ledger). */
  def preload(dmpIds: Iterable[String]): Unit = dmpIds.foreach(acceptedBefore.add)

  def reset(): Unit =
    Seq(requests, tokenRequests, downBytes, upBytes, reupBytes, uploads,
      rejected, busyNanos).foreach(_.set(0))

  def snapshot(): Map[String, Long] = Map(
    "requests" -> requests.get, "token_requests" -> tokenRequests.get,
    "down_bytes" -> downBytes.get, "up_bytes" -> upBytes.get,
    "reup_bytes" -> reupBytes.get, "uploads" -> uploads.get,
    "rejected" -> rejected.get, "busy_nanos" -> busyNanos.get)

  private def sha256(b: Array[Byte]): Array[Byte] =
    MessageDigest.getInstance("SHA-256").digest(b)

  private def hex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString

  private def jwt: String = {
    val enc = java.util.Base64.getUrlEncoder.withoutPadding()
    val exp = System.currentTimeMillis() / 1000 + 3600
    enc.encodeToString("""{"alg":"none"}""".getBytes(UTF_8)) + "." +
      enc.encodeToString(s"""{"exp":$exp}""".getBytes(UTF_8)) + ".bench"
  }

  private def json(s: String, status: Int = 200) =
    HttpResponse(status, Map("content-type" -> "application/json"),
      s.getBytes(UTF_8))

  def handle(req: HttpRequest): HttpResponse = {
    requests.incrementAndGet()
    // a group's transfer starts with its first request on this task thread
    // and ends with its upload: that interval is the connector's busy time
    if (groupStart.get == null) groupStart.set(System.nanoTime())
    req.url match {
      case DrmJwt =>
        tokenRequests.incrementAndGet()
        json(s"""{"token": "$jwt"}""")
      case DmpJwt =>
        tokenRequests.incrementAndGet()
        json(s"""{"data": {"issueAccessToken": {"accessToken": "$jwt"}}}""")
      case RecordUrl(ref) =>
        json(s"""{"data_url": "$FilePrefix$ref"}""")
      case u if u.startsWith(FilePrefix) =>
        val body = payload(u.stripPrefix(FilePrefix))
        downBytes.addAndGet(body.length)
        HttpResponse(200, Map("content-length" -> body.length.toString), body)
      case DmpUrl =>
        try upload(req)
        finally {
          busyNanos.addAndGet(System.nanoTime() - groupStart.get)
          groupStart.remove()
        }
      case other =>
        json(s"""{"errors": [{"message": "no route for $other"}]}""", 404)
    }
  }

  /** Accept a GraphQL multipart upload only if the declared checksum and
    * length match the file part, and every zip member is byte-identical to
    * the payload this server served for that ref.
    */
  private def upload(req: HttpRequest): HttpResponse = {
    val body = req.effectiveBody
    upBytes.addAndGet(body.length)
    val boundary = req.headers.collectFirst {
      case (k, v) if k.equalsIgnoreCase("content-type") =>
        v.split("boundary=", 2).last
    }.getOrElse("")
    val text = new String(body, java.nio.charset.StandardCharsets.ISO_8859_1)
    val parts = text.split(java.util.regex.Pattern.quote("--" + boundary))
      .map(_.stripPrefix("\r\n")).filter(p => p.nonEmpty && !p.startsWith("--"))
    def content(p: String): String = p.substring(p.indexOf("\r\n\r\n") + 4)
      .stripSuffix("\r\n")
    val ops = parts.find(_.contains("name=\"operations\"")).map(content)
    val file = parts.find(_.contains("filename=\"")).map { p =>
      val name = """filename="([^"]+)"""".r.findFirstMatchIn(p).get.group(1)
      (name, content(p).getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    }
    val verdict: Either[String, (String, Seq[String])] = (ops, file) match {
      case (Some(o), Some((name, bytes))) =>
        val vars = MiniJson.parse(o) match {
          case MiniJson.JObj(f) => f.get("variables")
          case _ => None
        }
        def v(k: String) = vars.collect {
          case MiniJson.JObj(f) => f.get(k).collect {
            case MiniJson.JStr(s) => s
            case MiniJson.JNum(n) => n
          }
        }.flatten
        if (!v("hash").contains(hex(sha256(bytes)))) Left("checksum mismatch")
        else if (!v("fileLength").contains(bytes.length.toString))
          Left("length mismatch")
        else unzip(bytes).map(m => (name.stripSuffix(".zip"), m))
      case _ => Left("malformed multipart body")
    }
    verdict match {
      case Right((dmpId, members)) =>
        if (!acceptedBefore.add(dmpId)) reupBytes.addAndGet(body.length)
        accepted.put(dmpId, members)
        uploads.incrementAndGet()
        json("""{"data": {"uploadFile": {"id": "ok"}}}""")
      case Left(why) =>
        rejected.incrementAndGet()
        json(s"""{"errors": [{"message": "$why"}]}""")
    }
  }

  private def unzip(bytes: Array[Byte]): Either[String, Seq[String]] = {
    val zin = new java.util.zip.ZipInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      val refs = Iterator.continually(zin.getNextEntry).takeWhile(_ != null)
        .map { e =>
          val ref = e.getName.stripSuffix(".h5")
          (ref, java.util.Arrays.equals(zin.readAllBytes(), payload(ref)))
        }.toList
      if (refs.isEmpty) Left("empty bundle")
      else refs.collectFirst { case (r, false) => Left(s"payload mismatch for $r") }
        .getOrElse(Right(refs.map(_._1)))
    } finally zin.close()
  }

  def acceptedMembers: Map[String, Seq[String]] = accepted.asScala.toMap
}

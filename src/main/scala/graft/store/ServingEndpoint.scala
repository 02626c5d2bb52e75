package graft.store

import java.io.{IOException, InputStream, OutputStream}
import java.net.{InetSocketAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}
import java.time.temporal.ChronoUnit
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLongArray

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** §2.9 serving edge — the reference's HTTP surface
  * (reference: serving/app.py:24-90, serving/feature_service.py:36-46)
  * reproduced over a minimal HTTP/1.1 server on `java.net.ServerSocket`
  * with ZERO new dependencies:
  *
  *   - `POST /predict` `{customer_id, t_ref?, latest?, threshold?}` →
  *     `{customer_id, t_ref, probability, prediction}`; 404 when the key
  *     (or any snapshot at/before `t_ref`) is unknown, 400 on a bad body.
  *     Lookup semantics mirror `get_snapshot`: `latest` or no `t_ref` →
  *     newest row; else newest row with `ts_us ≤ t_ref`.
  *   - `GET /health` → `{status, backend, model, offline_rows}`.
  *   - `POST /refresh` → `{reloaded_rows}` (re-invokes the loader).
  *   - `GET /metrics` → `{requests, status_2xx, status_4xx, status_5xx,
  *     latency_ms_le_0.1, …, latency_ms_le_6553.6}`: responses written so
  *     far, by status class, and a cumulative latency histogram (request
  *     line read → response written) over fixed ×2 buckets from 0.1 ms.
  *   - `POST /debug/write_test` → `{wrote}` (reference: serving/app.py:120
  *     `/debug/write_test`): proves the pred-log partition dir is creatable
  *     and writable by writing one dated test record. The reference writes
  *     a parquet file via pyarrow; the serving edge never launches a Spark
  *     job, so the record here is a flat-JSON marker with the same fields —
  *     same property proven (partition dir + write permission), documented
  *     deviation in format. 503 when no `predsDir` is configured.
  *   - `GET /debug/log_state` → `{pred_files, feature_files}` (reference:
  *     serving/app.py:141 `/debug/log_state`): recursive file counts under
  *     the pred-log and feature-store dirs (parquet plus the test markers).
  *   - Any other path → 404.
  *
  * Threading model: one acceptor thread, and one daemon thread per open
  * connection that reads requests with blocking I/O and answers them in
  * order (keep-alive, `TCP_NODELAY`). A connection owns one input buffer,
  * where request line, headers and body are read in place and pipelined
  * bytes wait for the next request, and one output buffer, where each
  * response — status line, `Content-Type`, `Content-Length` and body — is
  * rendered and from which it leaves in a single socket write. `/refresh` runs the loader on its own connection's thread while
  * every other connection keeps serving from the previous index; reloads
  * are serialized and publish the new [[ServingEndpoint.Index]] with one
  * volatile write, so a request sees one table version whole, row count
  * included. Guards, fixed: a body over 1 MiB gets 413, a chunked body
  * 411, a malformed request 400; those three close the connection, and a
  * connection beyond the 64th open one gets 503 and is closed. `stop()`
  * closes the listener and every open connection and joins their threads.
  *
  * Why blocking sockets: on a 4-core box, the median of a lone predict
  * every 25 ms was 1.53 ms on the JDK's `com.sun.net.httpserver` with
  * `-Dsun.net.httpserver.nodelay=true` (43 ms without it: headers and body
  * went out as two writes and the body waited for the client's delayed
  * ACK), 1.66 ms with an executor, 1.34–1.76 ms on Netty's NIO loop, and
  * 0.46–0.50 ms on this blocking design against 0.39 ms for a raw blocking
  * echo. Scoring is about 22 µs of that. The JDK server also ran every
  * handler on its one dispatcher thread, so a `/refresh` stalled all
  * predicts for the whole reload.
  *
  * Why bytes: a serving process answers its first few hundred predicts
  * before the JIT has compiled the request path, and at 40/s each one
  * starts on a cold core, so every `String`, `Map`, tuple and box the
  * request passes through costs. Instrumented on the same box over
  * perfbench's open loop, a predict's server time (request line read to
  * response written, median of 160) was 441 µs with `String` lines,
  * `split`, a `Map`-building parser and a `String` body, and 265 µs on
  * the connection's byte buffers with one [[ServingEndpoint.Json.scan]]
  * and the [[ServingEndpoint.Json.Writer]]; the socket write is 86 µs of
  * that and the GBT score and prediction log 52 µs. perfbench's
  * open-loop predict p50 went from 0.80 to 0.65 ms.
  *
  * Architecture stance (SURVEY.md §3 EP3): the serving edge reads
  * MATERIALIZED artifacts and never launches a Spark job per request. The
  * loader is called once at start and on `/refresh` only — exactly the
  * reference's in-memory pandas frame, here a per-user time-sorted index.
  * Production-scale serving replaces this process with reads from the KV
  * sink ([[KvSink]]); this endpoint is the single-node ops-parity shim.
  *
  * Prediction logging: the reference writes one parquet file per request
  * (serving/pred_logger.py) — an anti-pattern the batch engine does not
  * copy. Requests append to an in-memory buffer;
  * [[ServingEndpoint.flushPredictionLog]] drains it through
  * [[FeatureStore.logPredictions]] (append-only, date-partitioned) on the
  * ops loop's cadence.
  */
final class ServingEndpoint(
    loader: () => DataFrame,
    contract: Seq[String],
    scorer: Array[Double] => Double,
    modelName: String,
    predsDir: Option[String] = None,
    featuresDir: Option[String] = None) {

  import ServingEndpoint._

  @volatile private var index: Index = Index.Empty
  private val reloading = new Object
  private val predLog =
    new java.util.concurrent.ConcurrentLinkedQueue[PredLogRow]()
  // responses by status class (index = code / 100), and latencies per
  // LatencyBucketsMs bucket (the last slot: slower than every bound)
  private val byClass = new AtomicLongArray(6)
  private val byLatency = new AtomicLongArray(LatencyBucketsMs.length + 1)
  // open connection → the thread serving it
  private val open = new ConcurrentHashMap[Socket, Thread]()
  /** [[ServingEndpoint.MaxConnections]]; tests lower it to reach the
    * guard with a few sockets. */
  @volatile private[graft] var connectionLimit: Int = MaxConnections
  @volatile private var listener: ServerSocket = _
  private var acceptor: Thread = _

  /** (Re)load the materialized feature table; returns row count. Reloads
    * are serialized; requests keep reading the previous index until the
    * new one is published whole. */
  def reload(): Long = reloading.synchronized {
    val next = Index.build(loader(), contract)
    index = next
    next.rows
  }

  /** Bind and start; port 0 picks an ephemeral port. Returns the bound
    * port. */
  def start(port: Int = 0): Int = {
    reload()
    val l = new ServerSocket()
    l.setReuseAddress(true)
    l.bind(new InetSocketAddress(port))
    listener = l
    acceptor = daemon(s"graft-serve-${l.getLocalPort} accept")(accept(l))
    acceptor.start()
    l.getLocalPort
  }

  /** Close the listener and every open connection, then join the serving
    * threads. A thread still inside a `/refresh` load may outlive the
    * join's bound. */
  def stop(): Unit = {
    val l = listener
    if (l != null) {
      listener = null
      l.close()
      acceptor.join(JoinMs)
      open.keySet.forEach(s => s.close())
      open.values.forEach(t => t.join(JoinMs))
    }
  }

  /** Drain buffered predictions through the S4 append-only log. Returns
    * the number of rows flushed. */
  def flushPredictionLog(spark: SparkSession, path: String): Long = {
    val drained = Iterator
      .continually(predLog.poll())
      .takeWhile(_ != null)
      .toSeq
    if (drained.nonEmpty) {
      import spark.implicits._
      FeatureStore.logPredictions(
        drained.toDF().withColumnRenamed("tsServedUs", "ts_us"), path)
    }
    drained.length.toLong
  }

  private def accept(l: ServerSocket): Unit =
    while (!l.isClosed) {
      val s = try l.accept() catch { case _: IOException => null } // stop()
      if (s != null) try {
        s.setTcpNoDelay(true)
        if (open.size >= connectionLimit) {
          val w = new Json.Writer(HeadRoom)
          w.obj("detail" -> "too many open connections")
          respond(s.getOutputStream, w, 503, close = true, System.nanoTime())
          s.close()
        } else {
          val t = daemon(s"graft-serve-${l.getLocalPort} conn ${s.getPort}")(
            serve(s))
          open.put(s, t)
          t.start()
        }
      } catch { case _: IOException => s.close() } // peer already gone
    }

  private def serve(s: Socket): Unit =
    try {
      val c = new Conn(s)
      while (exchange(c)) ()
    } catch { case _: IOException => () } // peer gone, or stop() closed it
    finally { open.remove(s); s.close() }

  /** Read one request and write its response; false when the connection
    * is to close. The request line, headers and body are read in place in
    * the connection's buffer. */
  private def exchange(c: Conn): Boolean = {
    val end = c.line()
    if (end == Eof) return false
    val t0 = System.nanoTime()
    def reject(code: Int, detail: String): Boolean = {
      c.w.reset()
      c.w.obj("detail" -> detail)
      respond(c.out, c.w, code, close = true, t0)
      // the peer may still be sending: closing over unread input resets
      // the connection, which can discard the response before it is read
      c.s.shutdownOutput()
      c.s.setSoTimeout(LingerMs)
      val deadline = t0 + LingerMs * 1000000L
      while (c.in.read(c.buf) >= 0 && System.nanoTime() < deadline) ()
      false
    }
    // METHOD SP target SP HTTP/1.x, with exactly two spaces
    val b = c.buf
    val at = c.at
    val sp1 = indexOf(b, ' ', at, end)
    val sp2 = if (sp1 < 0) -1 else indexOf(b, ' ', sp1 + 1, end)
    if (end == TooLong || sp2 < 0 || indexOf(b, ' ', sp2 + 1, end) >= 0 ||
        end - sp2 - 1 < 7 || !region(b, sp2 + 1, sp2 + 8, "HTTP/1."))
      return reject(400, "malformed request line")
    val post = region(b, at, sp1, "POST")
    val query = indexOf(b, '?', sp1 + 1, sp2)
    val path = new String(b, sp1 + 1, (if (query < 0) sp2 else query) - sp1 - 1,
      ISO_8859_1)
    var close = region(b, sp2 + 1, end, "HTTP/1.0")
    var length = 0L
    var chunked = false
    var headers = 0
    var h = c.line()
    while (h != Eof && h != c.at) { // an empty line ends the headers
      headers += 1
      val b = c.buf
      val colon = if (h < 0) -1 else indexOf(b, ':', c.at, h)
      if (colon <= c.at || headers > MaxHeaders)
        return reject(400, "malformed header")
      // name and value without the bytes up to 0x20 around them
      val ns = skipSpace(b, c.at, colon)
      val ne = trimEnd(b, ns, colon)
      val vs = skipSpace(b, colon + 1, h)
      val ve = trimEnd(b, vs, h)
      if (region(b, ns, ne, "content-length", anyCase = true))
        length = digits(b, vs, ve)
      else if (region(b, ns, ne, "transfer-encoding", anyCase = true))
        chunked = !region(b, vs, ve, "identity", anyCase = true)
      else if (region(b, ns, ne, "connection", anyCase = true)) {
        if (contains(b, vs, ve, "close")) close = true
        else if (contains(b, vs, ve, "keep-alive")) close = false
      }
      h = c.line()
    }
    if (h == Eof) return false
    if (chunked) return reject(411, "send a Content-Length body")
    if (length < 0) return reject(400, "malformed Content-Length")
    if (length > MaxBodyBytes) return reject(413, "body over 1 MiB")
    if (!c.need(length.toInt)) return false
    c.w.reset()
    val code =
      try route(c, post, path, length.toInt)
      catch {
        case NonFatal(e) => c.w.reset(); c.w.obj("detail" -> e.toString); 500
      }
    c.pos += length.toInt
    respond(c.out, c.w, code, close, t0)
    !close
  }

  /** Render the response body for `path` into `c.w`; returns the status.
    * The request body is the `length` bytes at `c.pos`. */
  private def route(c: Conn, post: Boolean, path: String, length: Int)
      : Int = path match {
    case "/predict" =>
      if (!post) reply(c.w, 405, "detail" -> "use POST")
      else predict(c.w, new String(c.buf, c.pos, length, UTF_8))
    case "/health" =>
      reply(c.w, 200, "status" -> "ok", "backend" -> "offline",
        "model" -> modelName, "offline_rows" -> index.rows)
    case "/refresh" =>
      if (!post) reply(c.w, 405, "detail" -> "use POST")
      else reply(c.w, 200, "reloaded_rows" -> reload())
    case "/metrics" =>
      val buckets = LatencyBucketsMs.indices.map { k =>
        s"latency_ms_le_${LatencyBucketsMs(k)}" ->
          (0 to k).map(byLatency.get(_)).sum
      }
      reply(c.w, 200, Seq(
        "requests" -> (0 until byClass.length).map(byClass.get(_)).sum,
        "status_2xx" -> byClass.get(2), "status_4xx" -> byClass.get(4),
        "status_5xx" -> byClass.get(5)) ++ buckets: _*)
    case "/debug/write_test" =>
      if (!post) reply(c.w, 405, "detail" -> "use POST")
      else predsDir match {
        case None => reply(c.w, 503, "detail" -> "no predsDir configured")
        case Some(dir) =>
          val now = Instant.now()
          val day = now.toString.take(10) // yyyy-MM-dd (UTC)
          val part = java.nio.file.Paths.get(dir, s"date=$day")
          java.nio.file.Files.createDirectories(part)
          val path = part.resolve(s"test-${System.nanoTime()}.json")
          // same fields the reference's test row carries
          // (serving/app.py:125-133)
          java.nio.file.Files.write(path, obj(
            "ts_served" -> now.toString, "latency_ms" -> 0.0,
            "customer_id" -> 0L, "t_ref" -> now.toString,
            "threshold" -> 0.5, "probability" -> 0.0,
            "prediction" -> 0, "model_artifact" -> "test")
            .getBytes(UTF_8))
          reply(c.w, 200, "wrote" -> path.toString)
      }
    case "/debug/log_state" =>
      def countFiles(d: Option[String]): Long = d match {
        case None => 0L
        case Some(root) =>
          val p = java.nio.file.Paths.get(root)
          if (!java.nio.file.Files.isDirectory(p)) 0L
          else {
            val s = java.nio.file.Files.walk(p)
            try s.filter { f =>
              val n = f.getFileName.toString
              java.nio.file.Files.isRegularFile(f) &&
                (n.endsWith(".parquet") ||
                  (n.startsWith("test-") && n.endsWith(".json")))
            }.count()
            finally s.close()
          }
      }
      reply(c.w, 200, "pred_files" -> countFiles(predsDir),
        "feature_files" -> countFiles(featuresDir))
    case _ => reply(c.w, 404, "detail" -> s"no route $path")
  }

  private def predict(w: Json.Writer, body: String): Int = {
    val req = new PredictRequest
    if (!Json.scan(body, req)) return reply(w, 400, "detail" -> "malformed JSON body")
    if (req.idKind != Num || !req.id.isWhole)
      return reply(w, 400, "detail" -> "customer_id (integer) is required")
    val id = req.id.toLong
    val threshold = req.thresholdKind match {
      case Absent => 0.5
      case Num if req.threshold >= 0 && req.threshold <= 1 => req.threshold
      case _ => return reply(w, 400, "detail" -> "threshold must be in [0, 1]")
    }
    val tRefUs =
      if (req.tRef == null) NoInstant
      else {
        val us = parseInstantUs(req.tRef)
        if (us == NoInstant)
          return reply(w, 400, "detail" -> s"unparseable t_ref: ${req.tRef}")
        us
      }
    val ix = index
    val u = ix.slot(id)
    if (u < 0)
      return reply(w, 404, "detail" -> s"No features for customer_id=$id")
    val r =
      if (req.latest || req.tRef == null) ix.ts(u).length - 1
      else ix.asOf(u, tRefUs)
    if (r < 0)
      return reply(w, 404, "detail" ->
        (s"No feature snapshot at/before ${req.tRef} for customer_id=$id"))
    val ts = ix.ts(u)(r)
    val t0 = System.nanoTime()
    val proba = scorer(ix.x(u)(r).clone()) // the index is shared
    val label = if (proba >= threshold) 1 else 0
    val now = Instant.now()
    predLog.add(PredLogRow(
      tsServedUs = now.getEpochSecond * 1000000L + now.getNano / 1000L,
      customer_id = id, t_ref_us = ts,
      threshold = threshold, probability = proba,
      prediction = label, model_artifact = modelName,
      latency_ms = (System.nanoTime() - t0) / 1e6))
    w.open().field(CustomerId, id).instant(TRef, ts)
      .field(Probability, proba).field(Prediction, label.toLong).end()
    200
  }

  /** Send the body rendered in `w` behind its status line and headers in
    * one `write`, and count it in `/metrics`. The head is rendered at the
    * front of the buffer and moved up against the body, into the
    * [[HeadRoom]] bytes kept free before it. */
  private def respond(out: OutputStream, w: Json.Writer, code: Int,
                      close: Boolean, t0: Long): Unit = {
    val body = w.len - HeadRoom
    w.len = 0
    w.bytes(head(code)).number(body).bytes(if (close) CloseHead else EndHead)
    val headLen = w.len
    System.arraycopy(w.buf, 0, w.buf, HeadRoom - headLen, headLen)
    out.write(w.buf, HeadRoom - headLen, headLen + body)
    byClass.incrementAndGet(code / 100)
    val ms = (System.nanoTime() - t0) / 1e6
    var b = 0 // the first bucket that holds ms; the last slot when none
    while (b < LatencyBucketsMs.length && ms > LatencyBucketsMs(b)) b += 1
    byLatency.incrementAndGet(b)
  }
}

object ServingEndpoint {

  /** Requests whose declared body is larger get 413. */
  val MaxBodyBytes: Int = 1 << 20
  /** A connection accepted while this many are open gets 503. */
  val MaxConnections = 64
  /** Longest request or header line; a longer one gets 400. */
  private val MaxLineBytes = 8192
  private val MaxHeaders = 100
  /** How long a rejected connection is read to its end before closing. */
  private val LingerMs = 500
  /** How long `stop()` waits for each serving thread. */
  private val JoinMs = 5000L
  /** Upper bounds of the `/metrics` latency buckets: 0.1 ms × 2^k. */
  private[graft] val LatencyBucketsMs: IndexedSeq[Double] =
    (0 until 17).map(k => 0.1 * (1 << k))
  /** Initial size of a connection's input buffer; it holds any request
    * line or header line whole, and grows only for a larger body. */
  private val InBytes = 2 * MaxLineBytes
  /** Bytes kept free before a response body for its status line and
    * headers: the longest head, a 500 with `Connection: close` and a
    * 10-digit `Content-Length`, is 117 bytes. */
  private val HeadRoom = 128
  /** [[Conn.line]] results that are not a line end. */
  private val Eof = -1
  private val TooLong = -2

  /** Per status code, the head up to the `Content-Length` value. */
  private val Heads = new Array[Array[Byte]](600)
  private val EndHead = "\r\n\r\n".getBytes(ISO_8859_1)
  private val CloseHead = "\r\nConnection: close\r\n\r\n".getBytes(ISO_8859_1)

  private def head(code: Int): Array[Byte] = {
    // a benign race: every thread that builds it builds the same bytes
    if (Heads(code) == null) {
      val reason = code match {
        case 200 => "OK"
        case 400 => "Bad Request"
        case 404 => "Not Found"
        case 405 => "Method Not Allowed"
        case 411 => "Length Required"
        case 413 => "Content Too Large"
        case 500 => "Internal Server Error"
        case 503 => "Service Unavailable"
        case _ => "Error"
      }
      Heads(code) = (s"HTTP/1.1 $code $reason\r\n" +
        "Content-Type: application/json\r\nContent-Length: ").getBytes(ISO_8859_1)
    }
    Heads(code)
  }

  /** Render `kvs` as the response body; returns `code`. */
  private def reply(w: Json.Writer, code: Int, kvs: (String, Any)*): Int = {
    w.obj(kvs: _*)
    code
  }

  /** One open connection: the bytes read from it and not yet consumed,
    * `buf(pos until lim)`, which may already hold the next pipelined
    * request, and the writer its responses are rendered into. */
  private final class Conn(val s: Socket) {
    val in: InputStream = s.getInputStream
    val out: OutputStream = s.getOutputStream
    val w = new Json.Writer(HeadRoom)
    var buf = new Array[Byte](InBytes)
    var pos = 0
    var lim = 0
    /** Where the line that [[line]] last returned starts. */
    var at = 0

    /** Consume the next LF-terminated line, which then starts at `at`, and
      * return its end without a trailing CR; [[Eof]] when the stream ends
      * first, or [[TooLong]] for a line of more than [[MaxLineBytes]]
      * bytes, consumed to its LF. */
    def line(): Int = {
      var long = false
      var scanned = 0
      while (true) {
        var i = pos + scanned
        while (i < lim && buf(i) != '\n') i += 1
        if (i < lim) {
          at = pos
          val raw = i - pos
          pos = i + 1
          return if (long || raw > MaxLineBytes) TooLong
            else if (raw > 0 && buf(i - 1) == '\r') i - 1 else i
        }
        scanned = i - pos
        if (scanned > MaxLineBytes) { long = true; pos = i; scanned = 0 }
        if (!need(lim - pos + 1)) return Eof
      }
      Eof
    }

    /** Read until `n` bytes from `pos` on are in `buf`, moving them to its
      * front, or into a larger buffer, when they would not fit; false
      * when the stream ends first. */
    def need(n: Int): Boolean = {
      if (n > buf.length - pos) {
        val to = if (n > buf.length) new Array[Byte](n) else buf
        System.arraycopy(buf, pos, to, 0, lim - pos)
        lim -= pos
        pos = 0
        buf = to
      }
      while (lim - pos < n) {
        val r = in.read(buf, lim, buf.length - lim)
        if (r < 0) return false
        lim += r
      }
      true
    }
  }

  private def indexOf(b: Array[Byte], c: Char, from: Int, to: Int): Int = {
    var i = from
    while (i < to && b(i) != c) i += 1
    if (i < to) i else -1
  }

  /** The first index in `from until to` past bytes up to 0x20, as
    * `String.trim` skips them. */
  private def skipSpace(b: Array[Byte], from: Int, to: Int): Int = {
    var i = from
    while (i < to && (b(i) & 0xff) <= ' ') i += 1
    i
  }

  /** `to` moved back over bytes up to 0x20, but not below `from`. */
  private def trimEnd(b: Array[Byte], from: Int, to: Int): Int = {
    var i = to
    while (i > from && (b(i - 1) & 0xff) <= ' ') i -= 1
    i
  }

  /** Whether `b(from until to)` is the ASCII text `s`; with `anyCase`, an
    * upper-case ASCII letter in `b` also matches its lower case in `s`. */
  private def region(b: Array[Byte], from: Int, to: Int, s: String,
                     anyCase: Boolean = false): Boolean = {
    if (to - from != s.length) return false
    var k = 0
    while (k < s.length) {
      val x = b(from + k)
      val e = s.charAt(k)
      if (x != e && !(anyCase && x >= 'A' && x <= 'Z' && x + 32 == e))
        return false
      k += 1
    }
    true
  }

  /** Whether the lower-case ASCII `s` occurs in `b(from until to)`, in any
    * ASCII case. */
  private def contains(b: Array[Byte], from: Int, to: Int, s: String)
      : Boolean = {
    var i = from
    while (i + s.length <= to) {
      if (region(b, i, i + s.length, s, anyCase = true)) return true
      i += 1
    }
    false
  }

  /** The unsigned decimal in `b(from until to)`, or -1 when it is empty,
    * holds any other byte (a sign included) or overflows a Long. */
  private def digits(b: Array[Byte], from: Int, to: Int): Long = {
    if (from == to) return -1L
    var v = 0L
    var i = from
    while (i < to) {
      val d = b(i) - '0'
      if (d < 0 || d > 9 || v > (Long.MaxValue - d) / 10) return -1L
      v = v * 10 + d
      i += 1
    }
    v
  }

  /** What a `/predict` body names, kept as the last non-null value of
    * each field, as a flat object read into a map would keep it. */
  private val CustomerId = new Json.Key("customer_id")
  private val TRef = new Json.Key("t_ref")
  private val Probability = new Json.Key("probability")
  private val Prediction = new Json.Key("prediction")

  private final class PredictRequest extends Json.Fields {
    var idKind = Absent
    var id = 0.0
    var thresholdKind = Absent
    var threshold = 0.0
    var latest = false
    /** `t_ref` when it is a string, else null. */
    var tRef: String = null

    def string(key: String, value: String): Unit = key match {
      case "customer_id" => idKind = Other
      case "threshold" => thresholdKind = Other
      case "latest" => latest = false
      case "t_ref" => tRef = value
      case _ => ()
    }

    def number(key: String, value: Double): Unit = key match {
      case "customer_id" => idKind = Num; id = value
      case "threshold" => thresholdKind = Num; threshold = value
      case "latest" => latest = false
      case "t_ref" => tRef = null
      case _ => ()
    }

    def bool(key: String, value: Boolean): Unit = key match {
      case "customer_id" => idKind = Other
      case "threshold" => thresholdKind = Other
      case "latest" => latest = value
      case "t_ref" => tRef = null
      case _ => ()
    }
  }
  private val Absent = 0
  private val Num = 1
  private val Other = 2

  /** The served table, built whole by `reload` and never changed after, so
    * one volatile write publishes it. `users` ascends; for the user in
    * slot `u`, `ts(u)` holds the snapshot times ascending (ties in
    * `event_id` order, then load order) and `x(u)` the contract-ordered
    * feature rows beside them. */
  private[graft] final class Index(val users: Array[Long],
                                   val ts: Array[Array[Long]],
                                   val x: Array[Array[Array[Double]]],
                                   val rows: Long) {

    /** Slot of `user`, or -1 when it has no rows. */
    def slot(user: Long): Int = {
      val u = java.util.Arrays.binarySearch(users, user)
      if (u < 0) -1 else u
    }

    /** Row of slot `u` served at `tRefUs`: the last with `ts_us ≤ tRefUs`,
      * or -1 when every row is later. */
    def asOf(u: Int, tRefUs: Long): Int = {
      val t = ts(u)
      var lo = 0 // invariant: rows below lo are ≤ tRefUs, from hi on later
      var hi = t.length
      while (lo < hi) {
        val m = (lo + hi) >>> 1
        if (t(m) <= tRefUs) lo = m + 1 else hi = m
      }
      lo - 1
    }
  }

  private[graft] object Index {
    val Empty = new Index(Array.empty, Array.empty, Array.empty, 0L)

    /** Collect `table` (`user_id`, `ts_us`, optional `event_id`, features)
      * into an index; a contract feature that is missing or null reads as
      * 0. */
    def build(table: DataFrame, contract: Seq[String]): Index = {
      val names = table.schema.fieldNames
      val rows = table.collect()
      val iu = names.indexOf("user_id")
      val it = names.indexOf("ts_us")
      val ie = names.indexOf("event_id")
      require(iu >= 0 && it >= 0, "the table needs user_id and ts_us")
      val ix = contract.map(names.indexOf(_)).toArray
      val n = rows.length
      val user = new Array[Long](n)
      val ts = new Array[Long](n)
      val ev = new Array[Long](n)
      var i = 0
      while (i < n) {
        val r = rows(i)
        user(i) = asLong(r.get(iu))
        ts(i) = asLong(r.get(it))
        ev(i) = if (ie < 0 || r.isNullAt(ie)) 0L else asLong(r.get(ie))
        i += 1
      }
      val order = sortedRows(user, ts, ev)
      // one slot per run of equal user ids in `order`
      val starts = scala.collection.mutable.ArrayBuilder.make[Int]
      i = 0
      while (i < n) {
        if (i == 0 || user(order(i)) != user(order(i - 1))) starts += i
        i += 1
      }
      starts += n
      val bounds = starts.result()
      val slots = bounds.length - 1
      val users = new Array[Long](slots)
      val times = new Array[Array[Long]](slots)
      val x = new Array[Array[Array[Double]]](slots)
      var u = 0
      while (u < slots) {
        val first = bounds(u)
        val size = bounds(u + 1) - first
        users(u) = user(order(first))
        times(u) = new Array[Long](size)
        x(u) = new Array[Array[Double]](size)
        var k = 0
        while (k < size) {
          val r = order(first + k)
          times(u)(k) = ts(r)
          x(u)(k) = ix.map(c => if (c < 0) 0.0 else asDouble(rows(r).get(c)))
          k += 1
        }
        u += 1
      }
      new Index(users, times, x, n.toLong)
    }

    /** Row numbers `0 until n` ordered by (`user`, `ts`, `ev`), equal keys
      * in row order: a stable bottom-up merge sort over primitive arrays. */
    private def sortedRows(user: Array[Long], ts: Array[Long],
                           ev: Array[Long]): Array[Int] = {
      def before(a: Int, b: Int): Boolean =
        user(a) < user(b) || user(a) == user(b) &&
          (ts(a) < ts(b) || ts(a) == ts(b) && ev(a) < ev(b))
      val n = user.length
      var src = Array.range(0, n)
      var dst = new Array[Int](n)
      var width = 1
      while (width < n) {
        var lo = 0
        while (lo < n) {
          val mid = math.min(lo + width, n)
          val hi = math.min(lo + 2 * width, n)
          var a = lo
          var b = mid
          var k = lo
          while (k < hi) {
            // the right run's row goes first only when strictly before
            if (b < hi && (a >= mid || before(src(b), src(a)))) {
              dst(k) = src(b); b += 1
            } else { dst(k) = src(a); a += 1 }
            k += 1
          }
          lo = hi
        }
        val t = src; src = dst; dst = t
        width *= 2
      }
      src
    }
  }

  private def daemon(name: String)(body: => Unit): Thread = {
    val t = new Thread(() => body, name)
    t.setDaemon(true)
    t
  }

  case class PredLogRow(tsServedUs: Long, customer_id: Long, t_ref_us: Long,
                        threshold: Double, probability: Double,
                        prediction: Int, model_artifact: String,
                        latency_ms: Double)

  /** Adapt a trained churn pipeline (assembler + GBT,
    * [[graft.ml.ChurnModel]]) to a LOCAL per-request scorer — the public
    * `predictProbability(Vector)` on the final stage; no Spark job per
    * request. The input array must already be in the assembler's input
    * order (= the feature-name contract). */
  def pipelineScorer(model: org.apache.spark.ml.PipelineModel)
      : Array[Double] => Double = {
    val clf = model.stages.last
      .asInstanceOf[org.apache.spark.ml.classification
        .ProbabilisticClassificationModel[
          org.apache.spark.ml.linalg.Vector, _]]
    x => clf.predictProbability(
      org.apache.spark.ml.linalg.Vectors.dense(x))(1)
  }

  private[graft] def asLong(v: Any): Long = v match {
    case n: Number => n.longValue
    case other => other.toString.toLong
  }

  private[graft] def asDouble(v: Any): Double = v match {
    case n: Number => n.doubleValue
    case null => 0.0
    case _ => 0.0
  }

  /** Epoch micros as `Instant.toString` writes them. */
  private[graft] def isoUs(us: Long): String = {
    val b = new Array[Byte](IsoUsBytes)
    new String(b, 0, isoUs(b, 0, us), ISO_8859_1)
  }

  /** The most bytes [[isoUs]] writes: a 6-digit year with its sign and a
    * 6-digit fraction. */
  private val IsoUsBytes = 30

  /** Write epoch micros `us` into `b` from `at` as `Instant.toString`
    * writes them, and return where they end: by hand for the years
    * 1000-9999 (`yyyy-MM-ddTHH:mm:ss`, then `.SSS` or `.SSSSSS` when the
    * fraction is not zero, then `Z`), through `Instant` for any other. */
  private def isoUs(b: Array[Byte], at: Int, us: Long): Int = {
    val day = Math.floorDiv(us, 86400000000L)
    val inDay = Math.floorMod(us, 86400000000L)
    // civil date of `day` (H. Hinnant, "chrono-Compatible Low-Level Date
    // Algorithms", civil_from_days)
    val z = day + 719468
    val era = Math.floorDiv(z, 146097L)
    val doe = z - era * 146097
    val yoe = (doe - doe / 1460 + doe / 36524 - doe / 146096) / 365
    val doy = doe - (365 * yoe + yoe / 4 - yoe / 100)
    val mp = (5 * doy + 2) / 153
    val d = doy - (153 * mp + 2) / 5 + 1
    val m = if (mp < 10) mp + 3 else mp - 9
    val y = yoe + era * 400 + (if (m <= 2) 1 else 0)
    if (y < 1000 || y > 9999) {
      val s = Instant.EPOCH.plus(us, ChronoUnit.MICROS).toString.getBytes(ISO_8859_1)
      System.arraycopy(s, 0, b, at, s.length)
      return at + s.length
    }
    def two(i: Int, v: Long): Unit = {
      b(i) = ('0' + v / 10).toByte
      b(i + 1) = ('0' + v % 10).toByte
    }
    def mark(i: Int, c: Char): Unit = b(i) = c.toByte
    val secs = inDay / 1000000
    two(at, y / 100); two(at + 2, y % 100); mark(at + 4, '-')
    two(at + 5, m); mark(at + 7, '-')
    two(at + 8, d); mark(at + 10, 'T')
    two(at + 11, secs / 3600); mark(at + 13, ':')
    two(at + 14, secs / 60 % 60); mark(at + 16, ':')
    two(at + 17, secs % 60)
    var end = at + 19
    var frac = inDay % 1000000
    if (frac != 0) {
      // groups of three digits, as many as the fraction needs
      var digits = 6
      if (frac % 1000 == 0) { frac /= 1000; digits = 3 }
      mark(end, '.')
      var k = digits
      while (k > 0) { b(end + k) = ('0' + frac % 10).toByte; frac /= 10; k -= 1 }
      end += digits + 1
    }
    mark(end, 'Z')
    end + 1
  }

  /** What [[parseInstantUs]] returns for text that is no instant. */
  private[graft] val NoInstant = Long.MinValue

  /** ISO instant / datetime / date → epoch micros (UTC), like the
    * reference's `pd.to_datetime(t_ref, utc=True)`, or [[NoInstant]]. The
    * shape clients send, `yyyy-MM-ddTHH:mm:ss[.fraction]Z`, is read by
    * hand: `Instant.parse` builds a new formatter on every call, which
    * cost about 0.2 ms of a /predict that had run only a few hundred
    * times. */
  private[graft] def parseInstantUs(s: String): Long = {
    val us = utcInstantUs(s)
    if (us != NoInstant) us else parsedInstantUs(s)
  }

  /** The general path: `Instant.parse`, then a UTC local datetime, then a
    * date; [[NoInstant]] when none reads `s`. An instant whose micros are
    * `Long.MinValue` (year -290308) reads as none. */
  private[graft] def parsedInstantUs(s: String): Long = {
    def us(i: Instant) = i.getEpochSecond * 1000000L + i.getNano / 1000L
    try us(Instant.parse(s))
    catch {
      case NonFatal(_) =>
        try us(LocalDateTime.parse(s).toInstant(ZoneOffset.UTC))
        catch {
          case NonFatal(_) =>
            try us(LocalDate.parse(s).atStartOfDay(ZoneOffset.UTC).toInstant)
            catch { case NonFatal(_) => NoInstant }
        }
    }
  }

  /** `yyyy-MM-ddTHH:mm:ss[.f{1,9}]Z` → epoch micros, the fraction cut to
    * micros as `parsedInstantUs` cuts it; [[NoInstant]] for any other
    * text (leap seconds and offsets included), which `parsedInstantUs`
    * then reads. */
  private def utcInstantUs(s: String): Long = {
    val n = s.length
    def num(from: Int, to: Int): Int = {
      var v = 0
      var i = from
      while (i < to) {
        val d = s.charAt(i) - '0'
        if (d < 0 || d > 9) return -1
        v = v * 10 + d
        i += 1
      }
      v
    }
    if (n < 20 || n == 21 || n > 30 || s.charAt(4) != '-' ||
        s.charAt(7) != '-' || s.charAt(10) != 'T' || s.charAt(13) != ':' ||
        s.charAt(16) != ':' || s.charAt(n - 1) != 'Z' ||
        (n > 20 && s.charAt(19) != '.')) return NoInstant
    val y = num(0, 4)
    val h = num(11, 13)
    val mi = num(14, 16)
    val sec = num(17, 19)
    var nanos = if (n == 20) 0 else num(20, n - 1)
    if (y < 0 || h < 0 || h > 23 || mi < 0 || mi > 59 || sec < 0 ||
        sec > 59 || nanos < 0) return NoInstant
    var w = n - 21 // fraction digits
    while (w < 9) { nanos *= 10; w += 1 }
    val m = num(5, 7)
    val d = num(8, 10)
    val leap = y % 4 == 0 && (y % 100 != 0 || y % 400 == 0)
    if (m < 1 || m > 12 || d < 1 ||
        d > (if (m == 2) (if (leap) 29 else 28) else 30 + (m + m / 8) % 2))
      return NoInstant
    // days since the epoch (H. Hinnant, days_from_civil), as
    // LocalDate.toEpochDay counts them
    val yy = if (m <= 2) y - 1 else y
    val era = Math.floorDiv(yy, 400)
    val yoe = yy - era * 400
    val doy = (153 * (if (m > 2) m - 3 else m + 9) + 2) / 5 + d - 1
    val day = era * 146097L + yoe * 365 + yoe / 4 - yoe / 100 + doy - 719468
    (day * 86400L + h * 3600L + mi * 60L + sec) * 1000000L + nanos / 1000
  }

  /** Minimal FLAT JSON object codec for the request/response bodies — the
    * payloads here are flat by construction (mirrors serving/app.py's
    * pydantic models); nested values are rejected with a 400. Hand-rolled
    * because the sandbox ships no JSON library and the JDK has none. */
  private[graft] object Json {

    /** What [[scan]] reports for each field, in text order; null values
      * are not reported. */
    abstract class Fields {
      def string(key: String, value: String): Unit
      def number(key: String, value: Double): Unit
      def bool(key: String, value: Boolean): Unit
    }

    /** Read `{"k": v, ...}` with string/number/bool/null values, reporting
      * each field to `onField`; false on anything malformed or nested, and
      * then the fields already reported are to be dropped. Outside the
      * object only chars up to U+0020 may stand; between tokens, any
      * `Character.isWhitespace`. Numbers are what `Double.parseDouble`
      * reads from a run of `+-.eE` and digits that starts with `-` or a
      * digit, without a leading zero before another digit. */
    def scan(text: String, onField: Fields): Boolean = {
      var from = 0
      var to = text.length
      while (from < to && text.charAt(from) <= ' ') from += 1
      while (to > from && text.charAt(to - 1) <= ' ') to -= 1
      to - from >= 2 && text.charAt(from) == '{' &&
        text.charAt(to - 1) == '}' && new Scanner(text, from + 1, to).obj(onField)
    }

    /** Reads the fields of an object from `i`, just past its `{`, to `end`,
      * just past its `}`. */
    private final class Scanner(s: String, private var i: Int, end: Int) {

      private def ws(): Unit =
        while (i < end && Character.isWhitespace(s.charAt(i))) i += 1

      def obj(onField: Fields): Boolean = {
        ws()
        if (i < end && s.charAt(i) == '}') return last()
        while (true) {
          ws()
          val key = string()
          if (key == null) return false
          ws()
          if (i >= end || s.charAt(i) != ':') return false
          i += 1
          ws()
          if (i >= end) return false
          s.charAt(i) match {
            case '"' =>
              val v = string()
              if (v == null) return false
              onField.string(key, v)
            case 't' if s.startsWith("true", i) =>
              onField.bool(key, true); i += 4
            case 'f' if s.startsWith("false", i) =>
              onField.bool(key, false); i += 5
            case 'n' if s.startsWith("null", i) => i += 4
            case c if c == '-' || Character.isDigit(c) =>
              val v = number()
              if (v != v) return false
              onField.number(key, v)
            case _ => return false // nested object/array: not a flat body
          }
          ws()
          if (i >= end) return false
          s.charAt(i) match {
            case ',' => i += 1
            case '}' => return last()
            case _ => return false
          }
        }
        false
      }

      /** At the closing brace: true when nothing but whitespace follows. */
      private def last(): Boolean = {
        i += 1
        ws()
        i == end
      }

      /** The string whose quote is at `i`, unescaped; null if malformed. */
      private def string(): String = {
        if (i >= end || s.charAt(i) != '"') return null
        i += 1
        val close = s.indexOf('"', i)
        val escape = s.indexOf('\\', i)
        if (close >= 0 && close < end && (escape < 0 || escape > close)) {
          val v = s.substring(i, close)
          i = close + 1
          return v
        }
        val sb = new java.lang.StringBuilder()
        while (i < end && s.charAt(i) != '"') {
          if (s.charAt(i) == '\\' && i + 1 < end) {
            i += 1
            sb.append(s.charAt(i) match {
              case 'n' => '\n'; case 't' => '\t'; case 'r' => '\r'
              case 'b' => '\b'; case 'f' => '\f'
              case c @ ('"' | '\\' | '/') => c
              case 'u' if i + 4 < end &&
                  (i + 1 to i + 4).forall(j => Character.digit(s.charAt(j), 16) >= 0) =>
                i += 4
                Integer.parseInt(s.substring(i - 3, i + 1), 16).toChar
              case _ => return null
            })
          } else sb.append(s.charAt(i))
          i += 1
        }
        if (i >= end) null else { i += 1; sb.toString }
      }

      /** The number at `i`, or NaN if malformed. Up to 15 plain digits are
        * read as a Long, which holds them exactly, as `parseDouble` would
        * round them. */
      private def number(): Double = {
        val start = i
        while (i < end && "+-.eE0123456789".indexOf(s.charAt(i)) >= 0) i += 1
        val neg = s.charAt(start) == '-'
        val first = if (neg) start + 1 else start
        if (first + 1 < i && s.charAt(first) == '0' &&
            Character.isDigit(s.charAt(first + 1))) return Double.NaN
        var v = 0L
        var k = first
        while (k < i && k - first < 15 && s.charAt(k) >= '0' && s.charAt(k) <= '9') {
          v = v * 10 + (s.charAt(k) - '0')
          k += 1
        }
        if (k == i && k > first) { if (neg) -v.toDouble else v.toDouble }
        else
          try java.lang.Double.parseDouble(s.substring(start, i))
          catch { case _: NumberFormatException => Double.NaN }
      }
    }

    /** [[scan]] into a map: numbers surface as java.lang.Double, strings
      * as String, booleans as Boolean; a repeated key keeps its last
      * non-null value. None on anything malformed or nested. */
    def parseFlat(s: String): Option[Map[String, Any]] = {
      val out = scala.collection.mutable.Map[String, Any]()
      val kept = scan(s, new Fields {
        def string(key: String, value: String): Unit = out(key) = value
        def number(key: String, value: Double): Unit = out(key) = value
        def bool(key: String, value: Boolean): Unit = out(key) = value
      })
      if (kept) Some(out.toMap) else None
    }

    /** The body of a JSON string as [[Writer]] writes it: `"`, `\` and
      * every character below 0x20 escaped (RFC 8259 section 7). A string
      * with nothing to escape is returned as it is. */
    def escape(s: String): String = {
      var i = 0
      while (i < s.length && s(i) >= ' ' && s(i) != '"' && s(i) != '\\') i += 1
      if (i == s.length) s
      else { val w = new Writer(0); w.chars(s, escape = true); w.utf8 }
    }

    /** A key as [[Writer]] writes it before its value, `"name": `,
      * rendered once. */
    final class Key(name: String) {
      private[Json] val bytes: Array[Byte] = {
        val w = new Writer(0)
        w.name(name)
        java.util.Arrays.copyOf(w.buf, w.len)
      }
    }

    /** Renders flat JSON objects, and the HTTP head before them, as UTF-8
      * into one growable buffer whose first `from` bytes are left free.
      * Keys and strings are escaped as [[escape]] says, a char that
      * UTF-8 cannot encode (an unpaired surrogate) as `?`, as
      * `String.getBytes` writes it; numbers as `toString` writes them. */
    final class Writer(from: Int) {
      private[store] var buf = new Array[Byte](from + 256)
      private[store] var len = from
      private var fields = 0

      /** Drop what was written. */
      def reset(): Unit = len = from

      /** The text written, decoded. */
      def utf8: String = new String(buf, from, len - from, UTF_8)

      def open(): Writer = { put('{'); fields = 0; this }
      def end(): Writer = put('}')

      def field(key: Key, value: Long): Writer = { name(key); number(value) }
      def field(key: Key, value: Double): Writer = {
        name(key)
        bytes(java.lang.Double.toString(value).getBytes(ISO_8859_1))
      }

      /** Epoch micros as a quoted `Instant.toString`. */
      def instant(key: Key, us: Long): Writer = {
        name(key)
        room(IsoUsBytes + 2)
        buf(len) = '"'
        len = isoUs(buf, len + 1, us)
        put('"')
      }

      /** A whole object: strings quoted, null as `null`, anything else as
        * its `toString`. */
      def obj(kvs: (String, Any)*): Writer = {
        open()
        kvs.foreach {
          case (k, v: String) => name(k); put('"'); chars(v, escape = true); put('"')
          case (k, null) => name(k); chars("null", escape = false)
          case (k, v) => name(k); chars(v.toString, escape = false)
        }
        end()
      }

      /** `b` as it is. */
      def bytes(b: Array[Byte]): Writer = {
        room(b.length)
        System.arraycopy(b, 0, buf, len, b.length)
        len += b.length
        this
      }

      def number(v: Long): Writer =
        bytes(java.lang.Long.toString(v).getBytes(ISO_8859_1))

      private def name(key: Key): Unit = { separate(); bytes(key.bytes) }

      private[Json] def name(key: String): Unit = {
        separate()
        put('"'); chars(key, escape = true); put('"'); put(':'); put(' ')
      }

      private def separate(): Unit = {
        if (fields > 0) { put(','); put(' ') }
        fields += 1
      }

      private def room(n: Int): Unit =
        if (len + n > buf.length)
          buf = java.util.Arrays.copyOf(buf, math.max(2 * buf.length, len + n))

      private def put(b: Int): Writer = {
        room(1)
        buf(len) = b.toByte
        len += 1
        this
      }

      private[Json] def chars(s: String, escape: Boolean): Writer = {
        var i = 0
        while (i < s.length) {
          val c = s.charAt(i)
          if (c < 0x80) {
            if (!escape || (c >= ' ' && c != '"' && c != '\\')) put(c)
            else c match {
              case '"' => put('\\'); put('"')
              case '\\' => put('\\'); put('\\')
              case '\n' => put('\\'); put('n')
              case '\r' => put('\\'); put('r')
              case '\t' => put('\\'); put('t')
              case _ =>
                put('\\'); put('u'); put('0'); put('0')
                put(Character.forDigit(c >> 4, 16)); put(Character.forDigit(c & 15, 16))
            }
          } else if (c < 0x800) {
            put(0xc0 | c >> 6); put(0x80 | c & 0x3f)
          } else if (Character.isHighSurrogate(c) && i + 1 < s.length &&
                     Character.isLowSurrogate(s.charAt(i + 1))) {
            val cp = Character.toCodePoint(c, s.charAt(i + 1))
            put(0xf0 | cp >> 18); put(0x80 | cp >> 12 & 0x3f)
            put(0x80 | cp >> 6 & 0x3f); put(0x80 | cp & 0x3f)
            i += 1
          } else if (Character.isSurrogate(c)) put('?')
          else {
            put(0xe0 | c >> 12); put(0x80 | c >> 6 & 0x3f); put(0x80 | c & 0x3f)
          }
          i += 1
        }
        this
      }
    }
  }

  /** Render a flat JSON object; Doubles via Java's shortest-repr
    * `toString` (what a reader round-trips exactly). */
  private[graft] def obj(kvs: (String, Any)*): String =
    new Json.Writer(0).obj(kvs: _*).utf8
}

package graft.store

import java.io.{BufferedInputStream, IOException, InputStream, OutputStream}
import java.net.{InetSocketAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}
import java.time.temporal.ChronoUnit
import java.util.Locale
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
  * order (keep-alive, `TCP_NODELAY`). Each response — status line,
  * `Content-Type`, `Content-Length` and body — leaves in a single socket
  * write. `/refresh` runs the loader on its own connection's thread while
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
          respond(s.getOutputStream, 503,
            obj("detail" -> "too many open connections"), close = true,
            System.nanoTime())
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
      val in = new BufferedInputStream(s.getInputStream)
      val out = s.getOutputStream
      while (exchange(s, in, out)) ()
    } catch { case _: IOException => () } // peer gone, or stop() closed it
    finally { open.remove(s); s.close() }

  /** Read one request and write its response; false when the connection
    * is to close. */
  private def exchange(s: Socket, in: InputStream, out: OutputStream)
      : Boolean = {
    val line = readLine(in)
    if (line == null) return false
    val t0 = System.nanoTime()
    def reject(code: Int, detail: String): Boolean = {
      respond(out, code, obj("detail" -> detail), close = true, t0)
      // the peer may still be sending: closing over unread input resets
      // the connection, which can discard the response before it is read
      s.shutdownOutput()
      s.setSoTimeout(LingerMs)
      val deadline = t0 + LingerMs * 1000000L
      val sink = new Array[Byte](8192)
      while (in.read(sink) >= 0 && System.nanoTime() < deadline) ()
      false
    }
    val req = line.split(' ')
    if (line.length > MaxLineBytes || req.length != 3 ||
        !req(2).startsWith("HTTP/1."))
      return reject(400, "malformed request line")
    var length = 0L
    var chunked = false
    var close = req(2) == "HTTP/1.0"
    var headers = 0
    var h = readLine(in)
    while (h != null && h.nonEmpty) {
      val c = h.indexOf(':')
      headers += 1
      if (c <= 0 || h.length > MaxLineBytes || headers > MaxHeaders)
        return reject(400, "malformed header")
      val value = h.substring(c + 1).trim.toLowerCase(Locale.ROOT)
      h.substring(0, c).trim.toLowerCase(Locale.ROOT) match {
        case "content-length" => length = value.toLongOption.getOrElse(-1L)
        case "transfer-encoding" => chunked = value != "identity"
        case "connection" =>
          if (value.contains("close")) close = true
          else if (value.contains("keep-alive")) close = false
        case _ => ()
      }
      h = readLine(in)
    }
    if (h == null) return false
    if (chunked) return reject(411, "send a Content-Length body")
    if (length < 0) return reject(400, "malformed Content-Length")
    if (length > MaxBodyBytes) return reject(413, "body over 1 MiB")
    val body = in.readNBytes(length.toInt)
    if (body.length < length) return false
    val (code, json) =
      try route(req(0), req(1).takeWhile(_ != '?'), new String(body, UTF_8))
      catch { case NonFatal(e) => (500, obj("detail" -> e.toString)) }
    respond(out, code, json, close, t0)
    !close
  }

  private def route(method: String, path: String, body: String)
      : (Int, String) = path match {
    case "/predict" =>
      if (method != "POST") (405, obj("detail" -> "use POST"))
      else predict(body)
    case "/health" =>
      (200, obj("status" -> "ok", "backend" -> "offline",
        "model" -> modelName, "offline_rows" -> index.rows))
    case "/refresh" =>
      if (method != "POST") (405, obj("detail" -> "use POST"))
      else (200, obj("reloaded_rows" -> reload()))
    case "/metrics" =>
      val buckets = LatencyBucketsMs.indices.map { k =>
        s"latency_ms_le_${LatencyBucketsMs(k)}" ->
          (0 to k).map(byLatency.get(_)).sum
      }
      (200, obj(Seq(
        "requests" -> (0 until byClass.length).map(byClass.get(_)).sum,
        "status_2xx" -> byClass.get(2), "status_4xx" -> byClass.get(4),
        "status_5xx" -> byClass.get(5)) ++ buckets: _*))
    case "/debug/write_test" =>
      if (method != "POST") (405, obj("detail" -> "use POST"))
      else predsDir match {
        case None => (503, obj("detail" -> "no predsDir configured"))
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
          (200, obj("wrote" -> path.toString))
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
      (200, obj("pred_files" -> countFiles(predsDir),
        "feature_files" -> countFiles(featuresDir)))
    case _ => (404, obj("detail" -> s"no route $path"))
  }

  private def predict(body: String): (Int, String) =
    Json.parseFlat(body) match {
      case None => (400, obj("detail" -> "malformed JSON body"))
      case Some(req) =>
        req.get("customer_id") match {
          case Some(idNum: java.lang.Double)
              if idNum.doubleValue.isWhole =>
            val id = idNum.longValue
            val latest = req.get("latest").contains(true)
            val threshold = req.get("threshold") match {
              case Some(t: java.lang.Double)
                  if t.doubleValue >= 0 && t.doubleValue <= 1 =>
                t.doubleValue
              case Some(_) =>
                return (400, obj("detail" -> "threshold must be in [0, 1]"))
              case None => 0.5
            }
            val tRefUs: Option[Long] = req.get("t_ref") match {
              case Some(s: String) => parseInstantUs(s) match {
                case some @ Some(_) => some
                case None =>
                  return (400, obj("detail" -> s"unparseable t_ref: $s"))
              }
              case _ => None
            }
            val ix = index
            val u = ix.slot(id)
            if (u < 0)
              return (404, obj("detail" -> s"No features for customer_id=$id"))
            val r =
              if (latest || tRefUs.isEmpty) ix.ts(u).length - 1
              else ix.asOf(u, tRefUs.get)
            if (r < 0)
              return (404, obj("detail" ->
                (s"No feature snapshot at/before " +
                  s"${req("t_ref")} for customer_id=$id")))
            val ts = ix.ts(u)(r)
            val t0 = System.nanoTime()
            val proba = scorer(ix.x(u)(r).clone()) // the index is shared
            val label = if (proba >= threshold) 1 else 0
            val now = Instant.now()
            predLog.add(PredLogRow(
              tsServedUs = now.getEpochSecond * 1000000L +
                now.getNano / 1000L,
              customer_id = id, t_ref_us = ts,
              threshold = threshold, probability = proba,
              prediction = label, model_artifact = modelName,
              latency_ms = (System.nanoTime() - t0) / 1e6))
            (200, obj("customer_id" -> id, "t_ref" -> isoUs(ts),
              "probability" -> proba, "prediction" -> label))
          case _ =>
            (400, obj("detail" -> "customer_id (integer) is required"))
        }
    }

  /** Write the whole response in one `write` and count it in `/metrics`. */
  private def respond(out: OutputStream, code: Int, json: String,
                      close: Boolean, t0: Long): Unit = {
    val body = json.getBytes(UTF_8)
    val head = (s"HTTP/1.1 $code ${Reasons.getOrElse(code, "Error")}\r\n" +
      s"Content-Type: application/json\r\nContent-Length: ${body.length}\r\n" +
      (if (close) "Connection: close\r\n" else "") + "\r\n")
      .getBytes(ISO_8859_1)
    val msg = java.util.Arrays.copyOf(head, head.length + body.length)
    System.arraycopy(body, 0, msg, head.length, body.length)
    out.write(msg)
    byClass.incrementAndGet(code / 100)
    val ms = (System.nanoTime() - t0) / 1e6
    val b = LatencyBucketsMs.indexWhere(ms <= _)
    byLatency.incrementAndGet(if (b < 0) LatencyBucketsMs.length else b)
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
  private val Reasons = Map(200 -> "OK", 400 -> "Bad Request",
    404 -> "Not Found", 405 -> "Method Not Allowed",
    411 -> "Length Required", 413 -> "Content Too Large",
    500 -> "Internal Server Error", 503 -> "Service Unavailable")

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
      val (iu, it, ie) = (names.indexOf("user_id"), names.indexOf("ts_us"),
        names.indexOf("event_id"))
      require(iu >= 0 && it >= 0, "the table needs user_id and ts_us")
      val ix = contract.map(names.indexOf(_)).toArray
      val key = rows.map(r => (asLong(r.get(iu)), asLong(r.get(it)),
        if (ie < 0 || r.isNullAt(ie)) 0L else asLong(r.get(ie))))
      val byUser = rows.indices.groupBy(key(_)._1)
      val users = byUser.keys.toArray.sorted
      val order = users.map(u =>
        byUser(u).sortBy(i => (key(i)._2, key(i)._3)).toArray)
      new Index(users, order.map(_.map(key(_)._2)),
        order.map(_.map(i => ix.map(c => if (c < 0) 0.0
          else asDouble(rows(i).get(c))))),
        rows.length.toLong)
    }
  }

  private def daemon(name: String)(body: => Unit): Thread = {
    val t = new Thread(() => body, name)
    t.setDaemon(true)
    t
  }

  /** One LF-terminated line (a trailing CR dropped) as ISO-8859-1; null at
    * end of stream. A line over [[MaxLineBytes]] is consumed but comes back
    * cut to `MaxLineBytes + 1` chars, so callers can reject it. */
  private def readLine(in: InputStream): String = {
    val sb = new java.lang.StringBuilder
    var c = in.read()
    if (c < 0) return null
    while (c != '\n') {
      if (c < 0) return null
      if (sb.length <= MaxLineBytes) sb.append(c.toChar)
      c = in.read()
    }
    val n = sb.length
    if (n > 0 && n <= MaxLineBytes && sb.charAt(n - 1) == '\r')
      sb.setLength(n - 1)
    sb.toString
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

  private[graft] def isoUs(us: Long): String =
    Instant.EPOCH.plus(us, ChronoUnit.MICROS).toString

  /** ISO instant / datetime / date → epoch micros (UTC), like the
    * reference's `pd.to_datetime(t_ref, utc=True)`. The shape clients
    * send, `yyyy-MM-ddTHH:mm:ss[.fraction]Z`, is read by hand:
    * `Instant.parse` builds a new formatter on every call, which cost
    * about 0.2 ms of a /predict that had run only a few hundred times. */
  private[graft] def parseInstantUs(s: String): Option[Long] =
    utcInstantUs(s).orElse(parsedInstantUs(s))

  /** The general path: `Instant.parse`, then a UTC local datetime, then a
    * date. */
  private[graft] def parsedInstantUs(s: String): Option[Long] = {
    def us(i: Instant) = i.getEpochSecond * 1000000L + i.getNano / 1000L
    scala.util.Try(us(Instant.parse(s))).toOption
      .orElse(scala.util.Try(us(LocalDateTime.parse(s)
        .toInstant(ZoneOffset.UTC))).toOption)
      .orElse(scala.util.Try(us(LocalDate.parse(s)
        .atStartOfDay(ZoneOffset.UTC).toInstant)).toOption)
  }

  /** `yyyy-MM-ddTHH:mm:ss[.f{1,9}]Z` → epoch micros, the fraction cut to
    * micros as `parsedInstantUs` cuts it; None for any other text (leap
    * seconds and offsets included), which `parsedInstantUs` then reads. */
  private def utcInstantUs(s: String): Option[Long] = {
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
        (n > 20 && s.charAt(19) != '.')) return None
    val (y, h, mi, sec) = (num(0, 4), num(11, 13), num(14, 16), num(17, 19))
    var nanos = if (n == 20) 0 else num(20, n - 1)
    if (y < 0 || h < 0 || h > 23 || mi < 0 || mi > 59 || sec < 0 ||
        sec > 59 || nanos < 0) return None
    (n - 21 until 9).foreach(_ => nanos *= 10)
    val day =
      try LocalDate.of(y, num(5, 7), num(8, 10)).toEpochDay
      catch { case _: java.time.DateTimeException => return None }
    Some((day * 86400L + h * 3600L + mi * 60L + sec) * 1000000L +
      nanos / 1000)
  }

  /** Minimal FLAT JSON object codec for the request/response bodies — the
    * payloads here are flat by construction (mirrors serving/app.py's
    * pydantic models); nested values are rejected with a 400. Hand-rolled
    * because the sandbox ships no JSON library and the JDK has none. */
  private[graft] object Json {

    /** Parse `{"k": v, ...}` with string/number/bool/null values.
      * Numbers surface as java.lang.Double, strings as String, booleans
      * as Boolean; null values are dropped. Returns None on anything
      * malformed or nested. */
    def parseFlat(s: String): Option[Map[String, Any]] = {
      val in = s.trim
      if (!in.startsWith("{") || !in.endsWith("}")) return None
      var i = 1
      val out = scala.collection.mutable.Map[String, Any]()
      def skipWs(): Unit = while (i < in.length && in(i).isWhitespace) i += 1
      def parseString(): Option[String] = {
        if (in(i) != '"') return None
        i += 1
        val sb = new StringBuilder
        while (i < in.length && in(i) != '"') {
          if (in(i) == '\\' && i + 1 < in.length) {
            i += 1
            sb.append(in(i) match {
              case 'n' => '\n'; case 't' => '\t'; case 'r' => '\r'
              case 'b' => '\b'; case 'f' => '\f'
              case c @ ('"' | '\\' | '/') => c
              case 'u' if i + 4 < in.length &&
                  (i + 1 to i + 4).forall(j => Character.digit(in(j), 16) >= 0) =>
                i += 4
                Integer.parseInt(in.substring(i - 3, i + 1), 16).toChar
              case _ => return None
            })
          } else sb.append(in(i))
          i += 1
        }
        if (i >= in.length) None else { i += 1; Some(sb.toString) }
      }
      skipWs()
      if (i < in.length && in(i) == '}') return Some(Map.empty)
      while (true) {
        skipWs()
        val key = parseString().getOrElse(return None)
        skipWs()
        if (i >= in.length || in(i) != ':') return None
        i += 1; skipWs()
        if (i >= in.length) return None
        in(i) match {
          case '"' => out(key) = parseString().getOrElse(return None)
          case 't' if in.startsWith("true", i) => out(key) = true; i += 4
          case 'f' if in.startsWith("false", i) => out(key) = false; i += 5
          case 'n' if in.startsWith("null", i) => i += 4
          case c if c == '-' || c.isDigit =>
            val start = i
            while (i < in.length && "+-.eE0123456789".indexOf(in(i)) >= 0)
              i += 1
            out(key) = scala.util.Try(
              java.lang.Double.valueOf(in.substring(start, i)))
              .getOrElse(return None)
          case _ => return None // nested object/array: not a flat body
        }
        skipWs()
        if (i >= in.length) return None
        in(i) match {
          case ',' => i += 1
          case '}' =>
            i += 1; skipWs()
            return if (i == in.length) Some(out.toMap) else None
          case _ => return None
        }
      }
      None
    }

    /** The body of a JSON string: `"`, `\` and every character below
      * 0x20 escaped (RFC 8259 section 7). A string with nothing to escape
      * is returned as it is. */
    def escape(s: String): String = {
      var i = 0
      while (i < s.length && s(i) >= ' ' && s(i) != '"' && s(i) != '\\') i += 1
      if (i == s.length) return s
      val sb = new java.lang.StringBuilder(s.length + 16).append(s, 0, i)
      for (c <- s.substring(i)) c match {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      sb.toString
    }
  }

  /** Render a flat JSON object; Doubles via Java's shortest-repr
    * `toString` (what a reader round-trips exactly). */
  private[graft] def obj(kvs: (String, Any)*): String =
    kvs.map { case (k, v) =>
      val rendered = v match {
        case s: String => "\"" + Json.escape(s) + "\""
        case null => "null"
        case other => other.toString
      }
      "\"" + Json.escape(k) + "\": " + rendered
    }.mkString("{", ", ", "}")
}

package graft

import java.io.BufferedInputStream
import java.net.{ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.jdk.CollectionConverters._

import graft.store.{FeatureStore, ServingEndpoint}
import graft.store.ServingEndpoint.isoUs

/** The serving edge's own HTTP server and index: a `/refresh` that swaps
  * the table while predicts run, back-to-back keep-alive latency, the
  * binary-search lookup against the reference `takeWhile` semantics, the
  * request and connection guards, `stop()`, and `/metrics`. Every case
  * opens only a handful of sockets. */
class ServingEdgeSpec extends SparkSpec {
  import spark.implicits._

  /** One keep-alive HTTP/1.1 connection that writes each request in one
    * segment (TCP_NODELAY), as a benchmark client does. */
  private final class Client(port: Int) {
    val sock = new Socket("127.0.0.1", port)
    sock.setTcpNoDelay(true)
    sock.setSoTimeout(20000)
    private val out = sock.getOutputStream
    private val in = new BufferedInputStream(sock.getInputStream)

    def raw(bytes: String): Unit = { out.write(bytes.getBytes(UTF_8)); out.flush() }

    def send(method: String, path: String, body: String = ""): (Int, String) = {
      val b = body.getBytes(UTF_8)
      raw(s"$method $path HTTP/1.1\r\nHost: 127.0.0.1\r\n" +
        s"Content-Type: application/json\r\nContent-Length: ${b.length}\r\n\r\n" + body)
      read()
    }

    /** Status, body and headers (lower-cased names) of the next response. */
    def response(): (Int, String, Map[String, String]) = {
      val status = line().split(" ")(1).toInt
      val headers = Iterator.continually(line()).takeWhile(_.nonEmpty).map { h =>
        val c = h.indexOf(':')
        h.substring(0, c).trim.toLowerCase -> h.substring(c + 1).trim
      }.toMap
      val body = new String(in.readNBytes(headers("content-length").toInt), UTF_8)
      (status, body, headers)
    }

    def read(): (Int, String) = { val (s, b, _) = response(); (s, b) }

    /** True when the server has closed the connection. */
    def closedByServer(): Boolean =
      try in.read() == -1 catch { case _: java.io.IOException => true }

    private def line(): String = {
      val sb = new StringBuilder
      var c = in.read()
      while (c != '\n' && c != -1) { if (c != '\r') sb.append(c.toChar); c = in.read() }
      sb.toString
    }

    def close(): Unit = sock.close()
  }

  private def field(body: String, key: String): Option[String] =
    ServingEndpoint.Json.parseFlat(body).flatMap(_.get(key)).map {
      case d: java.lang.Double if d.doubleValue.isWhole => d.longValue.toString
      case v => v.toString
    }

  private val contract = Seq("f", "absent")
  private val scorer: Array[Double] => Double = x => x(0) / 1000.0 + x(1)

  /** Users 1..30 with 5 snapshots each; version B shifts every feature
    * value by 0.5 and adds one later snapshot per user. */
  private def table(version: Char) = {
    val base = for (u <- 1 to 30; k <- 0 until 5)
      yield (u.toLong, 1000000L * (k + 1) + u, k.toLong, u * 10.0 + k)
    val rows =
      if (version == 'A') base
      else base.map(r => r.copy(_4 = r._4 + 0.5)) ++
        (1 to 30).map(u => (u.toLong, 9000000L + u, 5L, u * 10.0 + 7.5))
    rows.toDF("user_id", "ts_us", "event_id", "f")
  }

  private def withEndpoint(loader: () => org.apache.spark.sql.DataFrame,
                           limit: Int = ServingEndpoint.MaxConnections)
                          (f: (Int, ServingEndpoint) => Unit): Unit = {
    val ep = new ServingEndpoint(loader, contract, scorer, "edge")
    ep.connectionLimit = limit
    val port = ep.start()
    try f(port, ep) finally ep.stop()
  }

  /** The reference lookup: collect, group by user, sort by (ts, event_id),
    * newest row with ts ≤ t_ref via `takeWhile`. */
  private def reference(rows: Seq[Map[String, Any]], names: Seq[String])
      : Map[Long, Vector[(Long, Array[Double])]] =
    rows.groupBy(m => ServingEndpoint.asLong(m("user_id"))).map { case (u, rs) =>
      u -> rs.sortBy(m => (ServingEndpoint.asLong(m("ts_us")),
        m.get("event_id").map(ServingEndpoint.asLong).getOrElse(0L)))
        .map(m => (ServingEndpoint.asLong(m("ts_us")),
          names.map(n => m.get(n).map(ServingEndpoint.asDouble).getOrElse(0.0)).toArray))
        .toVector
    }

  private def takeWhileLookup(snaps: Vector[(Long, Array[Double])], tRef: Option[Long]) =
    tRef match {
      case None => snaps.lastOption
      case Some(t) => snaps.takeWhile(_._1 <= t).lastOption
    }

  test("/refresh swaps the whole table while 4 clients keep predicting") {
    val expected = Seq('A', 'B').map(v => v -> reference(rows(table(v)), contract)).toMap
    val rowsOf = Map('A' -> 150L, 'B' -> 180L)
    val loads = new AtomicInteger()
    // version B takes a second to load, so predicts meet the refresh
    val loader = () =>
      if (loads.getAndIncrement() == 0) table('A')
      else { Thread.sleep(1000); table('B') }
    withEndpoint(loader) { (port, _) =>
      val stop = new AtomicBoolean(false)
      // (client, sent ns, done ns, version served) per response
      val seen = new ConcurrentLinkedQueue[(Int, Long, Long, Char)]()
      val failures = new ConcurrentLinkedQueue[String]()
      val clients = (0 until 4).map { c =>
        val t = new Thread(() => {
          val rng = new scala.util.Random(c)
          val conn = new Client(port)
          try while (!stop.get) {
            val u = 1L + rng.nextInt(30)
            val tRef = if (rng.nextInt(4) == 0) None else Some(rng.nextLong(10000000L))
            val body = tRef match {
              case None => s"""{"customer_id": $u, "latest": true}"""
              case Some(t) => s"""{"customer_id": $u, "t_ref": "${isoUs(t)}"}"""
            }
            val sent = System.nanoTime()
            val (st, b) = conn.send("POST", "/predict", body)
            val done = System.nanoTime()
            val want = expected.map { case (v, byUser) =>
              v -> takeWhileLookup(byUser(u), tRef).map { case (ts, x) =>
                (isoUs(ts), scorer(x).toString)
              }
            }
            val got = (field(b, "t_ref").getOrElse(""), field(b, "probability").getOrElse(""))
            val versions = want.collect { case (v, Some(w)) if w == got => v }
            if (st == 200 && versions.size == 1) seen.add((c, sent, done, versions.head))
            else if (!(st == 404 && want.values.forall(_.isEmpty)))
              failures.add(s"$body -> $st $b matches ${versions.mkString}")
            val hSent = System.nanoTime()
            val (hs, hb) = conn.send("GET", "/health")
            val rows = field(hb, "offline_rows").map(_.toLong)
            rowsOf.find(v => rows.contains(v._2)) match {
              case Some((v, _)) if hs == 200 => seen.add((c, hSent, System.nanoTime(), v))
              case _ => failures.add(s"/health -> $hs $hb")
            }
          } finally conn.close()
        })
        t.start()
        t
      }
      Thread.sleep(300)
      val refresher = new Client(port)
      val r0 = System.nanoTime()
      val (rs, rb) = refresher.send("POST", "/refresh", "{}")
      val r1 = System.nanoTime()
      refresher.close()
      Thread.sleep(300)
      stop.set(true)
      clients.foreach(_.join(20000))

      assert(failures.isEmpty, failures.asScala.take(5).mkString("\n"))
      assert(rs == 200 && field(rb, "reloaded_rows").contains("180"), rb)
      val all = seen.asScala.toSeq
      assert(all.filter(_._3 < r0).forall(_._4 == 'A'))
      assert(all.filter(_._2 > r1).forall(_._4 == 'B'))
      assert(all.count(_._2 > r1) > 0)
      // predicts kept being served while the loader ran
      assert(all.count(s => s._2 > r0 && s._3 < r1) >= 4,
        s"${all.count(s => s._2 > r0 && s._3 < r1)} responses during the refresh")
      // a client never sees the table go back: predicts and /health's
      // offline_rows switch to B together
      (0 until 4).foreach { c =>
        val versions = all.filter(_._1 == c).sortBy(_._3).map(_._4)
        assert(versions == versions.sorted, s"client $c saw ${versions.mkString}")
      }
    }
  }

  test("200 back-to-back predicts on one keep-alive socket take under 2 s") {
    withEndpoint(() => table('A')) { (port, _) =>
      val conn = new Client(port)
      try {
        conn.send("POST", "/predict", """{"customer_id": 1, "latest": true}""") // warm
        val t0 = System.nanoTime()
        (0 until 200).foreach { i =>
          val (st, b) = conn.send("POST", "/predict",
            s"""{"customer_id": ${1 + i % 30}, "t_ref": "${isoUs(3500000L)}"}""")
          assert(st == 200, b)
        }
        val s = (System.nanoTime() - t0) / 1e9
        assert(s < 2.0, s"200 predicts took $s s")
      } finally conn.close()
    }
  }

  test("index lookup matches the takeWhile semantics") {
    val dup = Seq((7L, 100L, 2L, 1.0), (7L, 100L, 1L, 2.0), (7L, 200L, 0L, 3.0),
      (7L, 100L, 3L, 4.0), (8L, 50L, 0L, 5.0)).toDF("user_id", "ts_us", "event_id", "f")
    val ix = ServingEndpoint.Index.build(dup, Seq("f"))
    assert(ix.rows == 5L)
    val u = ix.slot(7L)
    def at(t: Long) = { val r = ix.asOf(u, t); if (r < 0) None else Some(ix.x(u)(r)(0)) }
    assert(at(150L).contains(4.0)) // duplicates: the last in (ts_us, event_id) order
    assert(at(100L).contains(4.0)) // t_ref equal to a stored ts_us picks it
    assert(at(200L).contains(3.0))
    assert(at(99L).isEmpty) // before the first row
    assert(ix.slot(9L) == -1)

    val gold = FeatureStore.buildGold(spark, sf).cache()
    val names = FeatureStore.featureNames
    val gx = ServingEndpoint.Index.build(gold, names)
    val want = reference(rows(gold), names)
    assert(gx.rows == want.values.map(_.size).sum.toLong)
    assert(gx.users.toSeq == want.keys.toSeq.sorted)
    val rng = new scala.util.Random(7)
    want.foreach { case (user, snaps) =>
      val u = gx.slot(user)
      val (lo, hi) = (snaps.head._1, snaps.last._1)
      val tRefs = Seq(None, Some(lo - 1), Some(lo), Some(hi)) ++
        Seq.fill(5)(Some(lo - 1000 + (rng.nextDouble() * (hi - lo + 2000)).toLong))
      tRefs.foreach { t =>
        val r = t.fold(gx.ts(u).length - 1)(gx.asOf(u, _))
        val got = if (r < 0) None else Some((gx.ts(u)(r), gx.x(u)(r).toSeq))
        assert(got == takeWhileLookup(snaps, t).map(s => (s._1, s._2.toSeq)),
          s"user $user t_ref $t")
      }
    }
    gold.unpersist()
  }

  test("t_ref: the hand-read UTC shape parses exactly as the general path") {
    val rng = new scala.util.Random(11)
    val random = Seq.fill(2000) {
      val i = java.time.Instant.ofEpochSecond(
        rng.nextLong(7258118400L) - 2208988800L, // 1900-01-01 .. 2100-01-01
        Seq(0, rng.nextInt(1000) * 1000000, rng.nextInt(1000000) * 1000,
          rng.nextInt(1000000000))(rng.nextInt(4)))
      val iso = i.toString
      // also every fraction width from 1 to 9 digits
      val w = 1 + rng.nextInt(9)
      Seq(iso, iso.take(19) + "." + f"${i.getNano}%09d".take(w) + "Z")
    }.flatten
    val edge = Seq("2024-02-29T23:59:59Z", "2023-02-29T00:00:00Z",
      "2016-12-31T23:59:60Z", "2024-01-15T24:00:00Z", "2024-01-15T12:60:00Z",
      "2024-01-15T12:34:56.Z", "2024-01-15T12:34:56.1234567890Z",
      "2024-01-15T12:34:56+01:00", "2024-01-15T12:34:56", "2024-01-15",
      "2024-01-15T12:34Z", "2024-01-15t12:34:56z", "abcd-01-15T12:34:56Z",
      "0000-01-01T00:00:00Z", "1969-12-31T23:59:59.999999Z", "")
    (random ++ edge).foreach { t =>
      assert(ServingEndpoint.parseInstantUs(t) == ServingEndpoint.parsedInstantUs(t), t)
    }
    assert(ServingEndpoint.parseInstantUs("1970-01-01T00:00:01.0000019Z").contains(1000001L))
  }

  test("guards: 413 over 1 MiB, 411 chunked, 400 malformed, 503 over the connection limit") {
    withEndpoint(() => table('A'), limit = 2) { (port, _) =>
      def rejected(request: String): (Int, Map[String, String], Boolean) = {
        val c = new Client(port)
        try {
          c.raw(request)
          val (st, _, h) = c.response()
          (st, h, c.closedByServer())
        } finally c.close()
      }
      val big = rejected(s"POST /predict HTTP/1.1\r\nContent-Length: ${(1 << 20) + 1}\r\n\r\n")
      assert(big == ((413, big._2, true)) && big._2.get("connection").contains("close"))
      val chunked = rejected("POST /predict HTTP/1.1\r\nTransfer-Encoding: chunked\r\n\r\n")
      assert(chunked._1 == 411 && chunked._3)
      val bad = rejected("GARBAGE\r\n")
      assert(bad._1 == 400 && bad._3)

      val c1 = new Client(port)
      val c2 = new Client(port)
      try {
        assert(c1.send("GET", "/health")._1 == 200)
        assert(c2.send("GET", "/health")._1 == 200)
        val c3 = new Client(port) // the acceptor answers before any request
        try {
          val (st, _, h) = c3.response()
          assert(st == 503 && h.get("connection").contains("close") && c3.closedByServer())
        } finally c3.close()
        c1.close()
        // the freed slot is taken again once the server sees c1's close
        val deadline = System.nanoTime() + 5000000000L
        var served = false
        while (!served && System.nanoTime() < deadline) {
          val c4 = new Client(port)
          try served = c4.send("GET", "/health")._1 == 200
          catch { case _: java.io.IOException => () }
          finally c4.close()
          if (!served) Thread.sleep(20)
        }
        assert(served)
        assert(c2.send("GET", "/health")._1 == 200) // still open
      } finally { c1.close(); c2.close() }
    }
  }

  test("stop() closes the listener and every connection and leaves no serving thread") {
    val ep = new ServingEndpoint(() => table('A'), contract, scorer, "edge")
    val port = ep.start()
    val conns = Seq(new Client(port), new Client(port))
    conns.foreach(c => assert(c.send("GET", "/health")._1 == 200))
    ep.stop()
    try conns.foreach(c => assert(c.closedByServer()))
    finally conns.foreach(_.close())
    val left = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.isAlive && t.getName.startsWith(s"graft-serve-$port "))
    assert(left.isEmpty, left.map(_.getName))
    new ServerSocket(port).close() // the port can be bound again
  }

  test("/metrics counts responses by status class into the latency histogram") {
    withEndpoint(() => table('A')) { (port, _) =>
      val c = new Client(port)
      try {
        (1 to 3).foreach(u =>
          assert(c.send("POST", "/predict", s"""{"customer_id": $u}""")._1 == 200))
        assert(c.send("POST", "/predict", """{"customer_id": 99}""")._1 == 404)
        assert(c.send("POST", "/predict", "not json")._1 == 400)
        assert(c.send("GET", "/predict")._1 == 405)
        assert(c.send("GET", "/nope")._1 == 404)
        val (st, m) = c.send("GET", "/metrics")
        assert(st == 200, m)
        val kv = ServingEndpoint.Json.parseFlat(m).get
          .map { case (k, v) => k -> v.asInstanceOf[java.lang.Double].longValue }
        assert(kv("requests") == 7 && kv("status_2xx") == 3 && kv("status_4xx") == 4 &&
          kv("status_5xx") == 0, m)
        val buckets = ServingEndpoint.LatencyBucketsMs.map(b => kv(s"latency_ms_le_$b"))
        assert(buckets.head == kv("latency_ms_le_0.1") && kv.contains("latency_ms_le_6553.6"))
        assert(buckets == buckets.sorted && buckets.last == 7, m)
        // the /metrics response itself counts from the next read on
        assert(field(c.send("GET", "/metrics")._2, "requests").contains("8"))
      } finally c.close()
    }
  }
}

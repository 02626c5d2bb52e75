package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import graft.store.{FeatureStore, ServingEndpoint}

/** The request-serving layer: a `ServingEndpoint` over the gold feature view
  * with the pipeline's GBT as its scorer. A closed loop of `nproc` clients,
  * then an open loop at a fixed offered rate with one `/refresh` at a fixed
  * time. */
object Serve {
  /** Offered rate of the open loop, requests/s. The closed loop measured
    * about 90 predicts/s over 4 connections on a 4-core box, so this keeps
    * the server below saturation outside the refresh. */
  val Rate = 40
  val OpenLoopS = 4.0
  /** `/refresh` time, as a share of the open-loop phase; an assumed
    * schedule, not one taken from real traffic. */
  val RefreshAt = 0.7
  /** Predicts sent by the closed loop. */
  val ClosedLoopRequests = 100
  /** Every n-th 2xx response is recomputed from gold and the scorer. */
  val CheckEvery = 5

  sealed trait Req
  final case class Predict(user: Long, tRefUs: Option[Long], latest: Boolean) extends Req
  case object Refresh extends Req

  final case class Done(req: Req, dueNs: Long, sentNs: Long, endNs: Long, status: Int,
                        body: String)

  /** Gold rows per user, time-ascending, as the endpoint sorts them. */
  final class Gold(val byUser: Map[Long, Vector[(Long, Long, Array[Double])]]) {
    def lookup(p: Predict): Option[(Long, Array[Double])] = byUser.get(p.user).flatMap { rows =>
      val hit = if (p.latest || p.tRefUs.isEmpty) rows.lastOption
                else rows.takeWhile(_._1 <= p.tRefUs.get).lastOption
      hit.map(h => (h._1, h._3))
    }
  }

  def loadGold(ctx: Ctx): Gold = {
    val names = FeatureStore.featureNames
    val rows = FeatureStore.buildGold(ctx.spark, ctx.stage.toString).collect()
    val byUser = rows.toSeq.map { r =>
      val x = names.map(n => Option(r.getAs[Any](n)).map {
        case d: Number => d.doubleValue; case _ => 0.0 }.getOrElse(0.0)).toArray
      (r.getAs[Long]("user_id"), (r.getAs[Long]("ts_us"), r.getAs[Long]("event_id"), x))
    }.groupBy(_._1).map { case (u, xs) => u -> xs.map(_._2).sortBy(t => (t._1, t._2)).toVector }
    new Gold(byUser)
  }

  /** Seeded request mix: mostly point-in-time lookups, some latest, a few
    * unknown ids. The 80/15/5 shares are an assumption that stands in for
    * that qualitative mix; no request log backs them. */
  def mix(rng: scala.util.Random, gold: Gold, users: IndexedSeq[Long], n: Int): IndexedSeq[Predict] =
    IndexedSeq.fill(n) {
      val p = rng.nextDouble()
      if (p < 0.05) Predict(-1L - rng.nextInt(1000000), None, latest = true)
      else {
        val u = users(rng.nextInt(users.size))
        if (p < 0.20) Predict(u, None, latest = true)
        else {
          val rows = gold.byUser(u)
          val lo = rows.head._1
          val hi = rows.last._1
          Predict(u, Some(lo + (rng.nextDouble() * (hi - lo)).toLong), latest = false)
        }
      }
    }

  def body(p: Predict): String = p match {
    case Predict(u, Some(t), _) =>
      s"""{"customer_id": $u, "t_ref": "${java.time.Instant.EPOCH.plusNanos(t * 1000L)}"}"""
    case Predict(u, None, _) => s"""{"customer_id": $u, "latest": true}"""
  }

  /** A keep-alive HTTP/1.1 connection that writes each request in one
    * segment (TCP_NODELAY), so client-side Nagle never delays a request. */
  final class Conn(port: Int) {
    private val sock = new java.net.Socket("127.0.0.1", port)
    sock.setTcpNoDelay(true)
    private val out = sock.getOutputStream
    private val in = new java.io.BufferedInputStream(sock.getInputStream)

    def send(req: Req): (Int, String) = {
      val (path, payload) = req match {
        case p: Predict => ("/predict", body(p))
        case Refresh => ("/refresh", "{}")
      }
      val bytes = payload.getBytes(UTF_8)
      out.write((s"POST $path HTTP/1.1\r\nHost: 127.0.0.1\r\n" +
        s"Content-Type: application/json\r\nContent-Length: ${bytes.length}\r\n\r\n")
        .getBytes(UTF_8) ++ bytes)
      out.flush()
      val status = readLine().split(" ")(1).toInt
      var len = 0
      var line = readLine()
      while (line.nonEmpty) {
        val i = line.indexOf(':')
        if (line.substring(0, i).equalsIgnoreCase("content-length")) len = line.substring(i + 1).trim.toInt
        line = readLine()
      }
      val buf = in.readNBytes(len)
      (status, new String(buf, UTF_8))
    }

    private def readLine(): String = {
      val sb = new StringBuilder
      var c = in.read()
      while (c != '\n' && c != -1) { if (c != '\r') sb.append(c.toChar); c = in.read() }
      sb.toString
    }

    def close(): Unit = sock.close()
  }

  /** Parse the flat JSON response fields the checks need. */
  def field(body: String, key: String): Option[String] = {
    val i = body.indexOf("\"" + key + "\":")
    if (i < 0) None
    else {
      val s = body.substring(i + key.length + 3).trim
      val end = s.indexWhere(c => c == ',' || c == '}')
      Some(s.substring(0, if (end < 0) s.length else end).trim.stripPrefix("\"").stripSuffix("\""))
    }
  }

  /** Serve `model` over the staged gold view: an open loop, then a closed
    * loop. Returns the server start-up seconds. */
  def run(ctx: Ctx, r: Result, model: org.apache.spark.ml.PipelineModel): Double = {
    val spark = ctx.spark
    val names = FeatureStore.featureNames
    val t0 = System.nanoTime()
    val scorer = ServingEndpoint.pipelineScorer(model)
    val scorerNs = new ConcurrentLinkedQueue[java.lang.Long]()
    val served: Array[Double] => Double =
      if (!ctx.trace) scorer
      else x => { val a = System.nanoTime(); val p = scorer(x); scorerNs.add(System.nanoTime() - a); p }
    val predsDir = ctx.out.resolve("serve-preds").toString
    val endpoint = new ServingEndpoint(() => FeatureStore.buildGold(spark, ctx.stage.toString),
      names, served, "gbt", Some(predsDir))
    val port = Trace.span("store.reload") { endpoint.start(0) }
    val prepS = Stats.secs(t0)

    try {
      val gold = loadGold(ctx)
      val users = gold.byUser.keys.toIndexedSeq.sorted
      val rng = new scala.util.Random(ctx.seed)
      // the closed loop runs first, so the open loop meets JIT-compiled
      // request handling rather than the interpreter
      val closedReqs = mix(rng, gold, users, ClosedLoopRequests)
      val openReqs = mix(rng, gold, users, (Rate * OpenLoopS).toInt)
      val (closedWallS, doneClosed) = ctx.counters.section(closedLoop(ctx, port, closedReqs))
      val doneOpen = ctx.counters.section(openLoop(ctx, port, openReqs))
      Heap.checkpoint()
      val (flushed, flushMs) = ctx.counters.section {
        val f0 = System.nanoTime()
        val n = Trace.span("store.pred_flush") { endpoint.flushPredictionLog(spark, predsDir) }
        (n, Stats.ms(f0))
      }

      // --- checks ---
      val all = doneOpen ++ doneClosed
      var n2xx = 0L
      var nth = 0
      all.foreach { d =>
        d.req match {
          case Refresh =>
            r.check(d.status == 200 && field(d.body, "reloaded_rows")
              .contains(ctx.expected("events.rows")), s"refresh ${d.status} ${d.body}")
          case p: Predict =>
            val known = gold.byUser.contains(p.user)
            if (d.status == 200) {
              n2xx += 1
              nth += 1
              if (nth % CheckEvery == 0) {
                val want = gold.lookup(p)
                val ok = want.exists { case (tsUs, x) =>
                  field(d.body, "probability").contains(scorer(x).toString) &&
                  field(d.body, "t_ref").contains(java.time.Instant.EPOCH.plusNanos(tsUs * 1000L).toString)
                }
                r.check(known && ok, s"predict $p -> ${d.body}")
              }
            } else r.check(d.status == 404 && !known, s"predict $p -> ${d.status} ${d.body}")
        }
      }
      val logged = spark.read.parquet(predsDir).count()
      r.check(flushed == n2xx && logged == n2xx, s"pred log $flushed flushed, $logged read, $n2xx served")

      val predictsOpen = doneOpen.filter(_.req.isInstanceOf[Predict])
      val lat = predictsOpen.map(d => (d.endNs - d.dueNs) / 1e6)
      val refreshes = doneOpen.filter(_.req == Refresh)
      r.e2e("op_p50_ms", Stats.median(lat), "ms")
      r.layer("op_p99_ms", Stats.quantile(lat, 0.99), "ms")
      r.layer("predict_p50_ms", Stats.median(lat), "ms")
      r.layer("predict_p99_ms", Stats.quantile(lat, 0.99), "ms")
      r.layer("predict_rps", ClosedLoopRequests / closedWallS, "1/s")
      r.layer("refresh_s", Stats.median(refreshes.map(d => (d.endNs - d.sentNs) / 1e9)), "s")
      r.layer("store.reload_ms", Stats.median(refreshes.map(d => (d.endNs - d.sentNs) / 1e6)), "ms")
      // how long predicts due during a refresh waited, worst per refresh
      val stalls = refreshes.map { f =>
        val during = predictsOpen.filter(d => d.dueNs >= f.sentNs && d.dueNs <= f.endNs)
        if (during.isEmpty) 0.0 else during.map(d => (d.endNs - d.dueNs) / 1e6).max
      }
      r.layer("serve.refresh_stall_ms", Stats.median(stalls), "ms")
      r.layer("store.pred_flush_ms", flushMs, "ms")
      val predicts = all.filter(_.req.isInstanceOf[Predict])
      r.layer("serve.status_2xx", predicts.count(_.status / 100 == 2).toDouble, "count")
      r.layer("serve.status_404", predicts.count(_.status == 404).toDouble, "count")
      r.layer("serve.status_other", predicts.count(d => d.status / 100 != 2 && d.status != 404).toDouble, "count")
      r.layer("serve.gen_late_p99_ms", Stats.quantile(doneOpen.map(d => (d.sentNs - d.dueNs) / 1e6), 0.99), "ms")
      if (ctx.trace) {
        val us = scorerNs.asScala.map(_.doubleValue / 1000).toSeq
        r.layer("ml.scorer_us", Stats.median(us), "us")
      }
    } finally endpoint.stop()
    prepS
  }

  /** Open loop: request i is due at start + i/Rate whatever the server does;
    * `nproc` senders take requests in order and wait for their due time. */
  def openLoop(ctx: Ctx, port: Int, reqs: IndexedSeq[Predict]): Seq[Done] = {
    val periodNs = 1000000000L / Rate
    val refreshIdx = (RefreshAt * reqs.size).toInt
    val schedule: IndexedSeq[Req] = reqs.indices.flatMap { i =>
      if (i == refreshIdx) Seq(Refresh, reqs(i)) else Seq(reqs(i))
    }
    val dueIdx = schedule.scanLeft(0) { (k, q) => if (q == Refresh) k else k + 1 }
    val start = System.nanoTime() + 50000000L
    val next = new AtomicInteger()
    val out = new ConcurrentLinkedQueue[Done]()
    val pool = Executors.newFixedThreadPool(ctx.cores)
    (1 to ctx.cores).foreach { _ =>
      pool.submit(new Runnable {
        def run(): Unit = {
          val conn = new Conn(port)
          var i = next.getAndIncrement()
          while (i < schedule.size) {
            val due = start + dueIdx(i) * periodNs
            var now = System.nanoTime()
            while (now < due) { Thread.sleep(math.max(0L, (due - now) / 1000000L)); now = System.nanoTime() }
            val q = schedule(i)
            val sent = System.nanoTime()
            Trace.newTrace()
            val (st, b) = Trace.span(if (q == Refresh) "serve.refresh" else "serve.predict") {
              conn.send(q)
            }
            out.add(Done(q, due, sent, System.nanoTime(), st, b))
            i = next.getAndIncrement()
          }
          conn.close()
        }
      })
    }
    pool.shutdown()
    pool.awaitTermination(10, TimeUnit.MINUTES)
    out.asScala.toSeq
  }

  /** Closed loop: `nproc` clients, each sending its next predict when the
    * previous one returns. Returns the wall time and the responses. */
  def closedLoop(ctx: Ctx, port: Int, reqs: IndexedSeq[Predict]): (Double, Seq[Done]) = {
    val next = new AtomicInteger()
    val out = new ConcurrentLinkedQueue[Done]()
    val pool = Executors.newFixedThreadPool(ctx.cores)
    val t0 = System.nanoTime()
    (1 to ctx.cores).foreach { _ =>
      pool.submit(new Runnable {
        def run(): Unit = {
          val conn = new Conn(port)
          var i = next.getAndIncrement()
          while (i < reqs.size) {
            val s = System.nanoTime()
            Trace.newTrace()
            val (st, b) = Trace.span("serve.predict") { conn.send(reqs(i)) }
            out.add(Done(reqs(i), s, s, System.nanoTime(), st, b))
            i = next.getAndIncrement()
          }
          conn.close()
        }
      })
    }
    pool.shutdown()
    pool.awaitTermination(10, TimeUnit.MINUTES)
    (Stats.secs(t0), out.asScala.toSeq)
  }
}

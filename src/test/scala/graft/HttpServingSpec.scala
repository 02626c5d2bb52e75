package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.apache.spark.sql.functions._
import graft.store.{FeatureStore, ServingEndpoint}

/** §2.9 HTTP serving edge (reference: serving/app.py:24-90): /predict
  * lookup + threshold semantics (incl. 404/400 paths), /health, /refresh,
  * and the buffered prediction-log flush. The scorer is injected (a fixed
  * logistic over the contract vector) — endpoint semantics are under test,
  * not GBT training; ChurnModelSpec covers the model side and
  * ServingEndpoint.pipelineScorer adapts one to this server. */
class HttpServingSpec extends SparkSpec {
  import spark.implicits._

  private val client = HttpClient.newHttpClient()

  private def post(port: Int, path: String, body: String) =
    client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def get(port: Int, path: String) =
    client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .GET().build(), HttpResponse.BodyHandlers.ofString())

  // deterministic scorer: sigmoid of the scaled first contract feature
  private val scorer: Array[Double] => Double =
    x => 1.0 / (1.0 + math.exp(-(x(0) / 10.0 - 1.0)))

  private def withServer(f: (Int, ServingEndpoint) => Unit): Unit = {
    val ep = new ServingEndpoint(
      () => FeatureStore.buildGold(spark, sf),
      FeatureStore.featureNames, scorer, "test_scorer")
    val port = ep.start()
    try f(port, ep) finally ep.stop()
  }

  test("/predict latest + explicit t_ref + 404s + threshold flip") {
    withServer { (port, _) =>
      val gold = FeatureStore.buildGold(spark, sf).cache()
      val someUser = gold.select($"user_id").orderBy($"user_id")
        .head().getLong(0)
      val latestTs = gold.filter($"user_id" === someUser)
        .agg(max($"ts_us")).head().getLong(0)

      // latest: t_ref in the response is the newest snapshot's timestamp
      val r1 = post(port, "/predict",
        s"""{"customer_id": $someUser, "latest": true}""")
      assert(r1.statusCode() == 200, r1.body())
      assert(r1.body().contains(ServingEndpoint.isoUs(latestTs)))
      assert(r1.body().contains("\"probability\""))

      // explicit t_ref BEFORE the first snapshot → 404 (reference
      // raises KeyError → HTTP 404)
      val r2 = post(port, "/predict",
        s"""{"customer_id": $someUser, "t_ref": "1990-01-01"}""")
      assert(r2.statusCode() == 404)

      // unknown customer → 404
      val r3 = post(port, "/predict", """{"customer_id": 99999999}""")
      assert(r3.statusCode() == 404)
      assert(r3.body().contains("No features for customer_id"))

      // missing customer_id / bad threshold / malformed JSON → 400
      assert(post(port, "/predict", """{"latest": true}""").statusCode() == 400)
      assert(post(port, "/predict",
        s"""{"customer_id": $someUser, "threshold": 1.5}""").statusCode() == 400)
      assert(post(port, "/predict", """not json""").statusCode() == 400)

      // threshold flips the hard prediction around the same probability
      val lo = post(port, "/predict",
        s"""{"customer_id": $someUser, "threshold": 0.0}""")
      val hi = post(port, "/predict",
        s"""{"customer_id": $someUser, "threshold": 1.0}""")
      assert(lo.body().contains("\"prediction\": 1"))
      assert(hi.body().contains("\"prediction\": 0"))
    }
  }

  test("/predict as-of picks the newest snapshot ≤ t_ref (batch parity)") {
    withServer { (port, _) =>
      val gold = FeatureStore.buildGold(spark, sf).cache()
      val asOfUs = 1705276800000000L
      val batch = FeatureStore.snapshotsAsOf(gold, asOfUs)
        .orderBy($"user_id").limit(5).collect()
      assert(batch.nonEmpty)
      batch.foreach { row =>
        val r = post(port, "/predict",
          s"""{"customer_id": ${row.getAs[Long]("user_id")},
             | "t_ref": "${ServingEndpoint.isoUs(asOfUs)}"}""".stripMargin)
        assert(r.statusCode() == 200, r.body())
        assert(r.body().contains(
          ServingEndpoint.isoUs(row.getAs[Long]("ts_us"))),
          s"expected ts ${row.getAs[Long]("ts_us")} in ${r.body()}")
      }
    }
  }

  test("/health + /refresh + prediction-log flush") {
    withServer { (port, ep) =>
      val h = get(port, "/health")
      assert(h.statusCode() == 200)
      assert(h.body().contains("\"status\": \"ok\""))
      assert(h.body().contains("\"model\": \"test_scorer\""))
      assert(h.body().contains("\"offline_rows\""))

      val rf = post(port, "/refresh", "")
      assert(rf.statusCode() == 200)
      assert(rf.body().contains("\"reloaded_rows\""))
      // GET on a POST-only route → 405
      assert(get(port, "/refresh").statusCode() == 405)

      val gold = FeatureStore.buildGold(spark, sf)
      val u = gold.select($"user_id").head().getLong(0)
      post(port, "/predict", s"""{"customer_id": $u, "latest": true}""")
      post(port, "/predict", s"""{"customer_id": $u, "latest": true}""")
      val dir = java.nio.file.Files.createTempDirectory("predlog").toString
      assert(ep.flushPredictionLog(spark, dir) == 2L)
      val back = spark.read.parquet(dir)
      assert(back.count() == 2L)
      assert(back.columns.contains("probability"))
      assert(ep.flushPredictionLog(spark, dir) == 0L) // drained
    }
  }

  test("JSON flat parser accepts the request surface and rejects nesting") {
    import ServingEndpoint.Json
    assert(Json.parseFlat("""{"a": 1, "b": "x", "c": true, "d": null}""")
      == Some(Map("a" -> 1.0, "b" -> "x", "c" -> true)))
    assert(Json.parseFlat("{}") == Some(Map.empty))
    assert(Json.parseFlat("""{"a": {"b": 1}}""").isEmpty)
    assert(Json.parseFlat("""{"a": [1]}""").isEmpty)
    assert(Json.parseFlat("""{"a": 1""").isEmpty)
    assert(Json.parseFlat("""{"a": 1e-3}""") == Some(Map("a" -> 0.001)))
    // nothing but whitespace may follow an empty object
    assert(Json.parseFlat("{}x}").isEmpty)
    assert(Json.parseFlat("{ }, }").isEmpty)
    assert(Json.parseFlat(" {\t} ") == Some(Map.empty))
    // no leading zero before another digit (RFC 8259 section 6)
    Seq("01", "-01", "00", "00.5", "007e1").foreach { n =>
      assert(Json.parseFlat(s"""{"a": $n}""").isEmpty, n)
    }
    assert(Json.parseFlat("""{"a": 0, "b": -0.5, "c": 0e2, "d": 10, "e": 1234567890123456789}""") ==
      Some(Map("a" -> 0.0, "b" -> -0.5, "c" -> 0.0, "d" -> 10.0, "e" -> 1.2345678901234568e18)))
    // a repeated key keeps its last non-null value
    assert(Json.parseFlat("""{"a": 1, "a": "x", "a": null}""") == Some(Map("a" -> "x")))
  }

  test("obj writes no raw control character, in values or keys, and parses back") {
    import ServingEndpoint.Json
    val detail = "line 1\r\n\tline \"2\" \\ \u0001\u001f end"
    val key = "k\tey"
    val out = ServingEndpoint.obj("detail" -> detail, key -> 1.5)
    assert(!out.exists(_ < ' '), out)
    assert(Json.parseFlat(out) == Some(Map("detail" -> detail, key -> 1.5)))
    val plain = "nothing to escape"
    assert(Json.escape(plain) eq plain)
  }

  test("parseFlat decodes every RFC 8259 string escape and rejects unknown ones") {
    import ServingEndpoint.Json
    assert(Json.parseFlat("{\"k\": \"\\u0041\"}") == Some(Map("k" -> "A")))
    assert(Json.parseFlat("{\"k\": \"\\b\\f\\/\\\"\\\\\\n\\r\\t\\u00e9\"}") ==
      Some(Map("k" -> "\b\f/\"\\\n\r\t\u00e9")))
    assert(Json.parseFlat("{\"k\": \"\\x\"}").isEmpty)
    assert(Json.parseFlat("{\"k\": \"\\u00g1\"}").isEmpty)
  }
}

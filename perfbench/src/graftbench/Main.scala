package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** What one workload run hands back: end-to-end metrics (measured with
  * tracing off), per-layer metrics (traced runs), and its output checks. */
final class Result {
  var attempted = 0L
  var failed = 0L
  val endToEnd = scala.collection.mutable.LinkedHashMap[String, (Double, String)]()
  val perLayer = scala.collection.mutable.LinkedHashMap[String, (Double, String)]()
  val failures = scala.collection.mutable.ArrayBuffer[String]()

  /** Count one checked operation; a false `ok` is a failure. */
  def check(ok: Boolean, what: => String): Boolean = {
    attempted += 1
    if (!ok) { failed += 1; failures += what; System.err.println(s"[perfbench] FAILED: $what") }
    ok
  }

  def e2e(name: String, v: Double, unit: String): Unit = endToEnd(name) = (v, unit)
  def layer(name: String, v: Double, unit: String): Unit = perLayer(name) = (v, unit)
}

final case class Ctx(spark: SparkSession, counters: SparkCounters, workload: String, seed: Long, seconds: Int,
                     trace: Boolean, sfDir: String, stage: Path, out: Path,
                     expected: Map[String, String], record: Boolean, cores: Int)

/** Entry point: `graftbench.Main --workload W --seed N --seconds S --trace 0|1
  * --sf DIR --stage DIR --out DIR --expected FILE [--record 1]`. Writes
  * `result.json` (and `trace.jsonl` when traced) under `--out`. With
  * `--verified DIR` it only prints the checksums of `graft.Verify` results
  * saved under DIR. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val trace = opts.getOrElse("trace", "0") == "1"
    val cores = opts("cores").toInt

    val t0 = System.nanoTime()
    val spark = graft.SparkEnv.session(cores = cores, appName = "perfbench")
    val sessionS = (System.nanoTime() - t0) / 1e9
    // JVM start to session ready, as seen by the JVM itself
    val jvmToSessionS =
      (System.currentTimeMillis() - java.lang.management.ManagementFactory
        .getRuntimeMXBean.getStartTime) / 1000.0
    if (opts.contains("verified")) {
      Queries.printVerified(spark, opts("verified"))
      spark.stop()
      return
    }
    val out = Paths.get(opts("out"))
    Files.createDirectories(out)
    val counters = new SparkCounters
    if (trace) {
      Trace.on = true
      Trace.sc = spark.sparkContext
      spark.sparkContext.addSparkListener(counters)
    }
    graft.store.KvSink.InMemoryKvClient.clear()

    val ctx = Ctx(spark, counters, workload, opts("seed").toLong, opts("seconds").toInt, trace,
      opts("sf"), Paths.get(opts("stage")), out, Expected.load(Paths.get(opts("expected"))),
      opts.getOrElse("record", "0") == "1", cores)
    val r = new Result
    val prepS = workload match {
      case "pipeline" => Pipeline.run(ctx, r)
      case "queries" => Queries.run(ctx, r)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    Heap.checkpoint()
    r.e2e("setup_s", jvmToSessionS + prepS, "s")
    r.layer("heap_peak_mb", Heap.peakMb, "MB")
    if (trace) {
      r.layer("session_s", sessionS, "s")
      counters.metrics.foreach { case (n, v, u) => r.layer(n, v, u) }
      Trace.selfMsByLayer.foreach { case (l, v) => r.layer(s"$l.self_ms", v, "ms") }
      r.layer("trace.spans", Trace.all.size.toDouble, "count")
      Trace.write(out.resolve("trace.jsonl"))
    }
    r.layer("fail_ratio", r.failed.toDouble / math.max(1L, r.attempted), "ratio")
    Files.write(out.resolve("result.json"), Json.result(r).getBytes(UTF_8))
    spark.stop()
  }
}

/** Expected outputs recorded from an oracle-verified run: `key<TAB>value`. */
object Expected {
  def load(p: Path): Map[String, String] =
    if (!Files.exists(p)) Map.empty
    else scala.io.Source.fromFile(p.toFile, "UTF-8").getLines()
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(k, v) = l.split("\t", 2); k -> v }.toMap
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def metrics(m: collection.Map[String, (Double, String)]): String =
    m.map { case (k, (v, u)) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }
      .mkString("{", ",", "}")

  def result(r: Result): String =
    s"""{"attempted":${r.attempted},"failed":${r.failed},""" +
      s""""end_to_end":${metrics(r.endToEnd)},"per_layer":${metrics(r.perLayer)},""" +
      s""""failures":[${r.failures.map(f => "\"" + f.replace("\"", "'") + "\"").mkString(",")}]}"""
}

/** Small statistics helpers shared by the workloads. */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
}

package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.GraftFunctions
import graft.store.{FeatureStore, KvSink}
import graft.streaming.StreamingFeatures

/** The streaming layer: time-ordered event files arrive one at a time;
  * after each arrival every sink runs one `AvailableNow` batch from its own
  * checkpoint, then the stores are read while they are being rewritten. */
object Stream {
  val ThetaK = 64
  val KvLookups = 100

  final case class Sink(name: String, start: (String, String) => StreamingQuery)

  /** Returns the set-up seconds and the seconds from the first file to all
    * sinks caught up. */
  def run(ctx: Ctx, r: Result): (Double, Double) = {
    val spark = ctx.spark
    val t0 = System.nanoTime()
    val listing = Files.list(ctx.stage.resolve("stream"))
    val ordered = try listing.iterator().asScala.toSeq.sortBy(_.getFileName.toString)
                  finally listing.close()
    val in = ctx.out.resolve("in")
    Files.createDirectories(in)
    val store = ctx.out.resolve("stores")
    val ckpt = ctx.out.resolve("checkpoints")
    def storeOf(s: String) = store.resolve(s).toString
    val sinks = Seq(
      Sink("kv", (dir, cp) => StreamingFeatures.streamOnlineMaterialize(spark, dir,
        () => new KvSink.InMemoryKvClient, checkpointDir = Some(cp))),
      Sink("bitmap", (dir, cp) => StreamingFeatures.streamSketchUpsert(spark, dir,
        storeOf("bitmap"), checkpointDir = Some(cp))),
      Sink("kll", (dir, cp) => StreamingFeatures.streamKllUpsert(spark, dir,
        storeOf("kll"), checkpointDir = Some(cp))),
      Sink("theta", (dir, cp) => StreamingFeatures.streamThetaUpsert(spark, dir,
        storeOf("theta"), k = ThetaK, checkpointDir = Some(cp))))
    KvSink.InMemoryKvClient.clear()
    val users = spark.read.parquet(ctx.stage.resolve("events.parquet").toString)
      .select("user_id").distinct().collect().map(_.getLong(0)).sorted
    val rng = new scala.util.Random(ctx.seed)
    val prepS = Stats.secs(t0)

    val batchMs = scala.collection.mutable.Map[String, Double]().withDefaultValue(0.0)
    val rowsIn = scala.collection.mutable.Map[String, Double]().withDefaultValue(0.0)
    val readMs = scala.collection.mutable.ArrayBuffer[Double]()
    var rewritten = 0.0
    val streamS = ctx.counters.section {
      val s0 = System.nanoTime()
      ordered.foreach { f =>
        Trace.newTrace()
        Files.copy(f, in.resolve(f.getFileName), StandardCopyOption.COPY_ATTRIBUTES)
        sinks.foreach { s =>
          val b0 = System.nanoTime()
          val wallMs0 = System.currentTimeMillis()
          val q = Trace.span(s"streaming.${s.name}") {
            val q = s.start(in.toString, ckpt.resolve(s.name).toString)
            q.awaitTermination()
            q
          }
          batchMs(s.name) += Stats.ms(b0)
          rowsIn(s.name) += q.recentProgress.map(_.numInputRows).sum.toDouble
          if (s.name != "kv") rewritten += newerBytes(store.resolve(s.name), wallMs0)
        }
        // reads beside the writes: weekly cardinalities, theta estimates, KV lookups
        readMs += timed(Trace.span("streaming.read") {
          spark.read.parquet(storeOf("bitmap"))
            .select(col("week"), GraftFunctions.bitmapCount(col("sk"))).collect().length
        })
        readMs += timed(Trace.span("streaming.read") {
          StreamingFeatures.thetaWeeklyEstimates(spark, storeOf("theta"), ThetaK).collect().length
        })
        val keys = Seq.fill(KvLookups)(s"fs:customer:${users(rng.nextInt(users.length))}")
        readMs += timed(Trace.span("streaming.read") {
          keys.count(key => KvSink.InMemoryKvClient.store.get(key) != null)
        })
      }
      Stats.secs(s0)
    }

    check(ctx, r, storeOf)
    val inBytes = Disk.bytes(ctx.stage.resolve("stream"))
    r.layer("stream_s", streamS, "s")
    r.layer("stream_read_p50_ms", Stats.median(readMs.toSeq), "ms")
    if (ctx.trace) {
      sinks.foreach { s =>
        r.layer(s"streaming.${s.name}.batch_ms", batchMs(s.name), "ms")
        r.layer(s"streaming.${s.name}.rows_in", rowsIn(s.name), "count")
      }
      r.layer("streaming.write_amp", rewritten / inBytes, "ratio")
      r.layer("streaming.read_ms", readMs.sum, "ms")
    }
    (prepS, streamS)
  }

  def timed(body: => Any): Double = { val t = System.nanoTime(); body; Stats.ms(t) }

  /** Bytes of data files under `dir` written at or after `sinceMs`. */
  def newerBytes(dir: Path, sinceMs: Long): Double = {
    if (!Files.exists(dir)) return 0.0
    val s = Files.walk(dir)
    try s.filter(f => Files.isRegularFile(f) && !f.getFileName.toString.endsWith(".crc") &&
        Files.getLastModifiedTime(f).toMillis >= sinceMs - 1000)
      .mapToLong(f => Files.size(f)).sum().toDouble
    finally s.close()
  }

  /** The final stores must equal a batch recomputation over all files. */
  def check(ctx: Ctx, r: Result, storeOf: String => String): Unit = {
    val spark = ctx.spark
    val events = graft.Tables.events(spark, ctx.stage.toString)
      .withColumn("week", expr("ts_us DIV 604800000000"))
    def same(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

    val bitmap = spark.read.parquet(storeOf("bitmap"))
      .select(col("week").cast("long").as("week"), GraftFunctions.bitmapCount(col("sk")).cast("long").as("n"))
    r.check(same(bitmap, events.groupBy("week").agg(countDistinct("user_id").cast("long").as("n"))),
      "bitmap store != weekly distinct users")

    val kll = spark.read.parquet(storeOf("kll"))
      .select(col("week").cast("long").as("week"), GraftFunctions.kllBlobN(col("sk")).cast("long").as("n"))
    r.check(same(kll, events.groupBy("week").agg(count(col("value")).cast("long").as("n"))),
      "KLL store weights != weekly value counts")

    val theta = spark.read.parquet(storeOf("theta"))
      .select(col("week").cast("long").as("week"), col("hv").cast("long").as("hv"))
    val thetaBatch = events
      .select(col("week"), graft.ext.Dedup.contentId(col("user_id").cast("string")).cast("long").as("hv"))
      .distinct()
      .withColumn("rn", row_number().over(Window.partitionBy("week").orderBy("hv")))
      .filter(col("rn") <= ThetaK + 1).select("week", "hv")
    r.check(same(theta, thetaBatch), "theta store != k+1 smallest hashes per week")

    val streamed = KvSink.InMemoryKvClient.snapshot
    KvSink.InMemoryKvClient.clear()
    KvSink.materializeOnline(
      FeatureStore.latestSnapshots(FeatureStore.buildGold(spark, ctx.stage.toString)),
      () => new KvSink.InMemoryKvClient)
    val batch = KvSink.InMemoryKvClient.snapshot
    KvSink.InMemoryKvClient.clear()
    r.check(streamed == batch, s"streamed KV (${streamed.size} keys) != batch KV (${batch.size} keys)")
  }
}

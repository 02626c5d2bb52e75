package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ml.ChurnModel
import graft.store.{FeatureStore, KvSink}

/** The paper's batch path, as `graft.Demo` wires it, one public call at a
  * time: gold feature view, gold write, training set, GBT fit, latest
  * snapshots, online KV materialization, scoring and the prediction log.
  * Every iteration starts from an empty Spark cache and an empty KV store
  * and writes to fresh directories. The model of the last iteration is then
  * served over HTTP ([[Serve]]). */
object Pipeline {
  val MaxIter = 3
  val MinIterations = 1
  /** Relative tolerance on AUC: its parallel sums are not bit-reproducible. */
  val AucTolerance = 1e-12

  /** Unpersist everything so the next iteration cannot hit this one's cache. */
  def dropCaches(ctx: Ctx): Unit = {
    ctx.spark.catalog.clearCache()
    ctx.spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    KvSink.InMemoryKvClient.clear()
  }

  final case class Outcome(nTrain: Long, auc: Double, f1: Double,
                           model: org.apache.spark.ml.PipelineModel)

  /** What one chain iteration leaves for its checks. */
  final case class Chain(dir: String, gold: DataFrame, ts: DataFrame, snaps: DataFrame,
                         nKv: Long, metrics: ChurnModel.Metrics,
                         model: org.apache.spark.ml.PipelineModel)

  /** The eight graft calls of one iteration, and nothing else. */
  def iteration(ctx: Ctx, dir: String): Chain = {
    val spark = ctx.spark
    val stage = ctx.stage.toString
    val gold = Trace.span("ops.feature_view") {
      val g = FeatureStore.buildGold(spark, stage).cache(); g.count(); g
    }
    Trace.span("store.gold_write") { FeatureStore.writeGold(gold, s"$dir/gold") }
    val ts = Trace.span("ops.labels") {
      val t = FeatureStore.trainingSet(spark, stage).cache(); t.count(); t
    }
    val (model, m) = Trace.span("ml.fit") {
      ChurnModel.trainEval(ts, FeatureStore.featureNames, maxIter = MaxIter)
    }
    val snaps = Trace.span("ops.snapshots") {
      val s = FeatureStore.latestSnapshots(gold).cache(); s.count(); s
    }
    val nKv = Trace.span("store.kv_materialize") {
      KvSink.materializeOnline(snaps, () => new KvSink.InMemoryKvClient)
    }
    val scored = Trace.span("ml.score") {
      val aligned = FeatureStore.alignVector(snaps, FeatureStore.featureNames)
      val s = ChurnModel.scoreWithThreshold(model,
          aligned.join(snaps.select("user_id", "ts_us", "event_id"), Seq("user_id")),
          threshold = 0.5)
        .select(col("user_id"), col("ts_us"), col("probability_1").as("probability"),
          col("prediction_at_threshold").as("prediction"))
        .cache()
      s.count(); s
    }
    Trace.span("store.pred_log") { FeatureStore.logPredictions(scored, s"$dir/preds") }
    Chain(dir, gold, ts, snaps, nKv, m, model)
  }

  /** Checks one iteration's outputs; runs after its time is taken. */
  def check(ctx: Ctx, r: Result, c: Chain): Outcome = {
    val m = c.metrics
    val nGold = c.gold.count()
    val nSnaps = c.snaps.count()
    r.check(nGold == ctx.expected("events.rows").toLong, s"gold rows $nGold")
    r.check(nSnaps == ctx.expected("events.users").toLong, s"snapshot rows $nSnaps")
    r.check(m.nTrain + m.nTest == c.ts.count(), s"train+test ${m.nTrain + m.nTest}")
    val kv = KvSink.InMemoryKvClient.snapshot
    val want = c.snaps.select("user_id", "ts_us").collect()
      .map(row => s"fs:customer:${row.getLong(0)}" -> row.getLong(1).toString).toMap
    r.check(c.nKv == nSnaps && kv.keySet == want.keySet &&
      want.forall { case (k, ts) => kv(k).get("meta:ts_us").contains(ts) },
      s"KV store != latest snapshots (${kv.size} keys)")
    val logged = ctx.spark.read.parquet(s"${c.dir}/preds").count()
    r.check(logged == nSnaps, s"pred-log rows $logged")
    Outcome(m.nTrain + m.nTest, m.auc, m.f1, c.model)
  }

  /** Returns the set-up seconds spent inside the JVM after session start. */
  def run(ctx: Ctx, r: Result): Double = {
    val t0 = System.nanoTime()
    val nEvents = ctx.spark.read.parquet(s"${ctx.stage}/events.parquet").count()
    r.check(nEvents == ctx.expected("events.rows").toLong, s"staged events $nEvents")
    val prepS = Stats.secs(t0)

    val times = scala.collection.mutable.ArrayBuffer[Double]()
    val outcomes = scala.collection.mutable.ArrayBuffer[Outcome]()
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    var i = 0
    while (i < MinIterations || System.nanoTime() < deadline) {
      dropCaches(ctx)
      r.check(ctx.spark.sparkContext.getRDDStorageInfo.isEmpty,
        "Spark cache not empty at iteration start")
      Trace.newTrace()
      val c = ctx.counters.section {
        val it0 = System.nanoTime()
        val c = iteration(ctx, ctx.out.resolve(s"iter$i").toString)
        times += Stats.secs(it0)
        c
      }
      outcomes += check(ctx, r, c)
      i += 1
    }
    if (ctx.record) {
      val o = outcomes.head
      println(s"record\tpipeline.train_rows\t${o.nTrain}")
      println(s"record\tpipeline.auc\t${o.auc}")
      println(s"record\tpipeline.f1\t${o.f1}")
    }
    outcomes.foreach { o =>
      r.check(o.nTrain.toString == ctx.expected.getOrElse("pipeline.train_rows", ""),
        s"training rows ${o.nTrain}")
      val auc = ctx.expected.get("pipeline.auc").map(_.toDouble).getOrElse(Double.NaN)
      r.check(math.abs(o.auc - auc) <= AucTolerance * auc &&
        o.f1.toString == ctx.expected.getOrElse("pipeline.f1", ""),
        s"AUC/F1 ${o.auc}/${o.f1} differ from the recorded run")
    }
    dropCaches(ctx)

    val pipelineS = Stats.median(times.toSeq)
    r.layer("pipeline_s", pipelineS, "s")
    r.layer("pipeline.iterations", times.size.toDouble, "count")
    if (ctx.trace) {
      Seq("ops.feature_view", "ops.labels", "ops.snapshots", "store.gold_write",
        "store.kv_materialize", "store.pred_log", "ml.fit", "ml.score").foreach { s =>
        r.layer(s + "_ms", Stats.median(Trace.durationsMs(s)), "ms")
      }
      val inBytes = Disk.bytes(ctx.stage.resolve("events.parquet"))
      r.layer("store.write_amp", Disk.bytes(ctx.out.resolve("iter0/gold")) / inBytes, "ratio")
    }
    val serveS = Serve.run(ctx, r, outcomes.last.model)
    val (streamPrepS, streamS) = Stream.run(ctx, r)
    r.e2e("work_s", pipelineS + streamS, "s")
    prepS + serveS + streamPrepS
  }
}

object Disk {
  /** Total bytes of the regular files under `p`, checksum sidecars excluded. */
  def bytes(p: java.nio.file.Path): Double = {
    if (!java.nio.file.Files.exists(p)) return 0.0
    val s = java.nio.file.Files.walk(p)
    try s.filter(f => java.nio.file.Files.isRegularFile(f) &&
        !f.getFileName.toString.endsWith(".crc"))
      .mapToLong(f => java.nio.file.Files.size(f)).sum().toDouble
    finally s.close()
  }
}

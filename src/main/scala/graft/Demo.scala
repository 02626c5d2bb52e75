package graft

import org.apache.spark.sql.functions._
import graft.ml.ChurnModel
import graft.store.{FeatureStore, KvSink}

/** End-to-end pipeline demo (SURVEY.md §3's EP1→EP2→EP3 chain, Spark-native):
  * bronze events → gold feature view → partitioned gold write → training set
  * → GBT train/eval → latest snapshots → KV materialization → threshold
  * scoring → prediction log. Prints one status line per stage.
  *
  * Usage: runMain graft.Demo [sfDir] [outDir]
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = args.lift(1).getOrElse(
      java.nio.file.Files.createTempDirectory("graft_demo").toString)
    val spark = SparkEnv.session(cores = 8, appName = "graft-demo")

    val gold = FeatureStore.buildGold(spark, sfDir).cache()
    println(s"[demo] gold feature view: ${gold.count()} rows, ${gold.columns.length} cols")

    FeatureStore.writeGold(gold, s"$outDir/gold")
    println(s"[demo] gold written partitioned to $outDir/gold")

    val ts = FeatureStore.trainingSet(spark, sfDir).cache()
    val nChurn = ts.filter(col("churn") === 1).count()
    println(s"[demo] training set: ${ts.count()} rows, $nChurn churn-positive")

    val (model, metrics) = ChurnModel.trainEval(ts, FeatureStore.featureNames, maxIter = 5)
    println(f"[demo] GBT: AUC=${metrics.auc}%.4f F1=${metrics.f1}%.4f " +
      s"train=${metrics.nTrain} test=${metrics.nTest}")

    val snaps = FeatureStore.latestSnapshots(gold).cache()
    KvSink.InMemoryKvClient.clear()
    val nKv = KvSink.materializeOnline(snaps, () => new KvSink.InMemoryKvClient)
    val sample = KvSink.InMemoryKvClient.snapshot.head
    println(s"[demo] online KV: $nKv hashes; sample ${sample._1} -> " +
      sample._2.view.filterKeys(Set("spend_7d", "meta:ts_us")).toMap)

    val aligned = FeatureStore.alignVector(snaps, FeatureStore.featureNames)
    val scored = ChurnModel.scoreWithThreshold(model,
      aligned.join(snaps.select("user_id", "ts_us", "event_id"), Seq("user_id")),
      threshold = 0.5)
      .select(col("user_id"), col("ts_us"), col("probability_1").as("probability"),
        col("prediction_at_threshold").as("prediction"))
    FeatureStore.logPredictions(scored, s"$outDir/preds")
    val logged = Tables.parquet(spark, s"$outDir/preds")
    println(s"[demo] prediction log: ${logged.count()} rows at $outDir/preds")

    val snap7 = FeatureStore.snapshot(gold, 7L, Long.MaxValue)
    println(s"[demo] point lookup user 7: spend_30d=" +
      snap7.map(_("spend_30d")).getOrElse("<none>"))

    // streaming incremental materialization over a staged bronze-append dir,
    // then prove it converged to the batch store
    val streamDir = java.nio.file.Files.createTempDirectory("demo_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      streamDir.resolve("part-000.parquet"))
    val batchStore = KvSink.InMemoryKvClient.snapshot
    KvSink.InMemoryKvClient.clear()
    val sq = graft.streaming.StreamingFeatures.streamOnlineMaterialize(
      spark, streamDir.toString, () => new KvSink.InMemoryKvClient)
    sq.processAllAvailable(); sq.stop()
    val streamStore = KvSink.InMemoryKvClient.snapshot
    val converged = streamStore.keySet == batchStore.keySet &&
      streamStore.forall { case (k, v) => batchStore(k) == v }
    println(s"[demo] streaming online store: ${streamStore.size} hashes, " +
      s"converged-to-batch=$converged")

    println("[demo] OK")
    spark.stop()
  }
}

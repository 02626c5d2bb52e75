package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StructType}
import graft.Tables

/** M5 — Structured Streaming incremental materialization (SURVEY.md §2.8).
  *
  * The reference approximates online freshness by manually re-running a batch
  * job (reference: jobs/materialize_online.py) and re-reading parquet
  * (serving/app.py:93-96). The Spark-native upgrade is a streaming pipeline:
  * file source over bronze appends → event-time watermark → windowed
  * aggregation → `foreachBatch` upsert into the online store.
  *
  * Semantics by construction match the batch tumbling aggregation
  * (`tumblingAgg`): re-aggregation per micro-batch over watermarked state —
  * chosen over flatMapGroupsWithState per SURVEY §7.10 (simpler, and
  * batch/stream parity is testable, see StreamingSpec).
  *
  * Every stream reads its events through [[eventStream]]; every sink runs
  * through [[foreachBatchSink]], and every weekly sketch sink merges through
  * [[mergeWeeks]].
  */
object StreamingFeatures {

  /** `ts` → epoch-micros BIGINT for either events-fixture vintage, keyed
    * off the batch-loaded schema (same branch as [[graft.Tables.events]]):
    * legacy TIMESTAMP(NANOS) loads as a raw nanos LongType (`DIV 1000`);
    * current timestamp[us] loads as TIMESTAMP/TIMESTAMP_NTZ
    * (`unix_micros`, identity under the UTC session). */
  private def tsUsExpr(schema: StructType): org.apache.spark.sql.Column =
    schema("ts").dataType match {
      case LongType => expr("ts DIV 1000L")
      case _ => unix_micros(col("ts").cast("timestamp"))
    }

  /** The events file source over `eventsDir` (a DIRECTORY of events-schema
    * parquet files — FileStreamSource rejects bare files), with the schema
    * the batch loader resolves for it. `maxFilesPerTrigger` > 0 splits a
    * backlog into several micro-batches (the replay path). */
  private def eventStream(spark: SparkSession, eventsDir: String,
                          maxFilesPerTrigger: Int = 0): (StructType, DataFrame) = {
    val schema = Tables.parquet(spark, eventsDir).schema
    val reader = spark.readStream.schema(schema)
    (schema, (if (maxFilesPerTrigger > 0)
      reader.option("maxFilesPerTrigger", maxFilesPerTrigger) else reader)
      .parquet(eventsDir))
  }

  /** `ts_us` plus the watermarkable event-time column `ts_t`. */
  private def withEventTime(ev: DataFrame, schema: StructType): DataFrame =
    ev.withColumn("ts_us", tsUsExpr(schema))
      .withColumn("ts_t", timestamp_micros(col("ts_us")))

  /** Drain everything available in `raw` through `apply(batch, batchId)`,
    * one call per micro-batch. With `checkpointDir` the file-source offsets
    * survive a restart, which then resumes at the first unprocessed file;
    * without it every run reprocesses the whole backlog. foreachBatch is
    * at-least-once either way: a crash between `apply` and the offset
    * commit replays that batchId. */
  private def foreachBatchSink(raw: DataFrame, checkpointDir: Option[String])(
      apply: (DataFrame, Long) => Unit): StreamingQuery = {
    val writer = raw.writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
    checkpointDir.foreach(writer.option("checkpointLocation", _))
    writer.foreachBatch((batch: Dataset[Row], batchId: Long) => apply(batch, batchId))
      .start()
  }

  /** A micro-batch with `ts_us` and its event `week` (epoch-micros DIV one
    * week), the partition key of every weekly sketch store. */
  private def withWeek(batch: DataFrame, schema: StructType): DataFrame =
    batch.withColumn("ts_us", tsUsExpr(schema))
      .withColumn("week", expr("ts_us DIV 604800000000"))

  /** The merge every weekly sketch store runs per micro-batch. `part` holds
    * the batch's own partial sketches keyed by `week`; `combine(fresh,
    * stored)` folds them into the stored rows of the same weeks, both with
    * `part`'s columns, and returns the merged rows of those weeks.
    *
    *  - Touched weeks only: the store is read for the weeks `part` touches
    *    (a broadcast semi-join), and a dynamic partition overwrite rewrites
    *    just those week directories. Fact rows are read once ever, so the
    *    work per batch is O(batch), and later rollups merge stored sketches
    *    without raw data.
    *  - `part` is materialized once: it feeds both the semi-join and the
    *    merge, and un-materialized each consumer re-plans the batch's
    *    aggregation and scans its source files again.
    *  - Replay guard, for algebras that are not idempotent (`batchId`
    *    given): foreachBatch is at-least-once, and a replayed KLL blob or
    *    counter array would count twice. Every stored row carries the
    *    `batch_id` that last wrote its week; a week whose stored batch_id is
    *    >= the incoming batchId is a replay, and every row of it, fresh and
    *    stored, is left out, so the week is not even rewritten. Weeks are
    *    guarded independently, so a crash that wrote some weeks of a batch
    *    re-applies exactly the unwritten ones. The guard assumes batchIds
    *    are monotone per store, which holds for one checkpoint lineage.
    *    Replay-absorbing algebras (OR, max, min, set union under an order
    *    statistic) pass `None` and store no batch_id.
    *  - Lineage breaks before the overwrite: the merged rows are computed
    *    from the very partitions the overwrite deletes, so they are
    *    materialized before the write starts. */
  private def mergeWeeks(spark: SparkSession, part: DataFrame, storePath: String,
                         batchId: Option[Long])(
      combine: (DataFrame, DataFrame) => DataFrame): Unit = {
    val fresh = part.localCheckpoint()
    val hPath = new Path(storePath)
    val merged =
      if (!hPath.getFileSystem(spark.sessionState.newHadoopConf()).exists(hPath)) fresh
      else {
        val frame = fresh.columns.map(col).toSeq
        val touched = Tables.parquet(spark, storePath)
          .join(broadcast(fresh.select(col("week"))), Seq("week"), "left_semi")
        batchId match {
          case None => combine(fresh, touched.select(frame: _*))
          case Some(id) =>
            // two consumers of a few rows: materialize once
            val stored = touched.localCheckpoint()
            val replayed = broadcast(stored.filter(col("batch_id") >= id).select(col("week")))
            combine(fresh.join(replayed, Seq("week"), "left_anti"),
              stored.join(replayed, Seq("week"), "left_anti").select(frame: _*))
        }
      }
    val out = batchId.fold(merged)(id => merged.withColumn("batch_id", lit(id)))
      .localCheckpoint()
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    out.write.mode(SaveMode.Overwrite).partitionBy("week").parquet(storePath)
    spark.catalog.refreshByPath(storePath)
  }

  /** Batch twin: per (event_type, hour bucket) counts and value sums.
    * Integer hour bucket (`ts_us DIV 3600000000`) rather than a window
    * struct, so the result is directly comparable engine-to-engine. */
  def tumblingAgg(events: DataFrame): DataFrame =
    events
      .withColumn("hour_bucket", expr("ts_us DIV 3600000000"))
      .withColumn("vc", round(coalesce(col("value"), lit(0.0)) * 100).cast("long"))
      .groupBy(col("event_type"), col("hour_bucket"))
      .agg(count(lit(1)).as("n_events"),
        (sum(col("vc")) / lit(100.0)).as("value_sum"))

  /** Batch twin: SLIDING event-time windows (1 h length, 15 min slide) via
    * the window() API — each event contributes to 4 overlapping windows.
    * Output key is the integer window start in epoch micros
    * (unix_micros(window.start)) so the result is engine-comparable. */
  def slidingAgg(events: DataFrame): DataFrame =
    events
      .withColumn("vc", round(coalesce(col("value"), lit(0.0)) * 100).cast("long"))
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        (sum(col("vc")) / lit(100.0)).as("value_sum"))
      .select(expr("unix_micros(window.start)").as("window_start_us"),
        col("event_type"), col("n_events"), col("value_sum"))

  /** Streaming variant of `slidingAgg`: watermark + overlapping windows —
    * state is one row per (window, type), dropped once the watermark passes
    * window end. */
  def streamSlidingAgg(spark: SparkSession, eventsDir: String): DataFrame = {
    val (schema, raw) = eventStream(spark, eventsDir)
    val ev = withEventTime(raw, schema)
      .withWatermark("ts_t", "1 hour")
      .withColumn("vc", round(coalesce(col("value"), lit(0.0)) * 100).cast("long"))
    ev.groupBy(window(col("ts_t"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        (sum(col("vc")) / lit(100.0)).as("value_sum"))
      .select(expr("unix_micros(window.start)").as("window_start_us"),
        col("event_type"), col("n_events"), col("value_sum"))
  }

  /** Clicks in the hour strictly before each purchase, as a stream-stream
    * join of type `joinType`. Both sides are watermarked; the time-bound
    * predicate (`c_ts` in [p_ts − 1h, p_ts)) lets Spark expire click state
    * once the watermark passes the bound. Each side is its own file
    * source. */
  private def clicksBeforePurchase(spark: SparkSession, eventsDir: String,
                                   joinType: String): DataFrame = {
    def src = {
      val (schema, raw) = eventStream(spark, eventsDir)
      withEventTime(raw, schema)
    }
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts_us"),
        col("ts_t").as("p_t"))
      .withWatermark("p_t", "1 hour")
    val clicks = src.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts_us").as("c_ts"),
        col("ts_t").as("c_t"))
      .withWatermark("c_t", "2 hours")
    purchases.join(clicks,
      col("user_id") === col("c_user") &&
        col("c_t") >= col("p_t") - expr("INTERVAL 1 HOUR") &&
        col("c_t") < col("p_t"),
      joinType)
      .select(col("user_id"), col("event_id"), col("ts_us"), col("c_ts"))
  }

  /** Stream-stream INTERVAL JOIN: clicks in the hour strictly before each
    * purchase (the streaming twin of the batch range join) — the canonical
    * bounded-state stream join. Inner (not left) because an outer
    * stream-stream join emits null rows only on watermark advance; the
    * zero-click case is covered by the batch twin's left join. */
  def streamStreamClicksBeforePurchase(spark: SparkSession,
                                       eventsDir: String): DataFrame =
    clicksBeforePurchase(spark, eventsDir, "inner")

  /** LEFT-OUTER stream-stream join: every purchase, with its preceding-hour
    * clicks when they exist, or ONE null-extended row when none arrived.
    * The outer side is the hard streaming semantics: a purchase can only be
    * declared click-less once the CLICKS watermark has passed the end of
    * its match window (c_t < p_t), so null rows emit late, watermark-driven
    * — and purchases within the watermark delay of end-of-stream stay in
    * state, never emitted (the spec pins exactly this boundary). State per
    * side is bounded by the watermark + interval, same as the inner join.
    */
  def streamStreamLeftOuterClicks(spark: SparkSession,
                                  eventsDir: String): DataFrame =
    clicksBeforePurchase(spark, eventsDir, "left_outer")

  /** Streaming exact dedup: dropDuplicates on event_id within the watermark
    * horizon — the streaming twin of batch `distinct()`; state is one key
    * per id, expired by the watermark. */
  def streamDedup(spark: SparkSession, eventsDir: String): DataFrame = {
    val (schema, raw) = eventStream(spark, eventsDir)
    withEventTime(raw, schema)
      .withWatermark("ts_t", "1 hour")
      .dropDuplicates("event_id")
      .select(col("event_id"), col("user_id"), col("event_type"))
  }

  /** Bounded-state streaming dedup: `dropDuplicatesWithinWatermark` keys
    * state by event_id but expires it once the watermark passes the first
    * occurrence + delay — the production dedup for at-least-once sources,
    * where duplicates arrive close together and exact-forever state
    * (streamDedup above) would grow without bound. */
  def streamDedupWithinWatermark(spark: SparkSession, eventsDir: String,
                                 maxFilesPerTrigger: Int = 0): DataFrame = {
    val (schema, raw) = eventStream(spark, eventsDir, maxFilesPerTrigger)
    withEventTime(raw, schema)
      .withWatermark("ts_t", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .select(col("event_id"), col("user_id"), col("event_type"))
  }

  /** Streaming variant of `tumblingAgg` from a file source (`eventsDir` is a
    * bronze append directory, see [[eventStream]]); `complete` output into a
    * memory sink for tests, foreachBatch-upsert in production. */
  def streamTumblingAgg(spark: SparkSession, eventsDir: String,
                        maxFilesPerTrigger: Int = 0): DataFrame = {
    val (schema, raw) = eventStream(spark, eventsDir, maxFilesPerTrigger)
    tumblingAgg(withEventTime(raw, schema).withWatermark("ts_t", "1 hour"))
  }

  /** Run the streaming agg to completion against a static events directory
    * (test support): memory sink, complete mode, synchronous drain. */
  def runToMemorySink(spark: SparkSession, eventsDir: String,
                      queryName: String,
                      maxFilesPerTrigger: Int = 0): StreamingQuery = {
    val q = streamTumblingAgg(spark, eventsDir, maxFilesPerTrigger).writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    q
  }

  /** Incremental ONLINE materialization — the Spark-native upgrade of the
    * reference's manual batch re-run (jobs/materialize_online.py; SURVEY
    * §2.8): stream bronze appends, and per micro-batch upsert each user's
    * latest full feature snapshot into the KV store, conditional on
    * event-time freshness (`hsetIfNewer`) so replays/out-of-order batches
    * can't regress the store.
    *
    * Per batch the feature view is recomputed over the batch's users only —
    * correct because the rolling windows need history, so foreachBatch joins
    * the micro-batch's user set against the (growing) bronze directory; at
    * 100 TB the join is against the bounded 30-day lookback partition range
    * instead (same code path, partition-pruned read).
    *
    * RESTART RECOVERY: pass `checkpointDir` in production. The file-source
    * offsets live in the checkpoint, so a restarted query resumes at the
    * first unprocessed file — already-materialized files are never re-read,
    * and if a crash lands BETWEEN the KV upsert and the offset commit, the
    * replayed batch is absorbed by `hsetIfNewer` (the sink is idempotent
    * under event-time freshness, which is exactly the at-least-once
    * contract foreachBatch provides). Without a checkpoint every restart
    * reprocesses the full backlog — correct (idempotent sink) but a full
    * rescan; StreamingSpec pins both behaviors.
    */
  def streamOnlineMaterialize(spark: SparkSession, eventsDir: String,
                              newClient: () => graft.store.KvSink.KvClient,
                              keyPrefix: String = "fs:customer:",
                              checkpointDir: Option[String] = None,
                              maxFilesPerTrigger: Int = 0): StreamingQuery = {
    val (schema, raw) = eventStream(spark, eventsDir, maxFilesPerTrigger)
    foreachBatchSink(raw, checkpointDir) { (batch, _) =>
      val touched = batch.select(col("user_id")).distinct()
      // full history for the touched users (bounded-lookback read at scale)
      val history = Tables.parquet(spark, eventsDir)
        .withColumn("ts_us", tsUsExpr(schema))
        .join(broadcast(touched), Seq("user_id"))
      val snaps = graft.store.FeatureStore.latestSnapshots(
        graft.ops.Features.featureView(history))
      val featureCols = graft.store.FeatureStore.featureNames
        .filterNot(_ == "user_id").filter(snaps.columns.contains)
      val keyed = snaps.withColumn("__key",
        concat(lit(keyPrefix), col("user_id").cast("string")))
      keyed.foreachPartition { (it: Iterator[Row]) =>
        val client = newClient()
        try it.foreach { row =>
          val fields = graft.store.KvSink.rowToFields(row, featureCols, Seq("ts_us"))
          // freshness-guarded for EVERY client implementation — the
          // replay/out-of-order guarantee must not depend on which
          // KvClient is plugged in
          client.hsetIfNewer(row.getAs[String]("__key"), fields)
        } finally client.close()
      }
    }
  }

  /** INCREMENTAL MERGEABLE-SKETCH MATERIALIZATION: maintain a parquet store
    * (week, sk) of per-week exact distinct-user bitmap sketches across
    * micro-batches — each batch builds partial sketches for ITS rows only
    * and ORs them into the touched weeks ([[mergeWeeks]]). The streaming
    * face of the store-sketches-per-cell pattern (q140/q166): counts stay
    * exact under any batch split because bitmap union is associative and
    * idempotent, and any later rollup ORs stored binaries without touching
    * raw data.
    *
    * Contrast with streamOnlineMaterialize, which re-reads the touched
    * users' history per batch: a mergeable state needs no history re-read
    * at all — O(batch) work per batch, the incremental ideal.
    *
    * RESTART RECOVERY: pass `checkpointDir` in production — a restarted
    * query resumes at the first unprocessed file. A LOST checkpoint is also
    * safe (unlike the KV materialization, which needs offsets for its
    * exactly-once story): reprocessing any suffix of the backlog only ORs
    * already-absorbed user ids back into the stored bitmaps — the store
    * converges to the same sketches. StreamingSpec exercises both paths
    * across real restarts.
    */
  def streamSketchUpsert(spark: SparkSession, eventsDir: String,
                         storePath: String,
                         maxFilesPerTrigger: Int = 0,
                         checkpointDir: Option[String] = None): StreamingQuery = {
    import graft.functions.GraftFunctions.{bitmapMerge, bitmapSketch}
    val (schema, raw) = eventStream(spark, eventsDir, maxFilesPerTrigger)
    foreachBatchSink(raw, checkpointDir) { (batch, _) =>
      val part = withWeek(batch, schema)
        .groupBy(col("week"))
        .agg(bitmapSketch(col("user_id")).as("sk"))
      mergeWeeks(spark, part, storePath, None) { (fresh, stored) =>
        stored.unionByName(fresh)
          .groupBy(col("week")).agg(bitmapMerge(col("sk")).as("sk"))
      }
    }
  }

  /** INCREMENTAL KLL MATERIALIZATION: maintain a parquet store of per-week
    * KLL quantile sketches of the event `value` column across micro-batches
    * — the order-statistics sibling of [[streamSketchUpsert]], completing
    * the streaming face of the sketch algebra (bitmap = distincts, KLL =
    * quantiles). Per batch: partial `kll_sketch` per touched week, blob-
    * level `kll_merge` with the stored cells. Any later rollup merges
    * stored blobs ([[graft.functions.KllMergeAgg]]) without raw data.
    *
    * DELIVERY CONTRACT — the honest contrast with the bitmap path: KLL
    * merge is NOT idempotent (items carry weight; a replayed blob doubles
    * n), so the store carries the per-week `batch_id` high-water mark of
    * [[mergeWeeks]] to make the SINK idempotent where the source cannot be.
    * ALWAYS pass `checkpointDir` in production. REMAINING WINDOW, stated
    * honestly: after a checkpoint LOSS batchIds restart at 0, so a replayed
    * backlog is REFUSED (stored high-water marks dominate) rather than
    * double-counted — the store stays exact for the old data, but genuinely
    * NEW files that land in those low-numbered batches are dropped for
    * already-stored weeks. Recovery from checkpoint loss is therefore:
    * delete the store WITH the checkpoint and rebuild both. StreamingSpec
    * pins both the same-batchId replay no-op and the refused-replay-after-
    * loss behavior. (The bitmap store needs none of this: OR absorbs
    * replays.)
    */
  def streamKllUpsert(spark: SparkSession, eventsDir: String,
                      storePath: String,
                      maxFilesPerTrigger: Int = 0,
                      checkpointDir: Option[String] = None): StreamingQuery = {
    val (schema, raw) = eventStream(spark, eventsDir, maxFilesPerTrigger)
    foreachBatchSink(raw, checkpointDir)(kllApplyBatch(spark, _, schema, storePath, _))
  }

  /** One micro-batch of [[streamKllUpsert]], extracted so the idempotence
    * contract is unit-testable without staging a crash: applying the same
    * (batch, batchId) twice must be a no-op the second time. Store rows are
    * (week, sk, batch_id). */
  private[graft] def kllApplyBatch(spark: SparkSession, batch: DataFrame,
      schema: StructType, storePath: String, batchId: Long): Unit = {
    import graft.functions.GraftFunctions.{kllMerge, kllSketch}
    val part = withWeek(batch, schema)
      .groupBy(col("week"))
      .agg(kllSketch(col("value").cast("double")).as("sk"))
    mergeWeeks(spark, part, storePath, Some(batchId)) { (fresh, stored) =>
      stored.unionByName(fresh)
        .groupBy(col("week")).agg(kllMerge(col("sk")).as("sk"))
    }
  }

  /** INCREMENTAL CMS MATERIALIZATION: maintain a parquet store of per-week
    * Count-Min sketches of the event user_id column across micro-batches —
    * the FREQUENCY member of the streaming sketch face (bitmap = distincts,
    * KLL = quantiles, CMS = per-key counts). Per batch: partial
    * `cms_sketch` per touched week, elementwise-ADD merge with the stored
    * counter arrays (`zip_with` — codegen, no custom merge aggregate
    * needed for the two-sided cell merge). Counter addition is NOT
    * idempotent (same failure algebra as KLL weights), so the store carries
    * the SAME per-week `batch_id` high-water mark as [[streamKllUpsert]] —
    * replays are refused week-by-week, and recovery from checkpoint loss is
    * delete-store-and-rebuild. */
  def streamCmsUpsert(spark: SparkSession, eventsDir: String,
                      storePath: String,
                      maxFilesPerTrigger: Int = 0,
                      checkpointDir: Option[String] = None): StreamingQuery = {
    val (schema, raw) = eventStream(spark, eventsDir, maxFilesPerTrigger)
    foreachBatchSink(raw, checkpointDir)(cmsApplyBatch(spark, _, schema, storePath, _))
  }

  /** One micro-batch of [[streamCmsUpsert]] — the [[kllApplyBatch]] shape
    * with a join+zip_with cell merge instead of a merge aggregate. */
  private[graft] def cmsApplyBatch(spark: SparkSession, batch: DataFrame,
      schema: StructType, storePath: String, batchId: Long): Unit = {
    import graft.functions.GraftFunctions.cmsSketch
    val part = withWeek(batch, schema)
      .groupBy(col("week"))
      .agg(cmsSketch(col("user_id").cast("string")).as("sk"))
    mergeWeeks(spark, part, storePath, Some(batchId)) { (fresh, stored) =>
      fresh.join(stored.withColumnRenamed("sk", "sk_store"), Seq("week"), "left")
        .select(col("week"),
          when(col("sk_store").isNull, col("sk"))
            .otherwise(zip_with(col("sk_store"), col("sk"), (a, b) => a + b))
            .as("sk"))
    }
  }

  /** INCREMENTAL HLL MATERIALIZATION: maintain a parquet store of per-week
    * HyperLogLog register tables (week, j, m_j) of distinct user_ids — the
    * approximate-distinct member of the streaming sketch face, stored in
    * the q423 RELATIONAL register form (no blob): the register value is a
    * MAX, so the per-batch merge is `groupBy(week, j).max(m_j)` and the
    * store is REPLAY-ABSORBING by algebra — max is idempotent, exactly
    * like the bitmap OR and UNLIKE the KLL/CMS sinks, so no batch_id
    * guard is needed and a lost checkpoint merely re-maxes the backlog
    * into an unchanged store. Estimates read the registers with the q423
    * harmonic-sum arithmetic; weekly registers roll up to months by max
    * alone (q424). */
  def streamHllUpsert(spark: SparkSession, eventsDir: String,
                      storePath: String,
                      maxFilesPerTrigger: Int = 0,
                      checkpointDir: Option[String] = None): StreamingQuery = {
    val (schema, raw) = eventStream(spark, eventsDir, maxFilesPerTrigger)
    foreachBatchSink(raw, checkpointDir) { (batch, _) =>
      val h = graft.ext.Dedup.contentId(col("user_id").cast("string"))
      val part = withWeek(batch, schema)
        .select(col("week"),
          (h % 256L).as("j"),
          (h.cast("long") / lit(256L)).cast("long").as("w"))
        .select(col("week"), col("j"),
          when(col("w") === 0L, lit(41L))
            .otherwise(lit(41L) - length(bin(col("w"))).cast("long"))
            .as("m_j"))
        .groupBy(col("week"), col("j")).agg(max(col("m_j")).as("m_j"))
      mergeWeeks(spark, part, storePath, None) { (fresh, stored) =>
        stored.unionByName(fresh)
          .groupBy(col("week"), col("j")).agg(max(col("m_j")).as("m_j"))
      }
    }
  }

  /** INCREMENTAL THETA/KMV MATERIALIZATION: maintain a parquet store of
    * per-week theta-sketch samples (week, hv) — the k+1 smallest DISTINCT
    * 48-bit user-id hashes per week, the q427 relational sketch form (no
    * blob; the sample IS the sketch, θ = its max when full). The
    * per-batch merge is set-union + order statistic: (store rows for
    * touched weeks ∪ the batch's own k+1-smallest sample) → distinct →
    * k+1 smallest per week. Taking only the batch's k+1 smallest loses
    * nothing: any member of the global k+1 smallest of (prev ∪ batch)
    * is within the k+1 smallest of its source set. REPLAY-ABSORBING by
    * algebra like the bitmap OR and the HLL max (set union is idempotent,
    * order statistics are functions of the SET) — no batch_id guard; a
    * lost checkpoint re-unions the backlog into a bit-identical store.
    * Weekly samples merge to any coarser grain the same way (the q424
    * rollup story), and estimates read the store with the q427 integer
    * arithmetic. */
  def streamThetaUpsert(spark: SparkSession, eventsDir: String,
                        storePath: String, k: Int = 64,
                        maxFilesPerTrigger: Int = 0,
                        checkpointDir: Option[String] = None): StreamingQuery = {
    val (schema, raw) = eventStream(spark, eventsDir, maxFilesPerTrigger)
    def kSmallest(df: DataFrame): DataFrame =
      df.withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("week")).orderBy(col("hv").asc)))
        .filter(col("rn") <= k + 1)
        .select(col("week"), col("hv"))
    foreachBatchSink(raw, checkpointDir) { (batch, _) =>
      val h = graft.ext.Dedup.contentId(col("user_id").cast("string"))
      val part = kSmallest(withWeek(batch, schema)
        .select(col("week"), h.cast("long").as("hv"))
        .distinct())
      mergeWeeks(spark, part, storePath, None) { (fresh, stored) =>
        kSmallest(stored.unionByName(fresh).distinct())
      }
    }
  }

  /** INCREMENTAL PRIORITY-SAMPLE MATERIALIZATION (Duffield–Lund–Thorup
    * 2007, the q442 operator's streaming twin): maintain a parquet store
    * of per-week weighted samples (week, event_id, w, pq) — the k+1
    * HIGHEST-priority rows per week, priority pq = w·2e6 DIV ug on the
    * deterministic odd-grid hash uniform (ug = 2·(md5(event_id) mod 1e6)
    * + 1, so pq sits on the same cent scale as w). The per-batch merge is
    * set-union + order statistic — top-(k+1) of (prev ∪ batch's own
    * top-(k+1)) by (pq desc, event_id asc): any member of the union's
    * top-(k+1) is within the top-(k+1) of its source set, so trimming the
    * batch first loses nothing. REPLAY-ABSORBING by algebra (the theta/
    * bitmap/HLL-max class — the sample is a pure function of the row SET,
    * rows are keyed by event_id so a replay dedups in the DISTINCT): no
    * batch_id guard; a lost checkpoint re-unions the backlog into a
    * bit-identical store. ONE stored sample answers ANY later subset-sum
    * query over the week ([[priorityWeeklyEstimates]] reads the total). */
  def streamPriorityUpsert(spark: SparkSession, eventsDir: String,
                           storePath: String, k: Int = 32,
                           maxFilesPerTrigger: Int = 0,
                           checkpointDir: Option[String] = None): StreamingQuery = {
    val (schema, raw) = eventStream(spark, eventsDir, maxFilesPerTrigger)
    def topK(df: DataFrame): DataFrame =
      df.withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("week"))
            .orderBy(col("pq").desc, col("event_id").asc)))
        .filter(col("rn") <= k + 1)
        .select(col("week"), col("event_id"), col("w"), col("pq"))
    foreachBatchSink(raw, checkpointDir) { (batch, _) =>
      val part = topK(withWeek(batch, schema)
        .select(col("week"),
          col("event_id"),
          expr("CAST(round(coalesce(value, 0.0) * 100) AS BIGINT)")
            .as("w"))
        .withColumn("ug",
          (graft.ext.Dedup.contentId(col("event_id").cast("string"))
            % 1000000L) * 2L + 1L)
        .withColumn("pq", expr(
          "CAST(CAST(w AS DECIMAL(38,0)) * 2000000 DIV ug AS BIGINT)"))
        .distinct())
      mergeWeeks(spark, part, storePath, None) { (fresh, stored) =>
        topK(stored.unionByName(fresh).distinct())
      }
    }
  }

  /** Weekly subset-sum estimates from a [[streamPriorityUpsert]] store,
    * with the q442 integer arithmetic: τ = the (k+1)-th priority (0 when
    * the sample holds the whole week), ŵ = max(w, τ) over the k kept
    * rows, est = Σ ŵ. Returns (week, n_kept, tau, est_cents). */
  def priorityWeeklyEstimates(spark: SparkSession, storePath: String,
                              k: Int = 32): org.apache.spark.sql.DataFrame = {
    val st = Tables.parquet(spark, storePath)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("week"))
          .orderBy(col("pq").desc, col("event_id").asc)))
    st.groupBy(col("week").as("tw"))
      .agg(coalesce(max(when(col("rn") === k + 1, col("pq"))), lit(0L))
        .as("tau"))
      .join(st.filter(col("rn") <= k),
        col("tw") === col("week"))
      .groupBy(col("week"), col("tau"))
      .agg(count(lit(1)).as("n_kept"),
        sum(greatest(col("w"), col("tau"))).as("est_cents"))
      // week is a partition column on disk and reads back as INT — pin
      // the contract to BIGINT regardless of directory-name inference
      .selectExpr("CAST(week AS BIGINT) AS week", "n_kept", "tau",
        "est_cents")
  }

  /** Weekly distinct-count estimates from a [[streamThetaUpsert]] store,
    * with the q427 integer arithmetic: θ = (k+1)-th smallest (2^48 when
    * the sample is the whole set), est = |{hv < θ}| · 2^48 · 1000 / θ
    * milli. Returns (week, n_ret, theta, est_milli). */
  def thetaWeeklyEstimates(spark: SparkSession, storePath: String,
                           k: Int = 64): org.apache.spark.sql.DataFrame = {
    val hSpace = 281474976710656L // 2^48 — contentId is 48-bit
    Tables.parquet(spark, storePath)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("week")).orderBy(col("hv").asc)))
      .groupBy(col("week"))
      .agg(coalesce(max(when(col("rn") === k + 1, col("hv"))),
        lit(hSpace)).as("theta"))
      .join(Tables.parquet(spark, storePath), Seq("week"))
      .filter(col("hv") < col("theta"))
      .groupBy(col("week"), col("theta"))
      .agg(count(lit(1)).as("n_ret"))
      // week is a partition column on disk and reads back as INT — pin
      // the contract to BIGINT regardless of directory-name inference
      .selectExpr("CAST(week AS BIGINT) AS week", "n_ret", "theta",
        s"CAST(CAST(n_ret AS DECIMAL(38,0)) * $hSpace * 1000 DIV theta " +
          "AS BIGINT) AS est_milli")
  }

  /** INCREMENTAL MINHASH MATERIALIZATION: maintain a parquet store of
    * per-week MinHash signatures (week, j, minh) of the distinct user-id
    * universe — the set-similarity member of the streaming sketch face,
    * stored in the q439 relational long form (no blob): slot j holds
    * min over users of (A_j·h + B_j) mod P with the Dedup permutation
    * constants, so the per-batch merge is `groupBy(week, j).min(minh)`
    * and the store is REPLAY-ABSORBING by algebra — min is an idempotent
    * commutative monoid, the bitmap-OR/HLL-max/theta class, NOT the
    * KLL/CMS class — so no batch_id guard is needed and a lost
    * checkpoint merely re-mins the backlog into a bit-identical store.
    * Weekly signatures roll up to any coarser grain by min alone and
    * adjacent-grain Jaccard estimates read the store with the q439
    * slot-agreement arithmetic ([[minhashWeeklyJaccard]]). */
  def streamMinhashUpsert(spark: SparkSession, eventsDir: String,
                          storePath: String,
                          maxFilesPerTrigger: Int = 0,
                          checkpointDir: Option[String] = None): StreamingQuery = {
    import graft.ext.Dedup
    val (schema, raw) = eventStream(spark, eventsDir, maxFilesPerTrigger)
    foreachBatchSink(raw, checkpointDir) { (batch, _) =>
      val h = Dedup.contentId(col("user_id").cast("string"))
      val part = withWeek(batch, schema)
        .select(col("week"), h.cast("long").as("hv"))
        .select(col("week"), posexplode(array((0 until Dedup.NumHashes)
          .map(j => (lit(Dedup.hashA(j)) * col("hv") +
            lit(Dedup.hashB(j))) % lit(Dedup.P)): _*)))
        .select(col("week"), col("pos").cast("long").as("j"),
          col("col").as("mh"))
        .groupBy(col("week"), col("j")).agg(min(col("mh")).as("minh"))
      mergeWeeks(spark, part, storePath, None) { (fresh, stored) =>
        stored.unionByName(fresh)
          .groupBy(col("week"), col("j")).agg(min(col("minh")).as("minh"))
      }
    }
  }

  /** Adjacent-week Jaccard estimates from a [[streamMinhashUpsert]] store,
    * with the q439 slot-agreement arithmetic: est = |{j : m_w,j =
    * m_w+1,j}| · 1000 / 16 milli. Returns (week, n_sig_match, est_milli)
    * for each week whose successor is also in the store. */
  def minhashWeeklyJaccard(spark: SparkSession,
                           storePath: String): org.apache.spark.sql.DataFrame = {
    val k = graft.ext.Dedup.NumHashes
    val st = Tables.parquet(spark, storePath)
      .selectExpr("CAST(week AS BIGINT) AS week", "j", "minh")
    st.join(st.selectExpr("week - 1 AS week", "j", "minh AS minh2"),
        Seq("week", "j"))
      .groupBy(col("week"))
      .agg(sum(when(col("minh") === col("minh2"), 1L).otherwise(0L))
        .as("n_sig_match"))
      .selectExpr("week", "n_sig_match",
        s"n_sig_match * 1000 DIV $k AS est_milli")
  }

  /** Open-session state carried between micro-batches. */
  case class OpenSession(startUs: Long, endUs: Long, n: Long, cents: Long)
  /** A closed session — the streaming twin of one Sessions.sessionize row
    * (value in cents; the batch form divides by 100 at the end). */
  case class ClosedSession(user_id: Long, t_start_us: Long, t_end_us: Long,
                           n_events: Long, value_cents: Long)

  /** Gap-based streaming sessionization via flatMapGroupsWithState with an
    * EVENT-TIME timeout — the full custom-state form (vs statefulUserTotals'
    * map variant): sessions closed by a later in-batch event emit
    * immediately; the trailing open session closes when the WATERMARK passes
    * its end + gap (setTimeoutTimestamp), so state is bounded and
    * late-arriving events within the watermark still extend their session.
    * Semantics match Sessions.sessionize exactly for closed sessions
    * ((ts_us, event_id) order is imposed per batch before folding). */
  def streamSessionize(spark: SparkSession, eventsDir: String,
                       gapUs: Long): org.apache.spark.sql.Dataset[ClosedSession] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val (schema, raw) = eventStream(spark, eventsDir)
    val ev = withEventTime(raw, schema)
      .withWatermark("ts_t", "1 hour")
      .withColumn("cents",
        round(coalesce(col("value"), lit(0.0)) * 100).cast("long"))
      // the watermarked ts_t column must survive into the grouped Dataset
      // or the event-time-timeout check rejects the plan
      .select(col("user_id").as[Long], col("ts_us").as[Long],
        col("event_id").as[Long], col("cents").as[Long],
        col("ts_t").as[java.sql.Timestamp])
      .as[(Long, Long, Long, Long, java.sql.Timestamp)]
    ev.groupByKey(_._1)
      .flatMapGroupsWithState[OpenSession, ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (user, rows, state) =>
          if (state.hasTimedOut) {
            // watermark passed end + gap: the open session can never be
            // extended by a non-late event — close it
            val s = state.get
            state.remove()
            Iterator(ClosedSession(user, s.startUs, s.endUs, s.n, s.cents))
          } else {
            val sorted = rows.toSeq.sortBy(r => (r._2, r._3))
            var open = state.getOption
            val closed = Seq.newBuilder[ClosedSession]
            sorted.foreach { case (_, ts, _, cents, _) =>
              open match {
                case Some(o) if ts - o.endUs <= gapUs =>
                  open = Some(OpenSession(o.startUs, math.max(o.endUs, ts),
                    o.n + 1, o.cents + cents))
                case Some(o) =>
                  closed += ClosedSession(user, o.startUs, o.endUs, o.n, o.cents)
                  open = Some(OpenSession(ts, ts, 1L, cents))
                case None =>
                  open = Some(OpenSession(ts, ts, 1L, cents))
              }
            }
            open.foreach { o =>
              state.update(o)
              state.setTimeoutTimestamp((o.endUs + gapUs) / 1000L + 1L)
            }
            closed.result().iterator
          }
      }
  }

  /** Arbitrary-state streaming: per-user running totals via
    * mapGroupsWithState (SURVEY §2.8 / §7.10 — the flatMapGroupsWithState
    * path, here in its simpler map form). State = (event count, spend cents,
    * max ts); output = one updated row per user per micro-batch. */
  case class UserTotals(user_id: Long, n_events: Long, spend_cents: Long,
                        last_ts_us: Long)

  def statefulUserTotals(spark: SparkSession, eventsDir: String)
      : org.apache.spark.sql.Dataset[UserTotals] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val (schema, raw) = eventStream(spark, eventsDir)
    val ev = raw
      .withColumn("ts_us", tsUsExpr(schema))
      .withColumn("cents",
        when(col("event_type") =!= "error",
          round(coalesce(col("value"), lit(0.0)) * 100).cast("long"))
          .otherwise(lit(0L)))
      .select(col("user_id").as[Long], col("ts_us").as[Long], col("cents").as[Long])
      .as[(Long, Long, Long)]
    ev.groupByKey(_._1)
      .mapGroupsWithState[UserTotals, UserTotals](GroupStateTimeout.NoTimeout) {
        case (user, rows, state) =>
          val prev = state.getOption.getOrElse(UserTotals(user, 0L, 0L, Long.MinValue))
          val next = rows.foldLeft(prev) { (acc, r) =>
            UserTotals(user, acc.n_events + 1, acc.spend_cents + r._3,
              math.max(acc.last_ts_us, r._2))
          }
          state.update(next)
          next
      }
  }

  /** Output row of [[statefulAsOfJoin]]: a finalized purchase with the
    * latest click at-or-before it (−1 = none — Option[Long] does not
    * encode cleanly through the streaming Product encoder). */
  case class AsOfMatch(user_id: Long, p_ts: Long, c_ts: Long)

  /** STREAMING AS-OF JOIN via transformWithState — the streaming twin of
    * `Snapshots.asOfJoin` (purchases ← latest click with c_ts ≤ p_ts).
    * Neither stream-stream join mode expresses "the LATEST matching row"
    * (an interval join returns ALL clicks in a range; argmax-per-left is
    * not available in append streaming), so this is genuine custom-state
    * territory:
    *
    *  - both sides arrive as ONE tagged union keyed by user;
    *  - clicks buffer in a ListState; purchases buffer as PENDING with a
    *    timer at p_ts+1 ms — a purchase finalizes only when the WATERMARK
    *    passes it, because until then a late click ≤ p_ts could still
    *    arrive and change the answer (correctness under late data, the
    *    whole point of as-of in streaming);
    *  - on expiry, finalized purchases take max(click ≤ p) from the
    *    buffer;
    *  - GC: clicks at-or-below the watermark collapse to their single
    *    LATEST representative (every unfinalized purchase is above the
    *    watermark, so the latest dominated click can never be an answer)
    *    — state per key is O(pending + clicks-above-watermark), bounded
    *    by the watermark horizon, not history.
    */
  def statefulAsOfJoin(spark: SparkSession, eventsDir: String,
                       delay: String = "1 hour")
      : org.apache.spark.sql.Dataset[AsOfMatch] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor,
      TimeMode, TimerValues, ExpiredTimerInfo, TTLConfig}
    val (schema, raw) = eventStream(spark, eventsDir)
    val ev = withEventTime(raw, schema)
      .filter(col("event_type").isin("click", "purchase"))
      .withWatermark("ts_t", delay)
      .select(col("user_id").as[Long], col("ts_us").as[Long],
        (col("event_type") === "purchase").as[Boolean])
      .as[(Long, Long, Boolean)]

    class AsOfProcessor extends StatefulProcessor[Long,
        (Long, Long, Boolean), AsOfMatch] {
      @transient private var clicks: org.apache.spark.sql.streaming
        .ListState[Long] = _
      @transient private var pending: org.apache.spark.sql.streaming
        .ListState[Long] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
        clicks = getHandle.getListState[Long]("clicks",
          implicitly[org.apache.spark.sql.Encoder[Long]], TTLConfig.NONE)
        pending = getHandle.getListState[Long]("pending",
          implicitly[org.apache.spark.sql.Encoder[Long]], TTLConfig.NONE)
      }
      override def handleInputRows(user: Long,
          rows: Iterator[(Long, Long, Boolean)],
          timerValues: TimerValues): Iterator[AsOfMatch] = {
        rows.foreach { case (_, ts, isPurchase) =>
          if (isPurchase) {
            pending.appendValue(ts)
            getHandle.registerTimer(ts / 1000 + 1)
          } else clicks.appendValue(ts)
        }
        Iterator.empty
      }
      override def handleExpiredTimer(user: Long, timerValues: TimerValues,
          expiredTimerInfo: ExpiredTimerInfo): Iterator[AsOfMatch] = {
        val wmUs = timerValues.getCurrentWatermarkInMs() * 1000
        val cs = clicks.get().toArray
        val ps = pending.get().toArray
        val (done, stillPending) = ps.partition(_ < wmUs)
        val out = done.sorted.map { p =>
          val best = cs.filter(_ <= p)
          AsOfMatch(user, p, if (best.isEmpty) -1L else best.max)
        }
        pending.clear()
        stillPending.foreach(pending.appendValue)
        // GC: collapse clicks ≤ watermark to their latest representative
        val (old, live) = cs.partition(_ <= wmUs)
        if (old.length > 1) {
          clicks.clear()
          clicks.appendValue(old.max)
          live.foreach(clicks.appendValue)
        }
        out.iterator
      }
    }
    ev.groupByKey(_._1)
      .transformWithState(new AsOfProcessor, TimeMode.EventTime(),
        OutputMode.Append())
  }

  /** Output row of [[statefulLastK]]: the "recent purchases" feature —
    * last-k cents newest-first, plus the lifetime count. */
  case class LastK(user_id: Long, recent_cents: Seq[Long], n_total: Long)

  /** transformWithState (Spark 4.x arbitrary-state API) last-k feature:
    * per user, maintain the k most recent purchase amounts (event-ts
    * order, event-id tie-break) in a `ListState` plus a lifetime counter
    * in a `ValueState` — the online "recent purchases" feature vector the
    * reference rebuilds from scratch on every materialization run
    * (reference: jobs/materialize_online.py:14-19 re-reads ALL history;
    * this carries O(k) state per user forever, under the RocksDB store).
    *
    * Chosen over mapGroupsWithState for the typed per-field state
    * primitives (list + value instead of one monolithic case-class blob):
    * only the touched state keys are read/written per micro-batch — the
    * difference between O(k) and O(state) I/O per user per batch at
    * 100 TB. Requires the RocksDB state store provider (set in the spec /
    * session conf).
    */
  def statefulLastK(spark: SparkSession, eventsDir: String, k: Int,
                    maxFilesPerTrigger: Int = 0)
      : org.apache.spark.sql.Dataset[LastK] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor,
      TimeMode, TimerValues, TTLConfig}
    val (schema, raw) = eventStream(spark, eventsDir, maxFilesPerTrigger)
    val ev = raw
      .filter(col("event_type") === "purchase")
      .withColumn("ts_us", tsUsExpr(schema))
      .withColumn("cents", round(coalesce(col("value"), lit(0.0)) * 100)
        .cast("long"))
      .select(col("user_id").as[Long], col("ts_us").as[Long],
        col("event_id").as[Long], col("cents").as[Long])
      .as[(Long, Long, Long, Long)]

    class LastKProcessor extends StatefulProcessor[Long,
        (Long, Long, Long, Long), LastK] {
      // (ts_us, event_id, cents) triples, kept sorted newest-first
      @transient private var recent: org.apache.spark.sql.streaming
        .ListState[(Long, Long, Long)] = _
      @transient private var total: org.apache.spark.sql.streaming
        .ValueState[Long] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
        recent = getHandle.getListState[(Long, Long, Long)]("recent",
          implicitly[org.apache.spark.sql.Encoder[(Long, Long, Long)]],
          TTLConfig.NONE)
        total = getHandle.getValueState[Long]("total",
          implicitly[org.apache.spark.sql.Encoder[Long]], TTLConfig.NONE)
      }
      override def handleInputRows(user: Long,
          rows: Iterator[(Long, Long, Long, Long)],
          timerValues: TimerValues): Iterator[LastK] = {
        val incoming = rows.map(r => (r._2, r._3, r._4)).toSeq
        val prev = if (recent.exists()) recent.get().toSeq else Seq.empty
        val merged = (prev ++ incoming)
          .sortBy { case (ts, id, _) => (-ts, -id) }.take(k)
        recent.put(merged.toArray)
        val n = (if (total.exists()) total.get() else 0L) + incoming.size
        total.update(n)
        Iterator.single(LastK(user, merged.map(_._3), n))
      }
    }
    ev.groupByKey(_._1)
      .transformWithState(new LastKProcessor, TimeMode.None(),
        OutputMode.Update())
  }

  /** Output row of [[statefulSessionTimers]]. */
  case class TimerSession(user_id: Long, t_start_us: Long, t_end_us: Long,
                          n_events: Long)

  /** transformWithState sessionization with EVENT-TIME TIMERS — the
    * timer-driven form of streamSessionize's flatMapGroupsWithState
    * timeout: each batch folds the user's events into a (start, end, n)
    * ValueState and re-arms ONE timer at `end + gap`; the session row is
    * emitted from `handleExpiredTimer` when the WATERMARK crosses that
    * instant — i.e. when no in-flight event can extend the session any
    * more. Timers are the new API's replacement for
    * GroupStateTimeout.EventTimeTimeout, with two wins at scale: multiple
    * independent timers per key are possible, and expiry scans are
    * state-store-native (RocksDB range scan) instead of a full state
    * sweep per micro-batch.
    *
    * Intra-batch gap splits are walked in event order (a micro-batch can
    * carry several complete sessions for one user — certainly in replay);
    * only the LAST, still-open session stays in state with a timer armed.
    */
  def statefulSessionTimers(spark: SparkSession, eventsDir: String,
                            gapUs: Long, maxFilesPerTrigger: Int = 0)
      : org.apache.spark.sql.Dataset[TimerSession] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor,
      TimeMode, TimerValues, ExpiredTimerInfo, TTLConfig}
    val (schema, raw) = eventStream(spark, eventsDir, maxFilesPerTrigger)
    val ev = withEventTime(raw, schema)
      .withWatermark("ts_t", "1 hour")
      .select(col("user_id").as[Long], col("ts_us").as[Long])
      .as[(Long, Long)]

    class SessionProcessor extends StatefulProcessor[Long, (Long, Long),
        TimerSession] {
      @transient private var sess: org.apache.spark.sql.streaming
        .ValueState[(Long, Long, Long)] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        sess = getHandle.getValueState[(Long, Long, Long)]("sess",
          implicitly[org.apache.spark.sql.Encoder[(Long, Long, Long)]],
          TTLConfig.NONE)
      override def handleInputRows(user: Long,
          rows: Iterator[(Long, Long)],
          timerValues: TimerValues): Iterator[TimerSession] = {
        val ts = rows.map(_._2).toArray.sorted
        // walk in event order: a beyond-gap event closes the running
        // session immediately (its timer may not have fired yet)
        val closed = scala.collection.mutable.ArrayBuffer[TimerSession]()
        var cur = if (sess.exists()) Some(sess.get()) else None
        ts.foreach { t =>
          cur = cur match {
            case Some((s0, e0, n0)) if t > e0 + gapUs =>
              closed += TimerSession(user, s0, e0, n0)
              Some((t, t, 1L))
            case Some((s0, e0, n0)) =>
              Some((s0, math.max(e0, t), n0 + 1))
            case None => Some((t, t, 1L))
          }
        }
        val open = cur.get // ts nonempty, so a session is always open here
        sess.update(open)
        // re-arm: exactly one live timer per key, at session end + gap
        getHandle.listTimers().foreach(getHandle.deleteTimer)
        getHandle.registerTimer(open._2 / 1000 + gapUs / 1000)
        closed.iterator
      }
      override def handleExpiredTimer(user: Long, timerValues: TimerValues,
          expiredTimerInfo: ExpiredTimerInfo): Iterator[TimerSession] = {
        if (!sess.exists()) Iterator.empty
        else {
          val (s0, e0, n0) = sess.get()
          sess.clear()
          Iterator.single(TimerSession(user, s0, e0, n0))
        }
      }
    }
    ev.groupByKey(_._1)
      .transformWithState(new SessionProcessor, TimeMode.EventTime(),
        OutputMode.Append())
  }

  /** INCREMENTAL HDR-HISTOGRAM MATERIALIZATION (the q449 log-linear
    * quantile sketch as a streaming sink): maintain a parquet store of
    * per-week bucket counts (week, b_id, lb, c) over event VALUE cents.
    * Bucket counts are an additive commutative monoid — merge = per-bucket
    * sum — which is NOT replay-idempotent, so the store carries the
    * per-week `batch_id` high-water mark of [[mergeWeeks]] (the
    * [[streamCmsUpsert]]/[[kllApplyBatch]] crash-window discipline).
    * Values below 8 cents get exact singleton buckets (b_id = v < 24 —
    * still monotone below the log-linear lane, which starts at
    * b_id = 24); values ≥ 8 use the q449 mapping: e = len(bin(v))−1,
    * sub = (v−2^e)·8/2^e, b_id = 8e+sub, lb = (8+sub)·2^(e−3). Weekly
    * quantiles read off the merged CDF via [[hdrWeeklyQuantiles]]. */
  def streamHdrUpsert(spark: SparkSession, eventsDir: String,
                      storePath: String,
                      maxFilesPerTrigger: Int = 0,
                      checkpointDir: Option[String] = None): StreamingQuery = {
    val (schema, raw) = eventStream(spark, eventsDir, maxFilesPerTrigger)
    foreachBatchSink(raw, checkpointDir)(hdrApplyBatch(spark, _, schema, storePath, _))
  }

  /** One micro-batch of [[streamHdrUpsert]] — the [[cmsApplyBatch]] shape
    * with per-bucket counter addition (store buckets absent from the batch
    * survive the merge). */
  private[graft] def hdrApplyBatch(spark: SparkSession, batch: DataFrame,
      schema: StructType, storePath: String, batchId: Long): Unit = {
    val part = withWeek(batch, schema)
      .selectExpr("week", "CAST(round(value * 100) AS BIGINT) AS v")
      .filter(col("v") >= 1L)
      .selectExpr("week", "v",
        "CAST(length(bin(v)) - 1 AS INT) AS e")
      .selectExpr("week",
        "CASE WHEN v < 8 THEN v ELSE CAST(e AS BIGINT) * 8 + " +
          "(v - shiftleft(CAST(1 AS BIGINT), e)) * 8 DIV " +
          "shiftleft(CAST(1 AS BIGINT), e) END AS b_id",
        "CASE WHEN v < 8 THEN v ELSE shiftleft(CAST(8 + " +
          "(v - shiftleft(CAST(1 AS BIGINT), e)) * 8 DIV " +
          "shiftleft(CAST(1 AS BIGINT), e) AS BIGINT), e - 3) END AS lb")
      .groupBy(col("week"), col("b_id"), col("lb"))
      .agg(count(lit(1)).as("c"))
    mergeWeeks(spark, part, storePath, Some(batchId)) { (fresh, stored) =>
      fresh.unionByName(stored)
        .groupBy(col("week"), col("b_id"), col("lb"))
        .agg(sum(col("c")).as("c"))
    }
  }

  /** Weekly quantile estimates from a [[streamHdrUpsert]] store: for each
    * requested percentile, rank r = ⌈n·q/100⌉ and the estimate is the
    * lower bound of the first bucket whose CDF reaches r — ≤ 12.5%
    * relative error in the log-linear lane, exact below 8 cents. The CDF
    * window is per-week over the bucket domain (never fact-sized). */
  def hdrWeeklyQuantiles(spark: SparkSession, storePath: String,
                         qs: Seq[Long] = Seq(50L, 90L, 99L)): DataFrame = {
    val store = Tables.parquet(spark, storePath)
    val cum = store.withColumn("cum", sum(col("c")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("week"))
          .orderBy(col("b_id"))))
      .join(store.groupBy(col("week")).agg(sum(col("c")).as("n")), Seq("week"))
    val targets = cum.select(col("week"), col("n")).distinct()
      .withColumn("q_pct", explode(lit(qs.toArray)))
      .withColumn("r", expr("(n * q_pct + 99) DIV 100"))
    targets.join(cum.select(col("week"), col("lb"), col("cum")), Seq("week"))
      .filter(col("cum") >= col("r"))
      .groupBy(col("week"), col("q_pct"), col("n"), col("r"))
      .agg(min(col("lb")).as("est_lb"))
  }
}

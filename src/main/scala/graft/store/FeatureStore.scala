package graft.store

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{Features, Labels, Snapshots}

/** The feature-store facade — the engine-level equivalent of the reference's
  * serving surface (SURVEY.md §2.9): snapshot lookup, batch scoring inputs,
  * gold materialization, training-set assembly, prediction logging.
  *
  * The reference serves per-request from an in-memory pandas frame
  * (serving/feature_service.py:27-46); Spark-native, the contract is:
  * batch jobs MATERIALIZE (gold tables, online KV, snapshots), the serving
  * edge reads materialized artifacts and never launches a Spark job per
  * request (SURVEY.md §3 EP3).
  */
object FeatureStore {

  /** S3 — hive-partitioned gold write with dynamic partition overwrite
    * (reference: jobs/build_feature_views.py:75-82 writes one file per date
    * dir by hand; `repartition` by the partition column controls file count,
    * dynamic overwrite makes re-runs per-partition idempotent). */
  def writeGold(features: DataFrame, path: String): Unit = {
    val withDate = features.withColumn("date",
      to_date(timestamp_micros(col("ts_us"))))
    withDate.sparkSession.conf
      .set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    withDate
      .repartition(col("date"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("date")
      .parquet(path)
    // invalidate the shared InMemoryFileIndex listing: same-session readers
    // of `path` would otherwise chase files the overwrite just deleted
    withDate.sparkSession.catalog.refreshByPath(path)
  }

  /** Full gold build: events → 17-column feature view (EP2). */
  def buildGold(spark: SparkSession, sfDir: String): DataFrame =
    Features.featureView(graft.Tables.events(spark, sfDir))

  /** J4 — all-customer latest snapshot (what the online store is loaded
    * from; reference: jobs/materialize_online.py:19). */
  def latestSnapshots(gold: DataFrame): DataFrame =
    Snapshots.latestPerKey(gold, "user_id", "ts_us", "event_id")

  /** J3 — all-customer as-of snapshot at a point in time. */
  def snapshotsAsOf(gold: DataFrame, asOfUs: Long): DataFrame =
    Snapshots.asOf(gold, "user_id", "ts_us", "event_id", asOfUs)

  /** J3 single-key lookup (the reference's per-request path,
    * serving/feature_service.py:36-46). Against a date-partitioned gold
    * table, Catalyst prunes partitions/row-groups via the pushed
    * `user_id = key` filter — but per-request calls should hit the
    * materialized KV store instead (see KvSink). */
  def snapshot(gold: DataFrame, userId: Long, asOfUs: Long): Option[Map[String, Any]] = {
    val row = gold
      .filter(col("user_id") === userId && col("ts_us") <= asOfUs)
      .orderBy(col("ts_us").desc, col("event_id").desc)
      .limit(1).collect()
    row.headOption.map(r => r.schema.fieldNames.zip(r.toSeq).toMap)
  }

  /** E2 — feature-vector alignment: project in contract order, missing
    * columns → 0.0, everything double (reference:
    * serving/feature_service.py:48-59 + feature_names.txt). */
  def alignVector(df: DataFrame, contract: Seq[String]): DataFrame = {
    val have = df.columns.toSet
    df.select(contract.map { name =>
      (if (have(name)) coalesce(col(name).cast("double"), lit(0.0))
       else lit(0.0)).as(name)
    }: _*)
  }

  /** The ordered feature-name contract (reference:
    * serving/models/feature_names.txt, written at training time by
    * jobs/make_training_and_train.py:91). */
  def featureNames: Seq[String] =
    Features.Windows.flatMap { case (lbl, _) =>
      Seq(s"txn_count_$lbl", s"spend_$lbl", s"unique_skus_$lbl",
        s"avg_basket_value_$lbl", s"cancel_rate_$lbl")
    } ++ Seq("tenure_days", "user_id")

  /** M3 — full training-set assembly (EP chain of
    * jobs/make_training_and_train.py:96-101): features ⋈ J2 labels,
    * ordered T3 split column included. */
  def trainingSet(spark: SparkSession, sfDir: String,
                  horizonUs: Long = 7 * Features.DayUs): DataFrame = {
    val gold = buildGold(spark, sfDir)
    val purchases = graft.Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts_us"))
    val labels = Labels.churnLabelsWindow(purchases, horizonUs)
      .select(col("user_id"), col("event_id"), col("churn"))
    val joined = gold.join(labels, Seq("user_id", "event_id"), "inner")
    Labels.orderedSplit(joined, Seq("user_id", "ts_us", "event_id"))
  }

  /** MERGE-style upsert into the gold table (the Delta-Lake MERGE pattern on
    * plain parquet — Delta jars aren't shipped in this environment; swap
    * `writeGold` for `deltaTable.merge` when they are): rows in `updates`
    * replace same-key rows in the existing table, new keys append.
    *
    * At 100 TB only the AFFECTED date partitions are rewritten: the ones
    * `updates` lands in, plus any partition holding a stale version of an
    * updated key (a key whose `ts_us` moved across dates). Untouched
    * partitions are never read for the merge (partition-pruned `isin`
    * filter) and never rewritten (dynamic partition overwrite only touches
    * partitions present in `merged`) — the same file-pruning a Delta MERGE
    * gets from min/max stats. */
  def upsertGold(spark: SparkSession, path: String, updates: DataFrame,
                 keyCols: Seq[String]): Unit = {
    // Hadoop FileSystem existence check — works on HDFS/S3, not just the
    // local FS. Only a MISSING table means bootstrap; any other read failure
    // must surface (a swallowed transient error would merge against an empty
    // table and leave duplicate keys in untouched partitions).
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(hPath)) { writeGold(updates, path); return }
    val existing = Tables.parquet(spark, path) // partition column `date` included
    val updKeys = updates.select(keyCols.map(col): _*)
    // driver-side list of affected dates (small: one row per distinct date)
    val updDates = updates
      .select(to_date(timestamp_micros(col("ts_us"))).as("date"))
    val staleDates = existing.join(updKeys, keyCols, "left_semi")
      .select(col("date"))
    val dates = updDates.unionByName(staleDates).distinct()
      .collect().map(_.getAs[java.sql.Date]("date"))
    val merged = existing
      .filter(col("date").isin(dates: _*)) // partition-pruned scan
      .drop("date")
      .join(updKeys, keyCols, "left_anti")
      .unionByName(updates)
      // break lineage from the files about to be overwritten: the write
      // job must not scan partitions the overwrite is deleting (Delta
      // solves this with MVCC; on plain parquet we materialize first)
      .localCheckpoint()
    writeGold(merged, path)
  }

  /** RETENTION ENFORCEMENT — drop every `date=` partition strictly older
    * than `cutoff` from the gold table, as a METADATA-ONLY operation:
    * whole partition directories are deleted by name, no file is read, no
    * row is scanned. The O(partitions) retention job a date-partitioned
    * layout buys (vs the O(table) anti-join rewrite a row-level TTL would
    * need); pairs with the compaction planner (ops/History.compactionBins)
    * as the table-maintenance loop. Returns the dropped partition dates.
    *
    * Hadoop FileSystem API throughout (works on HDFS/S3, same lesson as
    * upsertGold's existence check). */
  def expireOldPartitions(spark: SparkSession, path: String,
                          cutoff: java.time.LocalDate): Seq[String] = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(hPath)) return Seq.empty
    val dropped = fs.listStatus(hPath).toSeq
      .filter(_.isDirectory)
      .map(_.getPath)
      .filter(_.getName.startsWith("date="))
      .filter { p =>
        val d = p.getName.stripPrefix("date=")
        // non-date dirs are never silently deleted
        scala.util.Try(java.time.LocalDate.parse(d))
          .toOption.exists(_.isBefore(cutoff))
      }
    dropped.foreach(fs.delete(_, true))
    spark.catalog.refreshByPath(path)
    dropped.map(_.getName.stripPrefix("date="))
  }

  /** RIGHT-TO-ERASURE (GDPR art. 17) key deletion from the gold table: drop
    * every row whose key appears in `keys`, rewriting ONLY the date
    * partitions that actually contain such rows — the fourth
    * table-maintenance op beside upsert, retention expiry, and compaction
    * planning.
    *
    * Scale shape: the affected-partition list comes from a partition-
    * column-only projection of the semi-join (broadcast when `keys` is an
    * erasure request batch, i.e. small); untouched partitions are never
    * scanned for the rewrite (partition-pruned `isin`) and never rewritten
    * (dynamic partition overwrite). Returns the number of rows erased.
    *
    * CONCURRENCY/ATOMICITY CONTRACT (plain parquet has no transaction
    * log): SINGLE WRITER assumed — a concurrent writer to the same path
    * can resurrect or orphan rows, as with every maintenance op in this
    * store. The op is NOT atomic across partitions: a crash between the
    * dynamic overwrite and the all-erased-partition deletion can leave
    * erased rows on disk. It IS idempotent — a failed run must simply be
    * retried (the semi-join finds the remaining rows; already-clean
    * partitions are untouched). On success a post-condition check
    * re-scans the affected partitions and asserts zero remaining key
    * hits, so a completed call never under-reports.
    */
  def eraseKeys(spark: SparkSession, path: String, keys: DataFrame,
                keyCols: Seq[String]): Long = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(hPath)) return 0L
    val existing = Tables.parquet(spark, path)
    val k = broadcast(keys.select(keyCols.map(col): _*).distinct())
    val hit = existing.join(k, keyCols, "left_semi")
    // driver-side affected-date list: one row per distinct date, tiny
    val dates = hit.select(col("date")).distinct()
      .collect().map(_.getAs[java.sql.Date]("date"))
    if (dates.isEmpty) return 0L
    val erased = hit.count()
    val kept = existing
      .filter(col("date").isin(dates: _*)) // partition-pruned scan
      .join(k, keyCols, "left_anti")
      .drop("date")
      // lineage break before overwriting the files being read (same
      // reasoning as upsertGold)
      .localCheckpoint()
    kept.sparkSession.conf
      .set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    val keptDated = kept
      .withColumn("date", to_date(timestamp_micros(col("ts_us"))))
    keptDated
      .repartition(col("date"))
      .write.mode(SaveMode.Overwrite).partitionBy("date").parquet(path)
    // a partition whose rows were ALL erased emits no output rows, so
    // dynamic overwrite never touches it and its files would SURVIVE —
    // exactly the data the erasure must remove. Delete those partition
    // dirs explicitly (metadata-only, same discipline as retention).
    val keptDates = keptDated.select(col("date")).distinct()
      .collect().map(_.getAs[java.sql.Date]("date")).toSet
    dates.filterNot(keptDates).foreach { d =>
      fs.delete(new org.apache.hadoop.fs.Path(hPath, s"date=$d"), true)
    }
    spark.catalog.refreshByPath(path)
    // post-condition: the affected partitions now contain ZERO rows for
    // the erased keys (partition-pruned re-scan; cheap relative to the
    // rewrite). Fails loudly instead of reporting success on a bad write.
    val remaining = dates.filter(keptDates)
    val survivors =
      if (remaining.isEmpty) 0L
      else Tables.parquet(spark, path)
        .filter(col("date").isin(remaining.toSeq: _*))
        .join(k, keyCols, "left_semi").count()
    require(survivors == 0L,
      s"eraseKeys post-condition failed: $survivors erased-key rows remain")
    erased
  }

  /** VERSIONED gold writes — MVCC-lite time travel on plain parquet (the
    * capability Delta/Iceberg snapshots provide, reduced to its essentials
    * for reproducible training data): each write lands in an immutable
    * `v=N` directory, then a `_LATEST` marker is updated by write-temp +
    * atomic rename. Readers pinned to a version N see byte-identical data
    * forever (a training run records N and is exactly re-buildable);
    * readers of "latest" never observe a half-written version because the
    * marker flips only after the data write completes.
    *
    * Returns the new version number. */
  def writeGoldVersioned(features: DataFrame, path: String): Int = {
    val spark = features.sparkSession
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sessionState.newHadoopConf())
    val next = listGoldVersions(spark, path).foldLeft(0)(math.max) + 1
    features.write.mode(SaveMode.ErrorIfExists).parquet(s"$path/v=$next")
    val tmp = new org.apache.hadoop.fs.Path(hPath, "_LATEST.tmp")
    val out = fs.create(tmp, true)
    out.write(next.toString.getBytes("UTF-8")); out.close()
    val marker = new org.apache.hadoop.fs.Path(hPath, "_LATEST")
    fs.delete(marker, false)
    fs.rename(tmp, marker)
    next
  }

  /** All committed versions of a [[writeGoldVersioned]] store (ascending). */
  def listGoldVersions(spark: SparkSession, path: String): Seq[Int] = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(hPath)) return Seq.empty
    fs.listStatus(hPath).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(_.startsWith("v="))
      .flatMap(n => scala.util.Try(n.stripPrefix("v=").toInt).toOption)
      .sorted
  }

  /** Read a pinned version, or the `_LATEST`-marked one when None. */
  def readGoldVersion(spark: SparkSession, path: String,
                      version: Option[Int] = None): DataFrame = {
    val v = version.getOrElse {
      val hPath = new org.apache.hadoop.fs.Path(path)
      val fs = hPath.getFileSystem(spark.sessionState.newHadoopConf())
      val marker = new org.apache.hadoop.fs.Path(hPath, "_LATEST")
      require(fs.exists(marker), s"no _LATEST marker under $path")
      val in = fs.open(marker)
      val bytes = new Array[Byte](32)
      val n = in.read(bytes); in.close()
      new String(bytes, 0, n, "UTF-8").trim.toInt
    }
    Tables.parquet(spark, s"$path/v=$v")
  }

  /** S4 — append-only prediction log, date-partitioned (reference:
    * serving/pred_logger.py:14-18). Append mode: concurrent writers add
    * files, never clobber. */
  def logPredictions(preds: DataFrame, path: String): Unit =
    preds
      .withColumn("date", to_date(timestamp_micros(col("ts_us"))))
      .write.mode(SaveMode.Append).partitionBy("date").parquet(path)
}

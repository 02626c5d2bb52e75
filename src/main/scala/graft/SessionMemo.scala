package graft

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.sql.{classic, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** The one cache for relations that outlive the query that built them: a
  * trained tokenizer read by five queries, the graph and calibration views
  * the SQL-text queries re-register on every run.
  *
  * An entry is keyed on its session (the object itself), a memo name, the
  * input's canonicalized analyzed plan (compared whole, not by hash) and the
  * (path, size, mtime) of every input file, taken from the file index the
  * input's plan already holds. Its value is built from frames persisted
  * through [[Pins]]: ordinary CacheManager entries, so a lost block is
  * recomputed from lineage, an external `clearCache` drops them, and
  * building the value runs no Spark job.
  *
  * A lookup hits when the key matches and every pinned frame is still
  * registered; otherwise the entry is built again once. Once every frame's
  * cache is filled, a hit returns the value built a second time over scans
  * of the cached data ([[Entry.scanned]]). The memo holds one
  * entry per name: a new key, from another session too, replaces the entry
  * and unpersists its frames, so pinned storage stays bounded by the names
  * in use. The value is built outside the memo's lock; callers of the same
  * entry wait on its lazy value. */
object SessionMemo {

  /** Persists the frames a memo value is built from and remembers them;
    * given `scans`, hands out the i-th of them for the i-th frame instead.
    * Once retired it unpersists its frames and pins nothing more, so a
    * build still running when its entry is replaced leaves nothing cached.
    *
    * A frame is cached behind a hash shuffle on all its columns (so none
    * may be a map). Without it, the cached RDD's lineage up to the frame's
    * last shuffle holds operators that capture their whole input plan, and
    * Spark serializes that into every task reading the cache: 0.6 MB per
    * stage for the unigram scores trained in one frame. */
  final class Pins private[SessionMemo] (scans: Seq[DataFrame]) {
    private val frames = mutable.ArrayBuffer.empty[DataFrame]
    private var retired = false
    def apply(df: DataFrame): DataFrame = synchronized {
      if (scans.nonEmpty) {
        val s = scans(frames.size)
        require(s.schema == df.schema, s"pin ${frames.size} changed schema between builds")
        frames += s
        s
      } else {
        val shuffled = df.repartition(df.columns.toIndexedSeq.map(c => col(s"`$c`")): _*)
        if (!retired) frames += shuffled.persist(StorageLevel.MEMORY_AND_DISK)
        shuffled
      }
    }
    private[SessionMemo] def pinned: Seq[DataFrame] = synchronized(frames.toSeq)
    private[SessionMemo] def cached: Boolean = synchronized {
      !retired && frames.forall(_.storageLevel != StorageLevel.NONE)
    }
    /** Every frame's cache is filled, so scanning it starts no job. */
    private[SessionMemo] def loaded: Boolean = cached && pinned.forall { f =>
      val qe = f.queryExecution
      qe.sparkSession.sharedState.cacheManager.lookupCachedData(qe.sparkSession, qe.normalized)
        .exists(_.cachedRepresentation.cacheBuilder.isCachedColumnBuffersLoaded)
    }
    private[SessionMemo] def retire(): Unit = synchronized {
      retired = true
      frames.filterNot(_.sparkSession.sparkContext.isStopped).foreach(_.unpersist())
    }
  }

  private final case class Key(session: SparkSession, plan: LogicalPlan,
                               files: Seq[(String, Long, Long)])

  private final class Entry(val key: Key, build: Pins => Any) {
    val pins = new Pins(Nil)
    lazy val value: Any = build(pins)
    /** The value built again with every pinned frame replaced by a scan of
      * its cached data. A plan over a persisted frame prints the frame's
      * whole lineage, nested frames included, at every execution (final
      * and initial adaptive plan per level: 3-34 MB per unigram query at
      * sf0.1, and several times the run time of a scan); a scan prints as
      * one leaf. Building twice is safe because a build only composes frames,
      * with no job and no side effect but its pins, in a fixed order: the
      * i-th pin of this build is the i-th frame of the first, which `Pins`
      * checks by schema. */
    lazy val scanned: Any = {
      rescans.incrementAndGet()
      build(new Pins(pins.pinned.map(scan)))
    }
  }

  private val entries = mutable.Map.empty[String, Entry]

  private[graft] val builds, hits, rebuilds, rescans = new AtomicLong

  /** The value memoized under `name` for `input`, built by `build` when the
    * memo has no valid entry for this session and input. */
  def apply[T](input: DataFrame, name: String)(build: Pins => T): T = {
    val key = Key(input.sparkSession, input.queryExecution.analyzed.canonicalized, files(input))
    /** The entry for `name` if it has this key and is not `stale`, else a
      * new one in its place (true: this caller made it). */
    def entry(stale: Option[Entry]): (Entry, Boolean) = entries.synchronized {
      entries.get(name) match {
        case Some(e) if e.key == key && !stale.contains(e) => (e, false)
        case old =>
          old.foreach(_.pins.retire())
          (if (stale.isEmpty) builds else rebuilds).incrementAndGet()
          val e = new Entry(key, build)
          entries(name) = e
          (e, true)
      }
    }
    val (e, made) = entry(None)
    val v = e.value
    if (made) v.asInstanceOf[T]
    else if (!e.pins.cached) entry(Some(e))._1.value.asInstanceOf[T]
    else {
      hits.incrementAndGet()
      (if (e.pins.loaded) e.scanned else v).asInstanceOf[T]
    }
  }

  /** `cached` as one scan of its cached data: the leaf `Dataset.localCheckpoint`
    * builds (same output, ordering and statistics), over the cached RDD
    * rather than a checkpoint, so a lost block is recomputed. The plan's
    * partitioning is kept only when the RDD has its partition count: one
    * that adaptive execution coalesced no longer holds. */
  private def scan(cached: DataFrame): DataFrame = {
    val qe = cached.queryExecution
    val rdd = qe.toRdd
    val parts = Some(qe.executedPlan.outputPartitioning)
      .filter(_.numPartitions == rdd.getNumPartitions).getOrElse(UnknownPartitioning(0))
    val plan = LogicalRDD(qe.analyzed.output, rdd, parts, qe.executedPlan.outputOrdering)(
      qe.sparkSession, Some(qe.optimizedPlan.stats))
    new classic.Dataset[Row](qe.sparkSession, plan, Encoders.row(cached.schema))
  }

  /** (path, size, mtime) of every file the plan reads, sorted. */
  private def files(df: DataFrame): Seq[(String, Long, Long)] =
    df.queryExecution.analyzed.collectWithSubqueries {
      case l: LogicalRelation => l.relation
    }.flatMap {
      case HadoopFsRelation(index: PartitioningAwareFileIndex, _, _, _, _, _) =>
        index.allFiles().map(s => (s.getPath.toString, s.getLen, s.getModificationTime))
      case _ => Nil
    }.sorted
}

package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory span recorder. Spans are taken around the calls the benchmark
  * makes into graft, so every layer is timed from outside. With tracing off
  * `span` is a plain call: no clock read, no allocation, no job group. */
object Trace {
  final case class Span(id: Long, parent: Long, trace: Long, name: String,
                        startNs: Long, endNs: Long)

  @volatile var on = false
  @volatile var sc: SparkContext = _
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val open = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  private val traceId = new ThreadLocal[Long] { override def initialValue() = 0L }

  /** Start a new trace (one per iteration, request or batch) on this thread. */
  def newTrace(): Unit = if (on) traceId.set(ids.incrementAndGet())

  /** Time `body` as a span called `name`. Spark jobs it starts are charged to
    * the job group `name`, so eager work inside a builder is attributed to it. */
  def span[T](name: String)(body: => T): T = {
    if (!on) return body
    val id = ids.incrementAndGet()
    val parents = open.get()
    val prevGroup = if (sc != null) sc.getLocalProperty("spark.jobGroup.id") else null
    if (sc != null) sc.setLocalProperty("spark.jobGroup.id", name)
    open.set(id :: parents)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      open.set(parents)
      if (sc != null) sc.setLocalProperty("spark.jobGroup.id", prevGroup)
      spans.add(Span(id, parents.headOption.getOrElse(0L), traceId.get(), name, t0, t1))
    }
  }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Durations in ms of every span called `name`. */
  def durationsMs(name: String): Seq[Double] =
    spans.asScala.iterator.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e6).toSeq

  /** Self time per layer (the name up to its first dot): each span's
    * duration minus the part of it that its child spans cover. */
  def selfMsByLayer: Map[String, Double] = {
    val byParent = all.groupBy(_.parent)
    val self = all.map { s =>
      val kids = byParent.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs)).sortBy(_._1)
      var covered = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      kids.foreach { case (ks, ke) =>
        if (ks > curE) { covered += curE - curS; curS = ks; curE = ke }
        else curE = math.max(curE, ke)
      }
      covered += curE - curS
      layer(s.name) -> (s.endNs - s.startNs - covered) / 1e6
    }
    self.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
  }

  def layer(name: String): String = name.takeWhile(_ != '.')

  /** Write every span as one JSON line. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"trace":${s.trace},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Spark-side counters from a listener the benchmark registers (traced runs
  * only), summed over the timed sections. Jobs are attributed to the job
  * group that `Trace.span` set. */
final class SparkCounters extends SparkListener {
  val jobs = new AtomicLong(); val jobsEnded = new AtomicLong()
  val stages = new AtomicLong(); val tasks = new AtomicLong()
  val taskMs = new AtomicLong(); val shuffleRead = new AtomicLong()
  val shuffleWrite = new AtomicLong(); val spill = new AtomicLong()
  val inputRows = new AtomicLong()
  private val byGroup = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    byGroup.computeIfAbsent(g, _ => new AtomicLong()).incrementAndGet()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobsEnded.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskMs.addAndGet(m.executorRunTime)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      inputRows.addAndGet(m.inputMetrics.recordsRead)
    }
  }

  // totals over the timed sections only, in the order of `now`
  private val inSections = Array.fill(10)(0L)

  /** Run `body` as a timed section: only Spark work and GC time inside
    * sections are reported, so the benchmark's own staging and checks are
    * left out. A no-op unless tracing is on. */
  def section[T](body: => T): T = {
    if (!Trace.on) return body
    val a = now()
    try body
    finally {
      val b = now()
      inSections.indices.foreach(i => inSections(i) += b(i) - a(i))
    }
  }

  /** Current totals, after the events of earlier work have arrived. */
  private def now(): Array[Long] = {
    settle()
    Array(jobs.get, stages.get, tasks.get, taskMs.get, shuffleRead.get, shuffleWrite.get,
      spill.get, inputRows.get, jobsInGroup("SparkEntry.build"), Heap.gcMs.toLong)
  }

  def jobsInGroup(name: String): Long = Option(byGroup.get(name)).map(_.get).getOrElse(0L)

  /** Listener events arrive asynchronously: wait until every started job has
    * ended and the counts have stopped moving. */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    var last = -1L
    while (System.nanoTime() < deadline &&
        (jobs.get != jobsEnded.get || tasks.get != last)) {
      last = tasks.get
      Thread.sleep(200)
    }
  }

  /** Totals over the timed sections. */
  def metrics: Seq[(String, Double, String)] = {
    val mb = 1024.0 * 1024.0
    val Array(j, st, t, tMs, shR, shW, sp, rows, buildJobs, gcMs) = inSections.map(_.toDouble)
    Seq(
      ("spark.jobs", j, "count"),
      ("spark.stages", st, "count"),
      ("spark.tasks", t, "count"),
      ("spark.task_ms", tMs, "ms"),
      ("spark.shuffle_read_mb", shR / mb, "MB"),
      ("spark.shuffle_write_mb", shW / mb, "MB"),
      ("spark.spill_mb", sp / mb, "MB"),
      ("spark.input_rows", rows, "count"),
      ("SparkEntry.build_jobs", buildJobs, "count"),
      ("jvm.gc_ms", gcMs, "ms"))
  }
}

/** Old-generation heap after a full GC, sampled at checkpoints outside the
  * timed sections, and GC time spent outside those checkpoints. */
object Heap {
  private val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
  @volatile private var peakBytes = 0L
  private var explicitGcMs = 0L

  private def gcMsNow: Long = gcs.map(_.getCollectionTime).sum

  /** Full GC, then record old-gen usage; returns it in MB. The second GC
    * frees what Spark's cleaner released after the first one (broadcast and
    * shuffle blocks of unreachable plans), so the reading does not depend on
    * when the cleaner thread ran. */
  def checkpoint(): Double = synchronized {
    val g0 = gcMsNow
    System.gc()
    Thread.sleep(300)
    System.gc()
    explicitGcMs += gcMsNow - g0
    val used = oldGen.map(_.getUsage.getUsed).getOrElse(0L)
    peakBytes = math.max(peakBytes, used)
    used / 1048576.0
  }

  def peakMb: Double = peakBytes / 1048576.0

  /** GC time in ms, excluding the explicit checkpoints. */
  def gcMs: Double = synchronized { (gcMsNow - explicitGcMs).toDouble }
}

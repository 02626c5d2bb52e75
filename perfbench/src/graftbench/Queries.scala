package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** A warm pass, then timed passes, over a fixed list of `SparkEntry`
  * queries in a seeded order. Each query is timed in three parts: the
  * builder call (eager driver-side jobs included), physical planning, and
  * execution of an order-independent checksum over every output column,
  * which is compared with the value recorded from an oracle-verified run. */
object Queries extends AdaptiveSparkPlanHelper {
  /** Timed passes after the warm pass; each time is the best of them, which
    * discounts a pass slowed by other load on the machine. */
  val TimedPasses = 2

  /** Feature-store core (no builder work), a builder-dominated query and the
    * shared-memo family; README.md says why each is here and which were left
    * out. */
  val List: Seq[String] = Seq(
    "q14_asof_lookup", "q39_asof_join",
    "q302_blocking_metrics",
    "q419_unigram_lm", "q420_unigram_encode", "q425_unigram_report", "q459_sql_modularity")

  /** Order-independent checksum: two 32-bit halves of xxhash64 summed over
    * all rows, and the row count. Doubles enter as 10 significant digits,
    * so a last-bit difference in a parallel sum does not change it. */
  def checksumFrame(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.toIndexedSeq.map { f =>
      val c = col(s"`${f.name}`")
      f.dataType match {
        case DoubleType | FloatType => format_string("%.10g", c)
        case _ => c
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    df.select(h.as("h"))
      .agg(coalesce(sum(col("h").bitwiseAND(0xFFFFFFFFL)), lit(0L)),
        coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L)), count(lit(1)))
  }

  def checksum(df: DataFrame): String = {
    val row = checksumFrame(df).collect()(0)
    s"${row.getLong(0)},${row.getLong(1)},${row.getLong(2)}"
  }

  /** Checksums of results saved by `graft.Verify` under `dir` (one parquet
    * directory per query), for comparison with expected.tsv. */
  def printVerified(spark: org.apache.spark.sql.SparkSession, dir: String): Unit =
    List.foreach(n => println(s"queries.$n\t${checksum(spark.read.parquet(s"$dir/$n"))}"))

  final case class Timing(name: String, buildMs: Double, planMs: Double, execMs: Double,
                          scans: Int) {
    def totalMs: Double = buildMs + planMs + execMs
  }

  def one(ctx: Ctx, r: Result, name: String): Timing = {
    val fn = graft.SparkEntry.queries(name)
    val dir = ctx.stage.toString
    Trace.span(s"SparkEntry.$name") {
      var t = System.nanoTime()
      val df = Trace.span("SparkEntry.build") { fn(ctx.spark, dir) }
      val buildMs = Stats.ms(t)
      t = System.nanoTime()
      val sumDf = checksumFrame(df)
      Trace.span("SparkEntry.plan") { sumDf.queryExecution.executedPlan }
      val planMs = Stats.ms(t)
      t = System.nanoTime()
      val row = Trace.span("SparkEntry.exec") { sumDf.collect()(0) }
      val execMs = Stats.ms(t)
      val got = s"${row.getLong(0)},${row.getLong(1)},${row.getLong(2)}"
      if (ctx.record) println(s"record\tqueries.$name\t$got")
      val want = ctx.expected.getOrElse(s"queries.$name", "<none recorded>")
      r.check(got == want, s"$name checksum $got != $want")
      Timing(name, buildMs, planMs, execMs, scans(sumDf.queryExecution.executedPlan))
    }
  }

  /** In-memory (cached) relation scans in an executed plan, AQE stages included. */
  def scans(plan: SparkPlan): Int = collect(plan) { case s: InMemoryTableScanExec => s }.size

  /** Runs `body`, counting a throw as a failed operation. */
  def guarded(r: Result, name: String)(body: => Timing): Option[Timing] =
    try Some(body)
    catch { case e: Throwable => r.check(false, s"$name threw ${e.getMessage}"); None }

  def run(ctx: Ctx, r: Result): Double = {
    val order = new scala.util.Random(ctx.seed).shuffle(List)
    val t0 = System.nanoTime()
    order.foreach(n => guarded(r, n)(one(ctx, r, n)))
    val prepS = Stats.secs(t0)

    val passes = ctx.counters.section {
      (1 to TimedPasses).map { _ =>
        Trace.newTrace()
        order.flatMap(n => guarded(r, n)(one(ctx, r, n)))
      }
    }
    def best(f: Timing => Double) = passes.map(_.map(f).sum).min
    val total = best(_.totalMs) / 1000
    val perQuery = passes.flatten.groupBy(_.name).map { case (n, ts) => n -> ts.map(_.totalMs).min }
    r.e2e("work_s", total, "s")
    r.e2e("op_p50_ms", Stats.median(perQuery.values.toSeq), "ms")
    r.layer("op_p99_ms", perQuery.values.max, "ms")
    r.layer("queries_s", total, "s")
    r.layer("SparkEntry.build_ms", best(_.buildMs), "ms")
    r.layer("SparkEntry.plan_ms", best(_.planMs), "ms")
    r.layer("SparkEntry.exec_ms", best(_.execMs), "ms")
    perQuery.foreach { case (n, ms) => r.layer(s"SparkEntry.$n.ms", ms, "ms") }
    val storage = ctx.spark.sparkContext.getRDDStorageInfo
    r.layer("cache.rdds", storage.length.toDouble, "count")
    r.layer("cache.mb", storage.map(s => s.memSize + s.diskSize).sum / 1048576.0, "MB")
    r.layer("cache.scans", passes.head.map(_.scans).sum.toDouble, "count")
    prepS
  }
}

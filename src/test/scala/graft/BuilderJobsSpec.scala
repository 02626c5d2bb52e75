package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Builders construct plans; they do not run them. A job started while a
  * query's DataFrame is being built is work that its plan, the census and
  * `Metrics.run` cannot see, so this pins the job count of each builder:
  * zero, except q309, whose approximate-quantile bounds shape its plan and
  * are computed by its one Spark action. Each builder is first built and
  * run once, so that cross-query memos (the UnigramLm model behind
  * q419/q420/q425, q459's graph views) are warm, as in a benchmark's timed
  * pass; the count is taken on the second build. The memo's first build
  * is pinned too: it persists its frames lazily, so a cold build starts no
  * job either. */
class BuilderJobsSpec extends SparkSpec {

  private val expectedJobs = Seq(
    "q14_asof_lookup" -> 0, "q39_asof_join" -> 0,
    "q302_blocking_metrics" -> 0, "q309_equi_depth_hist" -> 1,
    "q312_skew_census" -> 0, "q315_encoding_planner" -> 0,
    "q319_qerror_report" -> 0, "q419_unigram_lm" -> 0,
    "q420_unigram_encode" -> 0, "q425_unigram_report" -> 0,
    "q459_sql_modularity" -> 0)

  /** Jobs started in job group `group` while `body` runs on this thread. */
  private def jobsIn(group: String)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      ListenerBusDrain(sc)
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  test("the first build of the unigram memo family starts no Spark job") {
    // a new session has no memo entry, so the first builder call trains
    val cold = spark.newSession()
    val got = Seq("q419_unigram_lm", "q420_unigram_encode", "q425_unigram_report")
      .map(name => name -> jobsIn(s"cold:$name")(SparkEntry.queries(name)(cold, sf)))
    assert(got.forall(_._2 == 0), s"cold builder job counts: $got")
  }

  test("query builders start no Spark job; q309 starts exactly one") {
    val got = expectedJobs.map { case (name, _) =>
      val build = SparkEntry.queries(name)
      build(spark, sf).collect()
      name -> jobsIn(s"build:$name")(build(spark, sf))
    }
    assert(got == expectedJobs,
      "builder job counts differ:\n" + got.zip(expectedJobs)
        .collect { case ((n, g), (_, w)) if g != w => s"  $n: $g jobs, expected $w" }
        .mkString("\n"))
  }
}

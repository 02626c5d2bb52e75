package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory: tests, `Verify`, `Bench`, `Smoke`, `Demo`,
  * `Explain` and the benchmark all take their session from here, so the
  * session that is benchmarked is the one that is verified and tested.
  * Query builders rely on the functions registered below.
  *
  * Posture (SURVEY.md §4): UTC session time zone for oracle parity, AQE on
  * (skew-join splitting + shuffle-partition coalescing at scale),
  * shuffle.partitions sized to local cores rather than the 200 default.
  * On a real cluster only master/shuffle.partitions change.
  */
object SparkEnv {
  def session(cores: Int = 4, appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // older events.parquet vintages carried TIMESTAMP(NANOS), which
      // Spark's vectorized reader rejects without this conf (it then loads
      // as a raw nanos LongType). Current fixtures ship timestamp[us] and
      // the conf is a no-op; Tables.events branches on the loaded dtype
      // and normalizes either vintage to (ts TimestampType, ts_us BIGINT).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)
    spark
  }
}

package graft

/** Scratch smoke main: read every fixture table under the sf directory
  * given as the one argument, print schema + count. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = SparkEnv.session(4, "graft-smoke")
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    for (t <- tables) {
      try {
        // Tables loaders, not raw reads: events needs the nanos-as-long
        // conf (TIMESTAMP(NANOS) is rejected by the vanilla reader)
        val df = if (t == "events") Tables.events(spark, dir)
          else Tables.parquet(spark, s"$dir/$t.parquet")
        println(s"== $t rows=${df.count()} schema=${df.schema.simpleString}")
      } catch {
        case e: Throwable => println(s"== $t FAILED: ${e.toString.take(300)}")
      }
    }
    val entry = SparkEntry.entry(spark)
    println(s"== entry rows=${entry.count()} (driver smoke contract)")
    spark.stop()
  }
}

package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: query-name regex for the dev loop (driver passes 2)
    val nameFilter: String => Boolean =
      if (args.length > 2) args(2).r.unanchored.matches _ else _ => true
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = SparkEnv.session(cpus, "graft-verify")
    new java.io.File(outDir).mkdirs()
    // BATCHED cache hygiene (r13 — was a clearCache per query): queries
    // persist shared subtrees, and the per-query clear forced every one of
    // them to replan and re-execute cold — at 465 queries that alone blew
    // the driver's correctness window (round 12's empty board). Clearing
    // every 25 queries keeps families (adjacent in sorted order) sharing
    // their persisted fragments while still bounding accumulated storage
    // blocks to a batch's worth. Results are unaffected either way: a
    // cache hit substitutes an identical-plan fragment, never a value.
    val failed = SparkEntry.queries.toSeq.filter(q => nameFilter(q._1)).sortBy(_._1)
      .zipWithIndex.flatMap { case ((name, fn), i) =>
      if (i % 25 == 0) spark.sharedState.cacheManager.clearCache()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }
    // every control char (<0x20) is escaped: a tab or CR in
    // builder-authored SQL would otherwise make a strict reader such as
    // Python's json.load reject the whole file
    def q(s: String): String = "\"" + graft.store.ServingEndpoint.Json.escape(s) + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // a failed query fails the run; the dump above is still complete for
    // every query that succeeded
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries failed: ${failed.mkString(" ")}")
      sys.exit(1)
    }
  }
}

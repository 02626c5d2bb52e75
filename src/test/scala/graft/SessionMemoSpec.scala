package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.{CountDownLatch, FutureTask}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.BlockDrop
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Fault injection for the cross-query memo: lost blocks, an external
  * `clearCache`, a second session, an input rewritten in place, and two
  * callers racing for one key. */
class SessionMemoSpec extends SparkSpec {

  private def run(session: SparkSession, name: String, dir: String = sf): Seq[String] = {
    val df = SparkEntry.queries(name)(session, dir)
    df.collect().map(_.toSeq.map(String.valueOf).mkString("\u0001")).toSeq.sorted
  }

  test("queries over a memo whose blocks were lost recompute them") {
    val encode = run(spark, "q420_unigram_encode")
    val report = run(spark, "q425_unigram_report")
    BlockDrop(spark.sparkContext)
    assert(run(spark, "q420_unigram_encode") == encode)
    assert(run(spark, "q425_unigram_report") == report)
  }

  test("clearCache between two runs rebuilds the memo exactly once") {
    val first = run(spark, "q459_sql_modularity")
    val before = SessionMemo.rebuilds.get
    spark.sharedState.cacheManager.clearCache()
    assert(run(spark, "q459_sql_modularity") == first)
    assert(SessionMemo.rebuilds.get - before == 1)
  }

  test("a second session registers its own views") {
    val names = Seq("q459_sql_modularity", "q476_sql_pav_twin")
    val first = names.map(run(spark, _))
    val other = spark.newSession()
    assert(names.map(run(other, _)) == first)
  }

  test("an input rewritten in place under the same name is rebuilt") {
    val docs = Tables.documents(spark, sf)
    def part(df: DataFrame): Path = {
      val out = Files.createTempDirectory("graft-memo-part")
      df.coalesce(1).write.mode("overwrite").parquet(out.toString + "/d")
      Files.list(Path.of(out.toString, "d")).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
    }
    val full = part(docs)
    val half = part(docs.filter("doc_id % 2 = 0"))
    val dir = Files.createTempDirectory("graft-memo-rewrite")
    val target = dir.resolve("documents.parquet")
    Files.copy(full, target)
    val before = run(spark, "q419_unigram_lm", dir.toString)
    val builds = SessionMemo.builds.get
    Files.copy(half, target, StandardCopyOption.REPLACE_EXISTING)
    val after = run(spark, "q419_unigram_lm", dir.toString)
    assert(SessionMemo.builds.get - builds == 1)
    val fresh = Files.createTempDirectory("graft-memo-fresh")
    Files.copy(half, fresh.resolve("documents.parquet"))
    assert(after == run(spark, "q419_unigram_lm", fresh.toString))
    assert(after != before)
  }

  test("two callers of one key share one build") {
    val input = spark.newSession().range(10).toDF()
    val calls = new AtomicInteger
    val builds = SessionMemo.builds.get
    def ask(): DataFrame = SessionMemo(input, "spec:race") { pin =>
      calls.incrementAndGet()
      Thread.sleep(300)
      pin(input)
    }
    val other = new FutureTask[DataFrame](() => ask())
    new Thread(other).start()
    val mine = ask()
    assert(other.get() eq mine)
    assert(calls.get == 1 && SessionMemo.builds.get - builds == 1)
  }

  test("sessions that come and go keep one entry's frames cached") {
    val counts = (1 to 3).map { n =>
      val s = spark.newSession()
      val input = s.range(1000L + n).toDF()
      SessionMemo(input, "spec:sessions")(_(input)).count()
      spark.sparkContext.getPersistentRDDs.size
    }
    assert(counts.distinct.size == 1, s"persisted RDDs after each session: $counts")
  }

  test("an entry replaced during its build leaves none of its frames cached") {
    val s = spark.newSession()
    val (a, b) = (s.range(7).toDF(), s.range(8).toDF())
    val (pinned, replaced) = (new CountDownLatch(1), new CountDownLatch(1))
    val first = new FutureTask[Seq[DataFrame]](() => SessionMemo(a, "spec:replace") { pin =>
      val early = pin(a)
      pinned.countDown()
      replaced.await()
      Seq(early, pin(a.selectExpr("id + 1 AS id")))
    })
    new Thread(first).start()
    pinned.await()
    val kept = SessionMemo(b, "spec:replace")(_(b))
    replaced.countDown()
    assert(first.get().forall(_.storageLevel == StorageLevel.NONE))
    assert(kept.storageLevel == StorageLevel.MEMORY_AND_DISK)
  }
}

package graft

import org.apache.spark.sql.types._

/** FIXTURE SCHEMA PIN — the tripwire for driver-side fixture regeneration.
  *
  * Round 5 lost 74 oracle queries and 64 tests to ONE silent fixture change
  * (events.ts flipped from parquet TIMESTAMP(NANOS) to timestamp[us] and the
  * loader's dtype assumption went stale). This spec loads every fixture
  * table at sf0.001 and asserts each dtype the engine depends on, so the
  * NEXT regeneration fails here first — one named test, not 74 queries.
  *
  * Timestamp columns are pinned to the SET the engine handles (TIMESTAMP /
  * TIMESTAMP_NTZ, both normalized via UTC-session casts; events.ts also
  * allows the legacy raw-nanos LongType vintage). The normalized
  * `Tables.events` output is pinned hard: ts_us BIGINT in a plausible
  * epoch-MICROSECOND range — a unit regression (nanos passed through, or a
  * millis division) lands orders of magnitude outside the window and fails
  * on value, not just on type.
  */
class FixtureSchemaSpec extends SparkSpec {

  private def dtypes(df: org.apache.spark.sql.DataFrame): Map[String, DataType] =
    df.schema.fields.map(f => f.name -> f.dataType).toMap

  private val tsLike: Set[DataType] = Set(TimestampType, TimestampNTZType)

  test("region/nation dims carry int32 keys and string names") {
    val r = dtypes(Tables.region(spark, sf))
    assert(r == Map("r_regionkey" -> IntegerType, "r_name" -> StringType))
    val n = dtypes(Tables.nation(spark, sf))
    assert(n == Map("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType))
  }

  test("customer/supplier/part dims match the pinned schema") {
    assert(dtypes(Tables.customer(spark, sf)) == Map(
      "c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType))
    assert(dtypes(Tables.supplier(spark, sf)) == Map(
      "s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType))
    assert(dtypes(Tables.part(spark, sf)) == Map(
      "p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType,
      "p_size" -> IntegerType, "p_retailprice" -> DoubleType))
  }

  test("orders/lineitem facts match the pinned schema (ts columns either TS type)") {
    val o = dtypes(Tables.orders(spark, sf))
    assert(o - "o_orderdate" == Map(
      "o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderpriority" -> StringType))
    assert(tsLike.contains(o("o_orderdate")), s"o_orderdate: ${o("o_orderdate")}")
    val l = dtypes(Tables.lineitem(spark, sf))
    assert(l - "l_shipdate" == Map(
      "l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType))
    assert(tsLike.contains(l("l_shipdate")), s"l_shipdate: ${l("l_shipdate")}")
  }

  test("documents/embeddings match the pinned schema") {
    assert(dtypes(Tables.documents(spark, sf)) == Map(
      "doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
      "source" -> StringType, "n_chars" -> LongType))
    val e = dtypes(Tables.embeddings(spark, sf))
    assert(e("vec_id") == LongType && e("label") == IntegerType)
    assert(e("embedding") match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }, s"embedding: ${e("embedding")}")
  }

  test("documents content contract: doc_id unique, text non-null") {
    // several cross-engine identities lean on these (e.g. tfidf derives
    // n_docs as countDistinct(doc_id) over the exploded tf relation, which
    // equals the oracle's count(*) FROM documents ONLY if no doc has NULL
    // text and no doc_id repeats — see ext/TrainPrep.tfidf). Pin them so a
    // generator change breaks HERE, by name, not as a silent hash mismatch
    import org.apache.spark.sql.functions.{col, count, countDistinct, lit, max, size, split, sum, when}
    val d = Tables.documents(spark, sf)
    val stats = d.agg(
      count(lit(1)).as("n"),
      countDistinct(col("doc_id")).as("nd"),
      sum(when(col("text").isNull, 1L).otherwise(0L)).as("nulls"),
      max(size(split(col("text"), " "))).as("max_toks"))
      .head()
    assert(stats.getLong(0) == stats.getLong(1), "doc_id must be unique")
    assert(stats.getLong(2) == 0L, "text must be non-null")
    // the DuckDB oracles enumerate token positions via unnest(range(1, 1000))
    // (q106's grams, q418's bigrams, the shingle CTEs) while the Spark side
    // is uncapped via sequence(1, size(w)); a document past 1000 tokens would
    // silently diverge cross-engine, so a generator change must break HERE
    assert(stats.getInt(3) < 1000,
      s"documents.text has ${stats.getInt(3)} tokens somewhere — the " +
        "oracles' unnest(range(1, 1000)) position bound no longer covers it")
  }

  test("raw events.ts is one of the vintages the loader handles") {
    val raw = spark.read.parquet(s"$sf/events.parquet")
    val t = raw.schema("ts").dataType
    assert(t == LongType || tsLike.contains(t),
      s"events.ts loaded as $t — Tables.events has no branch for this; " +
        "fix the loader BEFORE anything downstream")
    assert(dtypes(raw) - "ts" == Map(
      "event_id" -> LongType, "user_id" -> LongType,
      "event_type" -> StringType, "value" -> DoubleType,
      "props" -> StringType))
  }

  test("normalized events exposes ts_us epoch-MICROS bigint + TimestampType ts") {
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, sf)
    assert(ev.schema("ts_us").dataType == LongType)
    assert(ev.schema("ts").dataType == TimestampType)
    // unit pin: epoch micros for 2000-01-01 .. 2035-01-01. Nanos passed
    // through (~1e18) or a millis division (~1e12) both land far outside.
    val Array(row) = ev.agg(min(col("ts_us")), max(col("ts_us"))).collect()
    val (lo, hi) = (row.getLong(0), row.getLong(1))
    assert(lo > 946684800000000L && hi < 2051222400000000L,
      s"ts_us range [$lo, $hi] is not epoch microseconds")
    // ts and ts_us agree (ts is derived, but pin the invariant)
    assert(ev.filter(unix_micros(col("ts")) =!= col("ts_us")).limit(1)
      .collect().isEmpty)
  }

  /** [[Tables.parquet]] must read `path` exactly as `spark.read.parquet`
    * does: the same schema, and analyzed plans that give the same result
    * (so a cached fragment built through one is found through the other). */
  private def assertSameRead(path: String): Unit = {
    val want = spark.read.parquet(path)
    val got = Tables.parquet(spark, path)
    assert(got.schema == want.schema, s"$path: schema")
    assert(got.queryExecution.analyzed.sameResult(want.queryExecution.analyzed),
      s"$path: analyzed plans differ\n${got.queryExecution.analyzed}\n" +
        s"${want.queryExecution.analyzed}")
  }

  test("Tables.parquet reads every fixture table as spark.read.parquet does") {
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
      .foreach(t => assertSameRead(s"$sf/$t.parquet"))
  }

  test("Tables.parquet matches spark.read.parquet on gold, prediction-log " +
    "and streaming store directories") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions.{col, lit}
    import graft.store.FeatureStore
    import graft.streaming.StreamingFeatures
    val dir = Files.createTempDirectory("parquet_read").toString
    val gold = FeatureStore.buildGold(spark, sf)
    FeatureStore.writeGold(gold, s"$dir/gold")
    assertSameRead(s"$dir/gold")
    FeatureStore.logPredictions(gold.select(col("user_id"), col("ts_us"),
      lit(0.5).as("probability"), lit(1).as("prediction")), s"$dir/preds")
    assertSameRead(s"$dir/preds")

    val events = Files.createDirectory(java.nio.file.Paths.get(s"$dir/events"))
    Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      events.resolve("part-000.parquet"))
    // each sink's store after one AvailableNow batch over the staged file
    def oneBatch(store: String, q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      q.processAllAvailable(); q.stop()
      assertSameRead(store)
    }
    val ev = events.toString
    oneBatch(s"$dir/bitmap", StreamingFeatures.streamSketchUpsert(spark, ev, s"$dir/bitmap"))
    oneBatch(s"$dir/kll", StreamingFeatures.streamKllUpsert(spark, ev, s"$dir/kll"))
    oneBatch(s"$dir/theta", StreamingFeatures.streamThetaUpsert(spark, ev, s"$dir/theta"))
  }

  test("Tables.parquet on an empty or missing path throws what " +
    "spark.read.parquet throws") {
    val empty = java.nio.file.Files.createTempDirectory("parquet_empty").toString
    for (path <- Seq(empty, s"$empty/missing")) {
      val want = intercept[Exception](spark.read.parquet(path))
      val got = intercept[Exception](Tables.parquet(spark, path))
      assert(got.getClass == want.getClass, s"$path: ${got.getMessage}")
    }
  }
}

package graft

import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.ext.TextAnalysis

/** Custom Catalyst function semantics: the imperative distinct-count agg
  * against collect_set, the codegen'd fingerprint against the declarative
  * formulation, SQL registration, and window use. */
class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("distinct_count_exact equals size(collect_set) as plain aggregate") {
    GraftFunctions.register(spark)
    val df = Seq((1, "a"), (1, "b"), (1, "a"), (2, "z")).toDF("k", "v")
    val got = df.groupBy($"k")
      .agg(GraftFunctions.distinctCountExact($"v").as("d"))
      .orderBy($"k").select($"d").as[Long].collect()
    assert(got.toSeq == Seq(2L, 1L))
  }

  test("distinct_count_exact over a range frame equals collect_set size") {
    GraftFunctions.register(spark)
    val ev = Tables.events(spark, sf)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts_us")
      .rangeBetween(-86400000000L, 0)
    val both = ev.select($"user_id", $"event_id",
      GraftFunctions.distinctCountExact($"props").over(w).as("custom"),
      size(collect_set($"props").over(w)).cast("long").as("builtin"))
    assert(both.filter($"custom" =!= $"builtin").count() == 0)
  }

  test("distinct_count_exact ignores nulls") {
    GraftFunctions.register(spark)
    val df = Seq(Some("a"), None, Some("a"), Some("b")).toDF("v")
    val got = df.agg(GraftFunctions.distinctCountExact($"v")).as[Long].collect()
    assert(got.toSeq == Seq(2L))
  }

  test("ascii_fingerprint (codegen) equals the declarative fingerprint") {
    GraftFunctions.register(spark)
    val docs = Tables.documents(spark, sf)
    val native = docs.select($"doc_id",
      GraftFunctions.asciiFingerprint($"text").as("fp"))
    val decl = TextAnalysis.fingerprintDeclarative(docs)
      .withColumnRenamed("fp", "fp2")
    assert(native.join(decl, Seq("doc_id"))
      .filter($"fp" =!= $"fp2").count() == 0)
  }

  test("q84 regex expressions extract digits (fixtures are digit-free)") {
    val df = Seq((1L, "order 42 and 7 items"), (2L, "no digits here"))
      .toDF("doc_id", "text")
    val out = df.select($"doc_id",
      regexp_extract($"text", "[0-9]+", 0).as("first_num"),
      size(expr("regexp_extract_all(text, '[0-9]+', 0)")).cast("long").as("n_nums"),
      regexp_extract($"text", "([a-z]+) ([0-9]+)", 2).as("num_after_word"))
      .orderBy($"doc_id").collect()
    assert(out(0).getString(1) == "42" && out(0).getLong(2) == 2L &&
      out(0).getString(3) == "42")
    assert(out(1).getString(1) == "" && out(1).getLong(2) == 0L &&
      out(1).getString(3) == "")
  }

  test("graft_word_stats equals the declarative size/aggregate/filter forms") {
    GraftFunctions.register(spark)
    val docs = Tables.documents(spark, sf)
      // adversarial extras: empty text, consecutive/trailing spaces, stopwords
      .select($"doc_id", $"text").unionByName(Seq(
        (90001L, ""), (90002L, "a  b "), (90003L, "the the a of"),
        (90004L, "x"),
        // multi-byte + surrogate-pair codepoints: length() counts
        // codepoints, and the native pass must agree
        (90005L, "héllo wörld 😀 café")).toDF("doc_id", "text"))
    val stops = Seq("the", "a", "of", "and", "to")
    val native = docs.select($"doc_id",
      GraftFunctions.wordStats($"text", stops).as("ws"))
      .select($"doc_id", $"ws.n_tokens", $"ws.sum_token_len",
        $"ws.n_unique", $"ws.n_stop")
    val decl = docs.withColumn("w", split($"text", " ")).select(
      $"doc_id",
      size($"w").cast("long").as("n_tokens"),
      aggregate(transform($"w", x => length(x)), lit(0L),
        (acc, x) => acc + x).as("sum_token_len"),
      size(array_distinct($"w")).cast("long").as("n_unique"),
      size(filter($"w", x => x.isin(stops: _*))).cast("long").as("n_stop"))
    assert(native.count() == decl.count())
    assert(native.except(decl).count() == 0 && decl.except(native).count() == 0)
  }

  test("graft_dot (codegen) is bit-identical to the declarative fold, mixed types") {
    GraftFunctions.register(spark)
    val emb = Tables.embeddings(spark, sf).limit(100)
    val both = emb.select(
      GraftFunctions.graftDot($"embedding", $"embedding").as("native"),
      graft.ext.Similarity.dotDeclarative($"embedding", $"embedding").as("decl"))
    assert(both.filter($"native" =!= $"decl").count() == 0)
    // mixed float-array × double-array (the hyperplane case)
    val planes = emb.select($"embedding",
      array((0 until 64).map(i => lit(i * 0.01 - 0.3)): _*).as("plane"))
    val mixed = planes.select(
      GraftFunctions.graftDot($"embedding", $"plane").as("native"),
      graft.ext.Similarity.dotDeclarative($"embedding", $"plane").as("decl"))
    assert(mixed.filter($"native" =!= $"decl").count() == 0)
  }

  test("graft_dot null semantics match the declarative fold") {
    GraftFunctions.register(spark)
    // length mismatch → null; null element → null; null array → null —
    // exactly what aggregate(zip_with(...)) produces
    val df = Seq(
      (Array[Double](1, 2), Array[Double](3, 4)),   // ok → 11.0
      (Array[Double](1, 2), Array[Double](3))       // mismatch → null
    ).toDF("a", "b")
    val got = df.select(GraftFunctions.graftDot($"a", $"b").as("d"),
      graft.ext.Similarity.dotDeclarative($"a", $"b").as("decl")).collect()
    assert(got(0).getDouble(0) == 11.0 && !got(0).isNullAt(1))
    assert(got(1).isNullAt(0) && got(1).isNullAt(1))
    val withNullElem = spark.sql(
      "SELECT graft_dot(array(1.0D, CAST(NULL AS DOUBLE)), array(1.0D, 2.0D)) AS d")
    assert(withNullElem.collect()(0).isNullAt(0))
  }

  test("bitmap_and_count(a,b) equals bitmap_count(bitmap_and(a,b)), " +
    "3-way chain too") {
    import GraftFunctions.{bitmapAnd, bitmapAndCount, bitmapCount, bitmapSketch}
    // 70000 sits on a second 64 Ki-bit page
    val df = Seq(1L, 2L, 3L, 70000L).map(("a", _)) ++
      Seq(2L, 3L, 4L, 70000L).map(("b", _)) ++
      Seq(3L, 5L, 70000L).map(("c", _))
    val sets = df.toDF("g", "v")
    def bm(g: String) = sets.filter($"g" === g).agg(bitmapSketch($"v").as(g))
    val ab = bitmapAnd($"a", $"b")
    val got = bm("a").crossJoin(bm("b")).crossJoin(bm("c"))
      .select(
        bitmapAndCount($"a", $"b"), bitmapCount(ab),
        bitmapAndCount(ab, $"c"), bitmapCount(bitmapAnd(ab, $"c"))).head()
    assert(got.getLong(0) === 3L && got.getLong(1) === 3L) // {2, 3, 70000}
    assert(got.getLong(2) === 2L && got.getLong(3) === 2L) // {3, 70000}
  }

  test("q231 Venn counts on three audiences that differ") {
    // the fixtures give every viewer a click and a purchase, so all seven
    // cells are equal there; on these sets a bitmap AND that returned its
    // left input would read n_abc = 2 instead of 1
    val raw = spark.read.parquet(s"$sf/events.parquet")
    val audiences = Seq("view" -> Seq(1L, 2L, 3L, 4L, 5L),
      "click" -> Seq(2L, 3L, 6L), "purchase" -> Seq(3L, 5L, 6L, 7L))
    val dir = java.nio.file.Files.createTempDirectory("venn3").toString
    audiences.flatMap { case (t, users) => users.map((t, _)) }
      .toDF("t", "u").crossJoin(raw.limit(1))
      .withColumn("event_type", $"t")
      .withColumn("user_id", $"u".cast(raw.schema("user_id").dataType))
      .select(raw.columns.map(col).toSeq: _*)
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("q231_event_venn3")(spark, dir).head()
    assert((0 until 7).map(got.getLong) == Seq(5L, 3L, 4L, 2L, 2L, 2L, 1L))
  }

  test("typed Aggregator (ExactMoments) equals the SQL sufficient stats " +
    "and is merge-order exact") {
    import graft.functions.TypedAggs
    val cents = Tables.events(spark, sf)
      .filter($"event_type" === "purchase")
      .select(expr("CAST(round(value * 100) AS BIGINT)").as("v").as[Long])
    val typed = cents.select(
      new TypedAggs.ExactMoments().toColumn.name("m")).head()
    val sql = cents.agg(
      count(lit(1)).as("n"), sum($"v").as("s"),
      (count(lit(1)) * sum($"v" * $"v") - sum($"v") * sum($"v")).as("m2"))
      .head()
    assert(typed.n === sql.getLong(0))
    assert(typed.sum === sql.getLong(1))
    assert(typed.m2Num === sql.getLong(2))
    // partial merges in any split are exact (integer stats)
    val agg = new TypedAggs.ExactMoments()
    val xs = Seq(5L, -3L, 10L, 0L, 7L)
    val whole = xs.foldLeft(agg.zero)(agg.reduce)
    val (l, r) = xs.splitAt(2)
    val merged = agg.merge(l.foldLeft(agg.zero)(agg.reduce),
      r.foldLeft(agg.zero)(agg.reduce))
    assert(whole === merged)
  }

  test("custom functions are callable from SQL after registration") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT ascii_fingerprint('hello') AS fp").as[Long].collect()(0)
    assert(r > 0)
  }
}

package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.Expression

/** Registration + Column-level access for the custom Catalyst functions.
  *
  * `register(spark)` installs every function on a built session
  * (idempotent); `SparkEnv.session` calls it on every session it returns.
  * Column helpers go through `call_function`, so `.over(window)` etc. work
  * like any built-in.
  */
object GraftFunctions {

  private val fns: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "distinct_count_exact" -> (exprs => DistinctCountAgg(exprs.head)),
    "ascii_fingerprint" -> (exprs => AsciiFingerprint(exprs.head)),
    "graft_dot" -> (exprs => ArrayDot(exprs(0), exprs(1))),
    "jaro_winkler" -> (exprs => JaroWinkler(exprs(0), exprs(1))),
    "graft_word_stats" -> (exprs => WordStats(exprs.head, stopwordArg(exprs))),
    "bitmap_sketch" -> (exprs => BitmapSketchAgg(exprs.head)),
    "bitmap_merge_count" -> (exprs => BitmapMergeCountAgg(exprs.head)),
    "bitmap_merge" -> (exprs => BitmapMergeAgg(exprs.head)),
    "bitmap_and_count" -> (exprs => BitmapAndCount(exprs(0), exprs(1))),
    "bitmap_count" -> (exprs => BitmapCount(exprs.head)),
    "bitmap_contains" -> (exprs => BitmapContains(exprs(0), exprs(1))),
    "bitmap_and" -> (exprs => BitmapAnd(exprs(0), exprs(1))),
    "cms_sketch" -> (exprs => CmsSketchAgg(exprs.head)),
    "kll_quantiles" -> (exprs => KllQuantilesAgg(exprs.head)),
    "char_grams" -> (exprs => CharGrams(exprs(0), exprs(1))),
    "kll_sketch" -> (exprs => KllSketchAgg(exprs.head)),
    "kll_merge_quantiles" -> (exprs => KllMergeQuantilesAgg(exprs.head)),
    "kll_merge" -> (exprs => KllMergeAgg(exprs.head)),
    "kll_blob_quantiles" -> (exprs => KllBlobQuantiles(exprs.head)),
    "kll_blob_n" -> (exprs => KllBlobN(exprs.head)))

  /** Second arg of graft_word_stats is a foldable array of string literals
    * (the stopword vocabulary) — evaluated once at resolution time. */
  private def stopwordArg(exprs: Seq[Expression]): Seq[String] =
    if (exprs.length < 2) Seq.empty
    else {
      require(exprs(1).foldable,
        "graft_word_stats stopword list must be a literal array of strings")
      require(exprs(1).dataType match {
        case org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType, _) => true
        case org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.NullType, _) => true // array() literal
        case _ => false
      }, "graft_word_stats stopword list must be a literal array of " +
        s"strings, got type ${exprs(1).dataType}")
      exprs(1).eval() match {
        case null => Seq.empty
        case a: org.apache.spark.sql.catalyst.util.ArrayData =>
          (0 until a.numElements())
            .filterNot(a.isNullAt) // null entries can't be stopwords
            .map(i => a.getUTF8String(i).toString)
        case other => throw new IllegalArgumentException(
          "graft_word_stats stopword list must be a literal array of " +
            s"strings, got: $other")
      }
    }

  def register(spark: SparkSession): Unit =
    fns.foreach { case (name, builder) =>
      val registry = spark.sessionState.functionRegistry
      // Spark ships a built-in bitmap_count over its own bitmap format;
      // graft's replaces it on purpose, so drop it first rather than log
      // the "replaced a previously registered function" WARN that flags
      // a second registration
      val id = FunctionIdentifier(name)
      if (FunctionRegistry.builtin.functionExists(id)) registry.dropFunction(id)
      registry.createOrReplaceTempFunction(name, builder, "built-in")
    }

  def distinctCountExact(c: Column): Column =
    org.apache.spark.sql.functions.call_function("distinct_count_exact", c)

  def asciiFingerprint(c: Column): Column =
    org.apache.spark.sql.functions.call_function("ascii_fingerprint", c)

  def graftDot(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_dot", a, b)

  def jaroWinkler(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("jaro_winkler", a, b)

  def bitmapSketch(c: Column): Column =
    org.apache.spark.sql.functions.call_function("bitmap_sketch", c)

  def bitmapMergeCount(c: Column): Column =
    org.apache.spark.sql.functions.call_function("bitmap_merge_count", c)

  def bitmapMerge(c: Column): Column =
    org.apache.spark.sql.functions.call_function("bitmap_merge", c)

  def bitmapAndCount(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("bitmap_and_count", a, b)

  def bitmapCount(c: Column): Column =
    org.apache.spark.sql.functions.call_function("bitmap_count", c)

  def bitmapContains(bitmap: Column, pos: Column): Column =
    org.apache.spark.sql.functions.call_function("bitmap_contains", bitmap, pos)

  def bitmapAnd(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("bitmap_and", a, b)

  def cmsSketch(c: Column): Column =
    org.apache.spark.sql.functions.call_function("cms_sketch", c)

  /** Mergeable KLL quantile sketch — ARRAY<DOUBLE> of estimates at
    * [[KllCodec.Quantiles]]. See KllAgg.scala for the determinism and
    * error-bound contract. */
  def kllQuantiles(c: Column): Column =
    org.apache.spark.sql.functions.call_function("kll_quantiles", c)

  def kllSketch(c: Column): Column =
    org.apache.spark.sql.functions.call_function("kll_sketch", c)

  def kllMergeQuantiles(c: Column): Column =
    org.apache.spark.sql.functions.call_function("kll_merge_quantiles", c)

  /** Blob→blob KLL merge aggregate — see [[KllMergeAgg]] (NOT idempotent,
    * unlike bitmapMerge: replays double the sketch's weight). */
  def kllMerge(c: Column): Column =
    org.apache.spark.sql.functions.call_function("kll_merge", c)

  /** Scalar quantile read of a stored KLL blob (one row per rollup cell). */
  def kllBlobQuantiles(c: Column): Column =
    org.apache.spark.sql.functions.call_function("kll_blob_quantiles", c)

  /** Scalar total-weight read of a stored KLL blob. */
  def kllBlobN(c: Column): Column =
    org.apache.spark.sql.functions.call_function("kll_blob_n", c)

  /** Point estimate from a [[CmsSketchAgg]] sketch — fully declarative
    * (md5-prefix double hashing + `element_at`, mirroring CmsCodec exactly),
    * so probes stay in whole-stage codegen and the DuckDB oracle replays
    * them with the same integer arithmetic. */
  def cmsEstimate(sketch: Column, key: Column): Column = {
    import org.apache.spark.sql.functions._
    val h = conv(substring(md5(key), 1, 12), 16, 10).cast("long")
    val h1 = h % 16777216L
    val h2 = shiftright(h, 24).bitwiseOR(lit(1L))
    least((0 until CmsCodec.Depth).map { j =>
      val bucket = (h1 + lit(j.toLong) * h2) % CmsCodec.Width
      element_at(sketch, (lit(j * CmsCodec.Width) + bucket + 1L).cast("int"))
    }: _*)
  }

  def wordStats(c: Column, stopwords: Seq[String]): Column =
    org.apache.spark.sql.functions.call_function("graft_word_stats", c,
      org.apache.spark.sql.functions.array(
        stopwords.map(org.apache.spark.sql.functions.lit): _*))
}

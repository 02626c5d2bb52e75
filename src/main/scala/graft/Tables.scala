package graft

import scala.util.control.NonFatal
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Typed loaders for the driver fixture tables (TESTDATA.md / FIXTURES.md §A).
  *
  * Every reader takes the sf directory explicitly so the same query code runs
  * at sf0.001 (smoke), sf0.01 (correctness) and sf0.1 (bench) — and, on a real
  * cluster, at any path. Parquet scans get partition/column pruning and filter
  * pushdown from Catalyst for free; do NOT cache here (callers decide).
  *
  * Reference data-model mapping: SURVEY.md §1.3 — the fixtures stand in for
  * the reference's bronze `orders` table (reference:
  * jobs/ingest_xlsx_to_parquet.py:14-42) and gold feature view.
  */
object Tables {
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  /** events.parquet has shipped with two `ts` physical types across fixture
    * vintages: parquet TIMESTAMP(NANOS) (read as a raw nanos long via the
    * legacy conf `SparkEnv.session` sets, since Spark's reader otherwise
    * rejects it) and
    * timestamp[us] (reads as TIMESTAMP / TIMESTAMP_NTZ). We branch on the
    * loaded dtype and normalize both to the same two columns: `ts_us`
    * (epoch microseconds, BIGINT — integer arithmetic, never double
    * division: 1.7e18 nanos exceeds double's 2^53 mantissa) and a proper
    * TimestampType `ts`. The session runs in UTC, so casting an NTZ value
    * to TIMESTAMP is an identity on the instant. All window arithmetic
    * downstream is integer math on `ts_us`, which the DuckDB oracle
    * reproduces exactly with `epoch_us(ts)`. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros, unix_micros}
    import org.apache.spark.sql.types.LongType
    val raw = load(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType => // TIMESTAMP(NANOS) vintage, loaded as raw nanos
        raw
          .withColumn("ts_us", expr("ts DIV 1000L"))
          .withColumn("ts", timestamp_micros(col("ts_us")))
      case _ => // timestamp[us] vintage (TIMESTAMP or TIMESTAMP_NTZ)
        raw
          .withColumn("ts", col("ts").cast("timestamp"))
          .withColumn("ts_us", unix_micros(col("ts")))
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "documents", fanout = true)
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** `spark.read.parquet(path)` without its schema-inference Spark job.
    *
    * Spark infers a parquet schema from ONE footer — a summary file if the
    * path has one, else the first data file in path order — but it reads
    * that footer inside a one-task job (`SchemaMergeUtils
    * .mergeSchemasInParallel` always runs `parallelize(...).collect()`),
    * which costs tens of milliseconds per read and runs while a query
    * builder is still constructing its plan. This picks the same file,
    * converts its footer in-process with Spark's own conversion and
    * reads with that schema; the schema and the analyzed plan equal those
    * of `spark.read.parquet` (FixtureSchemaSpec pins both) as long as
    * schema merging (`spark.sql.parquet.mergeSchema`, off by default) stays
    * off. Whenever the footer cannot be resolved here — no data file, a
    * missing path, an unreadable footer — it defers to
    * `spark.read.parquet`, so the same result or exception surfaces. */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val schema = try footerFile(spark, path).map(footerSchema(spark, _))
      catch { case NonFatal(_) => None }
    schema.fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
  }

  /** The file whose footer Spark's inference reads: `_common_metadata`,
    * else `_metadata`, else the first data file in path order, over the
    * leaves Spark's file index lists (hidden `.`/`_` names skipped, except
    * the summaries and `_k=v` partition directories). */
  private def footerFile(spark: SparkSession, path: String): Option[FileStatus] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    def listed(p: Path): Boolean = {
      val n = p.getName
      val hidden = (n.startsWith("_") && !n.contains("=")) || n.startsWith(".") ||
        n.endsWith("._COPYING_")
      !hidden || n.startsWith("_common_metadata") || n.startsWith("_metadata")
    }
    def leaves(st: FileStatus): Seq[FileStatus] =
      if (!st.isDirectory) Seq(st)
      else fs.listStatus(st.getPath).toSeq.filter(c => listed(c.getPath)).flatMap(leaves)
    val files = leaves(fs.getFileStatus(root)).sortBy(_.getPath.toString)
    val summaries = Seq("_common_metadata", "_metadata")
    summaries.flatMap(n => files.find(_.getPath.getName == n)).headOption
      .orElse(files.find(f => !summaries.contains(f.getPath.getName)))
  }

  /** `file`'s footer as the schema Spark's inference derives from it: the
    * converter settings of `ParquetFileFormat.mergeSchemasInParallel`'s
    * footer reader, then its `readSchemaFromFooter`. */
  private def footerSchema(spark: SparkSession, file: FileStatus): StructType = {
    val conf = spark.sessionState.conf
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = conf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
      nanosAsLong = conf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, spark.sessionState.newHadoopConf()),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer), converter)
  }

  /** Below this size a relation is dimension-like: one task reads it
    * faster than 32 tasks can be scheduled — never fanned out. */
  private val FanoutMinBytes: Long = 64L << 10

  /** One fs stat per table path for the session lifetime (the value is a
    * property of the fixture file, not of the query). */
  private val sizeCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private def tableBytes(spark: SparkSession, path: String): Long =
    sizeCache.computeIfAbsent(path, { p =>
      try {
        val hp = new org.apache.hadoop.fs.Path(p)
        val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        java.lang.Long.valueOf(fs.getContentSummary(hp).getLength)
      } catch { case _: Throwable => java.lang.Long.valueOf(-1L) }
    }).longValue()

  /** SCALE-ADAPTIVE SCAN FAN-OUT for the document corpus (optimization
    * guide §2.2/§6, r13).
    *
    * The fixture parquet files are single-row-group, so a scan is ONE task
    * no matter how many cores the session has. For the DOCUMENTS corpus —
    * whose consumers do super-linear per-byte CPU work in the first stage
    * (per-position md5 k-grams, per-doc suffix sorts, HOF folds: the
    * text/multimodal family) — that serialized the dominant cost on one
    * core: measured at sf0.1/local[32], q281 winnowing ran 4.6 s with 31
    * cores idle, the row-local q434 suffix sort 8.4 s. With the fan-out:
    * 0.7 s and 1.0 s.
    *
    * The fan-out is derived from INPUT SIZE, not a constant: it fires only
    * when the scan cannot reach the session's parallelism on its own
    * (estimated splits = ceil(bytes / maxPartitionBytes) <
    * defaultParallelism) and the file is big enough to matter
    * (≥ [[FanoutMinBytes]]); then ONE round-robin
    * repartition(defaultParallelism) is appended. repartition-by-number is
    * exempt from AQE coalescing, so it survives to execution. On a
    * production-scale corpus the split estimate exceeds the core count and
    * the loader is a pure scan again — no shuffle is ever added to a big
    * input. Filter pushdown and column pruning pass through a Repartition
    * node (PushedFilters / ReadSchema verified unchanged, plans/r13/).
    *
    * The RELATIONAL tables deliberately do NOT fan out (measured A/B over
    * a 34-query sf0.1 subset, this round): their consumers are join/agg
    * shaped, where the first exchange already provides reduce-side
    * parallelism, and the extra exchange plus 32-partition persisted
    * fragments multiplied tiny-stage scheduling instead — q250 snowflake
    * 3.6 s → 9.1 s, q218 DBSCAN 5.2 s → 7.4 s, and a ~0.3–1 s tax on most
    * simple aggregation queries (q03, q12, q132, q138, q257). The
    * documents-only split keeps every measured win and none of the
    * regressions. */
  private def load(spark: SparkSession, dir: String, name: String,
                   fanout: Boolean = false): DataFrame = {
    val path = s"$dir/$name.parquet"
    val df = parquet(spark, path)
    if (!fanout) return df
    val bytes = tableBytes(spark, path)
    val par = spark.sparkContext.defaultParallelism
    val maxSplit = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.files.maxPartitionBytes", "128m"))
    val splits = if (maxSplit <= 0) Long.MaxValue
                 else (bytes + maxSplit - 1) / maxSplit
    if (bytes >= FanoutMinBytes && splits < par) df.repartition(par) else df
  }
}

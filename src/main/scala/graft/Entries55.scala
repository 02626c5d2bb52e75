package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ExtEntries.Q

/** Round-8 batch 5: Catalyst Generator UDTF (char_grams), Efraimidis–
  * Spirakis weighted sampling without replacement, dictionary-encoding
  * planner, watermark sizing table. */
object Entries55 {

  /** Candidate watermark delays in µs (1 m, 10 m, 1 h, 6 h, 24 h). */
  private val Delays: Seq[Long] = Seq(
    60000000L, 600000000L, 3600000000L, 21600000000L, 86400000000L)

  /** q314's quantized reservoir key floor(1e6·ln((h+1)/2^48)), h = 48-bit
    * md5 prefix of doc_id — shared with KnifeEdgeSpec so the knife-edge
    * probe audits the EXACT expression the query ships (Entries68.chi2Str
    * precedent): a grain or formula edit here changes both sides at once. */
  private[graft] def q314LnuQ: org.apache.spark.sql.Column = {
    val h = conv(substring(md5(col("doc_id").cast("string")), 1, 12),
      16, 10).cast("long")
    floor(log((h + 1L).cast("double") / lit(281474976710656.0)) * 1e6)
      .cast("long")
  }

  /** The pre-floor scaled term of [[q314LnuQ]], for the knife-edge
    * boundary-distance scan. Keep in lockstep with q314LnuQ. */
  private[graft] def q314PreFloorTerm: org.apache.spark.sql.Column = {
    val h = conv(substring(md5(col("doc_id").cast("string")), 1, 12),
      16, 10).cast("long")
    log((h + 1L).cast("double") / lit(281474976710656.0)) * 1e6
  }

  val all: Seq[Q] = Seq(

    // CHARACTER 4-GRAM counts through the `char_grams` Catalyst Generator
    // (functions/CharGrams.scala) — the UDTF surface of SURVEY §2.7: the
    // generator streams one row per gram inside GenerateExec (explode's
    // execution path) with NO per-row intermediate array, unlike a
    // split+posexplode formulation. Top-50 grams by count with pinned ties.
    Q("q313_chargram_counts",
      (s, d) => {
        Tables.documents(s, d)
          .select(col("doc_id"), expr("char_grams(text, 4)"))
          .groupBy(col("gram")).agg(count(lit(1)).as("n_occ"),
            countDistinct(col("doc_id")).as("n_docs"))
          .orderBy(col("n_occ").desc, col("gram").asc)
          .limit(50)
      },
      Some("""WITH g AS (
             |  SELECT doc_id, substr(text, CAST(i AS INT), 4) AS gram
             |  FROM documents,
             |       (SELECT unnest(range(1, 3000)) AS i) t
             |  WHERE i <= len(text) - 3)
             |SELECT gram, CAST(count(*) AS BIGINT) AS n_occ,
             |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
             |FROM g GROUP BY 1
             |ORDER BY n_occ DESC, gram ASC LIMIT 50""".stripMargin)),

    // EFRAIMIDIS–SPIRAKIS weighted sampling WITHOUT replacement (2006):
    // per source, the 20 docs with the largest u^(1/w) keys, w = n_chars —
    // the quality-weighted subsample an LLM curation pass draws when it
    // cannot afford replacement bias. Key comparison runs on
    // floor(1e6·ln(u))/w — ln is quantized to an integer FIRST, the
    // division is IEEE on exact ints, and ties pin by doc_id; u comes from
    // the 48-bit md5 of the doc id ((h+1)/2^48 — a power-of-two division,
    // exact in double). One partitioned window, WindowGroupLimit-capped.
    Q("q314_weighted_reservoir",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .filter(col("n_chars") >= 1L)
        val keyed = docs.select(col("source"), col("doc_id"),
          col("n_chars").as("w"), q314LnuQ.as("lnu_q"))
          .withColumn("key", col("lnu_q").cast("double") / col("w"))
        keyed.withColumn("rn", row_number().over(
          Window.partitionBy(col("source"))
            .orderBy(col("key").desc, col("doc_id").asc)))
          .filter(col("rn") <= 20)
          .select(col("source"), col("doc_id"), col("w"),
            col("rn").cast("long").as("rn"))
      },
      Some("""WITH k AS (
             |  SELECT source, doc_id, n_chars AS w,
             |    CAST(floor(ln(CAST(h + 1 AS DOUBLE) / 281474976710656.0)
             |      * 1e6) AS BIGINT) AS lnu_q
             |  FROM (SELECT *,
             |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
             |      AS h
             |  FROM documents WHERE n_chars >= 1)),
             |r AS (
             |  SELECT source, doc_id, w,
             |    row_number() OVER (PARTITION BY source
             |      ORDER BY CAST(lnu_q AS DOUBLE) / w DESC, doc_id ASC)
             |      AS rn
             |  FROM k)
             |SELECT source, doc_id, w, CAST(rn AS BIGINT) AS rn
             |FROM r WHERE rn <= 20""".stripMargin)),

    // DICTIONARY-ENCODING PLANNER — the storage-layout decision a columnar
    // writer makes per column: raw size vs dictionary size (distinct
    // payload + n · ⌈log2 ndv⌉ bits of codes), from one aggregation per
    // column over exact integers; ⌈log2⌉ is bit-math (length(bin(ndv−1))),
    // no float log. The engine-statistics sibling of the zone map (q143)
    // and equi-depth histogram (q309).
    Q("q315_encoding_planner",
      (s, d) => {
        // one lazy plan, no job while building: a one-row aggregate per
        // column, unioned; a string column's row comes from ONE group-by
        // of its values (n = Σ group sizes, raw = Σ length · size, the
        // dictionary payload = Σ length over the distinct values)
        val li = Tables.lineitem(s, d)
        def intCol(name: String) =
          li.agg(count(lit(1)).as("n_rows"), countDistinct(col(name)).as("ndv"))
            .select(lit(name).as("col_name"), col("n_rows"), col("ndv"),
              (col("n_rows") * 8L).as("raw_bytes"),
              (col("ndv") * 8L).as("dict_payload"))
        def strCol(name: String) = {
          val len = length(col(name)).cast("long")
          li.groupBy(col(name)).agg(count(lit(1)).as("m"))
            .agg(sum(col("m")).as("n_rows"), count(col(name)).as("ndv"),
              sum(len * col("m")).as("raw_bytes"), sum(len).as("dict_payload"))
            .select(lit(name).as("col_name"), col("*"))
        }
        intCol("l_partkey").unionByName(intCol("l_suppkey"))
          .unionByName(strCol("l_returnflag"))
          .unionByName(strCol("l_linestatus"))
          .withColumn("code_bits",
            when(col("ndv") <= 1L, 1L)
              .otherwise((length(bin(col("ndv") - 1L))).cast("long")))
          .withColumn("dict_bytes",
            col("dict_payload") +
              expr("(n_rows * code_bits + 7) DIV 8"))
          .withColumn("choose_dict", col("dict_bytes") < col("raw_bytes"))
          .drop("dict_payload")
      },
      Some("""WITH c AS (
             |  SELECT 'l_partkey' AS col_name, count(*) AS n,
             |    count(DISTINCT l_partkey) AS ndv,
             |    count(*) * 8 AS raw, count(DISTINCT l_partkey) * 8 AS pay
             |  FROM lineitem
             |  UNION ALL
             |  SELECT 'l_suppkey', count(*), count(DISTINCT l_suppkey),
             |    count(*) * 8, count(DISTINCT l_suppkey) * 8
             |  FROM lineitem
             |  UNION ALL
             |  SELECT 'l_returnflag', count(*), count(DISTINCT l_returnflag),
             |    CAST(sum(len(l_returnflag)) AS BIGINT),
             |    (SELECT CAST(sum(len(x)) AS BIGINT) FROM
             |      (SELECT DISTINCT l_returnflag AS x FROM lineitem))
             |  FROM lineitem
             |  UNION ALL
             |  SELECT 'l_linestatus', count(*), count(DISTINCT l_linestatus),
             |    CAST(sum(len(l_linestatus)) AS BIGINT),
             |    (SELECT CAST(sum(len(x)) AS BIGINT) FROM
             |      (SELECT DISTINCT l_linestatus AS x FROM lineitem))
             |  FROM lineitem),
             |b AS (
             |  SELECT col_name, CAST(n AS BIGINT) AS n_rows,
             |    CAST(ndv AS BIGINT) AS ndv, CAST(raw AS BIGINT) AS raw_bytes,
             |    CASE WHEN ndv <= 1 THEN 1
             |         ELSE CAST(length(bin(ndv - 1)) AS BIGINT) END
             |      AS code_bits,
             |    pay
             |  FROM c)
             |SELECT col_name, n_rows, ndv, raw_bytes, code_bits,
             |  CAST(pay + (n_rows * code_bits + 7) // 8 AS BIGINT)
             |    AS dict_bytes,
             |  pay + (n_rows * code_bits + 7) // 8 < raw_bytes
             |    AS choose_dict
             |FROM b""".stripMargin)),

    // WATERMARK SIZING table — q292's lateness census turned into the
    // decision it exists for: for each candidate watermark delay, how many
    // events would arrive later than the watermark (and be dropped by a
    // streaming aggregation) vs buffered state horizon. One window pass
    // computes per-event lateness; the candidate table is a 5-row cross
    // join — the report that picks `withWatermark("ts", X)`.
    Q("q316_watermark_sizing",
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
          .rowsBetween(Window.unboundedPreceding, -1L)
        val late = Tables.events(s, d)
          .select(col("user_id"), col("event_id"), col("ts_us"))
          .withColumn("late_us",
            greatest(coalesce(max(col("ts_us")).over(w) - col("ts_us"),
              lit(0L)), lit(0L)))
        val cand = late.sparkSession.range(1)
          .select(explode(typedlit(Delays)).as("delay_us"))
        late.crossJoin(broadcast(cand))
          .groupBy(col("delay_us"))
          .agg(count(lit(1)).as("n_events"),
            sum(when(col("late_us") > col("delay_us"), 1L).otherwise(0L))
              .as("n_dropped"))
      },
      Some(s"""WITH l AS (
              |  SELECT greatest(coalesce(
              |    max(epoch_us(ts)) OVER (PARTITION BY user_id
              |      ORDER BY event_id
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              |    - epoch_us(ts), 0), 0) AS late_us
              |  FROM events),
              |cand AS (SELECT unnest([${Delays.mkString(", ")}])
              |         AS delay_us)
              |SELECT delay_us, CAST(count(*) AS BIGINT) AS n_events,
              |  CAST(sum(CASE WHEN late_us > delay_us THEN 1 ELSE 0 END)
              |    AS BIGINT) AS n_dropped
              |FROM l CROSS JOIN cand GROUP BY 1""".stripMargin)))
}

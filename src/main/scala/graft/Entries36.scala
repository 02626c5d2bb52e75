package graft

import org.apache.spark.sql.functions._
import graft.ExtEntries.Q

/** Round-7 batch 15: A/B test summary, vocabulary growth curve,
  * entity-resolution capstone pipeline.
  */
object Entries36 {

  val all: Seq[Q] = Seq(

    // A/B TEST SUMMARY: users split by id parity (the deterministic
    // assignment), conversion = any purchase; per arm exposures and
    // conversions, plus the χ² NUMERATOR and DENOMINATOR of the
    // two-proportion test as exact integers (χ² = N·(ad−bc)²/(row·col
    // margins) — cross-multiplied, no float until the consumer divides).
    // The experimentation read-out with the significance arithmetic
    // oracle-exact.
    Q("q258_ab_test",
      (s, d) => {
        val perUser = Tables.events(s, d)
          .groupBy(col("user_id"))
          .agg(max(when(col("event_type") === "purchase", 1L)
            .otherwise(0L)).as("converted"))
          .withColumn("arm", (col("user_id") % 2).cast("long"))
        val cells = perUser.groupBy(col("arm"))
          .agg(count(lit(1)).as("n_exposed"),
            sum(col("converted")).as("n_converted"))
        val wide = cells.agg(
          sum(when(col("arm") === 0, col("n_converted"))).as("a"),
          sum(when(col("arm") === 0,
            col("n_exposed") - col("n_converted"))).as("b"),
          sum(when(col("arm") === 1, col("n_converted"))).as("c"),
          sum(when(col("arm") === 1,
            col("n_exposed") - col("n_converted"))).as("d"))
        wide.select(col("a"), col("b"), col("c"), col("d"),
          ((col("a") + col("b") + col("c") + col("d")) *
            (col("a") * col("d") - col("b") * col("c")) *
            (col("a") * col("d") - col("b") * col("c"))).as("chi2_num"),
          ((col("a") + col("b")) * (col("c") + col("d")) *
            (col("a") + col("c")) * (col("b") + col("d"))).as("chi2_den"))
      },
      Some("""WITH pu AS (
             |  SELECT user_id, user_id % 2 AS arm,
             |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             |      AS conv
             |  FROM events GROUP BY 1, 2),
             |cells AS (
             |  SELECT
             |    CAST(sum(CASE WHEN arm = 0 THEN conv ELSE 0 END)
             |      AS BIGINT) AS a,
             |    CAST(sum(CASE WHEN arm = 0 THEN 1 - conv ELSE 0 END)
             |      AS BIGINT) AS b,
             |    CAST(sum(CASE WHEN arm = 1 THEN conv ELSE 0 END)
             |      AS BIGINT) AS c,
             |    CAST(sum(CASE WHEN arm = 1 THEN 1 - conv ELSE 0 END)
             |      AS BIGINT) AS d
             |  FROM pu)
             |SELECT a, b, c, d,
             |  CAST((a + b + c + d) * (a * d - b * c) * (a * d - b * c)
             |    AS BIGINT) AS chi2_num,
             |  CAST((a + b) * (c + d) * (a + c) * (b + d) AS BIGINT)
             |    AS chi2_den
             |FROM cells""".stripMargin)),

    // VOCABULARY GROWTH CURVE: new distinct BIGRAMS per ingestion batch
    // (first-seen batch per bigram — a partial-aggregable min) plus the
    // running cumulative vocabulary — the Heaps-law freshness read a
    // corpus pipeline watches for staleness/domain shift. Bigrams, not
    // unigrams: the fixtures' word vocabulary saturates in batch 0, which
    // is exactly the degenerate curve the bigram space un-flattens.
    Q("q259_vocab_growth",
      (s, d) => {
        val grams = Tables.documents(s, d)
          .select((col("doc_id") % 8).as("batch"),
            split(col("text"), " ").as("w"))
          .select(col("batch"), explode(expr(
            "transform(slice(w, 1, size(w) - 1), " +
              "(x, i) -> concat(x, ' ', w[i + 1]))")).as("tok"))
        grams.groupBy(col("tok"))
          .agg(min(col("batch")).as("first_batch"))
          .groupBy(col("first_batch").as("batch"))
          .agg(count(lit(1)).as("n_new_bigrams"))
          .withColumn("cum_vocab", sum(col("n_new_bigrams")).over(
            org.apache.spark.sql.expressions.Window.orderBy(col("batch").asc)
              .rowsBetween(org.apache.spark.sql.expressions.Window
                .unboundedPreceding, 0)))
      },
      Some("""WITH docs AS (
             |  SELECT doc_id % 8 AS batch, string_split(text, ' ') AS w
             |  FROM documents),
             |grams AS (
             |  SELECT batch, w[i] || ' ' || w[i + 1] AS tok
             |  FROM docs, unnest(range(1, len(w))) t(i)),
             |fs AS (
             |  SELECT tok, min(batch) AS first_batch FROM grams GROUP BY 1),
             |nw AS (
             |  SELECT first_batch AS batch, count(*) AS n_new_bigrams
             |  FROM fs GROUP BY 1)
             |SELECT batch, n_new_bigrams,
             |  CAST(sum(n_new_bigrams) OVER (ORDER BY batch
             |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_vocab
             |FROM nw""".stripMargin)),

    // ENTITY-RESOLUTION CAPSTONE: the full pipeline in one DAG over a
    // deterministically-dirtied customer table (every 11th name gets its
    // last two digits TRANSPOSED — the classic keystroke dupe). Blocking
    // on digits 1–7 of the name (untouched by the corruption, so blocks
    // stay ≤ ~100 keys and true pairs always co-block), codegen'd
    // Jaro-Winkler ≥ 0.95 verify (pinned bit-exact to DuckDB's
    // rapidfuzz), min-label connected components over match edges, then
    // the survivorship collapse — one reconciliation row (entities,
    // merged rows, largest cluster). q137/q178 are the stages; this is
    // the composed operator a user actually runs.
    Q("q260_er_pipeline",
      (s, d) => {
        val base = Tables.customer(s, d)
          .select(col("c_custkey").as("rid"), col("c_name").as("name"))
        val dirty = base.filter(col("rid") % 11 === 0)
          .select((col("rid") + 1000000L).as("rid"),
            concat(substring(col("name"), 1, 16),
              substring(col("name"), 18, 1), substring(col("name"), 17, 1))
              .as("name"))
        val rows = base.unionByName(dirty)
          .withColumn("blk", substring(col("name"), 10, 7))
        val pairs = rows.select(col("blk"), col("rid").as("r1"),
          col("name").as("n1"))
          .join(rows.select(col("blk"), col("rid").as("r2"),
            col("name").as("n2")), Seq("blk"))
          .filter(col("r1") < col("r2"))
          .filter(graft.functions.GraftFunctions.jaroWinkler(col("n1"),
            col("n2")) >= 0.95)
          .select(col("r1").as("d1"), col("r2").as("d2"))
        val clusters = graft.ext.Dedup.ccBigStar(
          rows.select(col("rid").as("doc_id")), pairs)
        clusters.groupBy(col("cluster_id"))
          .agg(count(lit(1)).as("sz"))
          .agg(count(lit(1)).as("n_entities"),
            sum(when(col("sz") > 1, col("sz"))).as("n_merged_rows"),
            max(col("sz")).as("max_cluster"),
            sum(col("sz")).as("n_rows"))
      },
      Some("""WITH RECURSIVE base AS (
             |  SELECT c_custkey AS rid, c_name AS name FROM customer),
             |dirty AS (
             |  SELECT rid + 1000000 AS rid,
             |    substr(name, 1, 16) || substr(name, 18, 1)
             |      || substr(name, 17, 1) AS name
             |  FROM base WHERE rid % 11 = 0),
             |rows_ AS (
             |  SELECT rid, name, substr(name, 10, 7) AS blk FROM base
             |  UNION ALL
             |  SELECT rid, name, substr(name, 10, 7) AS blk FROM dirty),
             |edges AS (
             |  SELECT a.rid AS u, b.rid AS v
             |  FROM rows_ a JOIN rows_ b
             |    ON a.blk = b.blk AND a.rid < b.rid
             |  WHERE jaro_winkler_similarity(a.name, b.name) >= 0.95),
             |bidir AS (
             |  SELECT u, v FROM edges UNION SELECT v, u FROM edges),
             |reach AS (
             |  SELECT rid AS id, rid AS r FROM rows_
             |  UNION
             |  SELECT reach.id, bidir.v FROM reach
             |  JOIN bidir ON bidir.u = reach.r),
             |cl AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY 1),
             |sizes AS (
             |  SELECT cluster_id, count(*) AS sz FROM cl GROUP BY 1)
             |SELECT count(*) AS n_entities,
             |  CAST(sum(CASE WHEN sz > 1 THEN sz END) AS BIGINT)
             |    AS n_merged_rows,
             |  CAST(max(sz) AS BIGINT) AS max_cluster,
             |  CAST(sum(sz) AS BIGINT) AS n_rows
             |FROM sizes""".stripMargin)))
}

package graft

import org.apache.spark.sql.functions._
import graft.ExtEntries.Q

/** Round-6 batch 11: corpus data card, embedding QA audit, TPC-H Q18
  * shape.
  */
object Entries20 {

  val all: Seq[Q] = Seq(

    // One-row CORPUS DATA CARD: the release-note summary a dataset ships
    // with — doc/source/lang counts, whitespace-token total, exact-dup doc
    // rate (md5 of text), and the exact char-length median — every number
    // oracle-checked, assembled in two scans (one ungrouped aggregate + one
    // rank-median pass).
    Q("q197_corpus_card",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val ranked = docs.select(col("n_chars"), col("doc_id"))
          .withColumn("rn", row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy(col("n_chars").asc, col("doc_id").asc)).cast("long"))
        val n = docs.count()
        val medianChars = ranked.filter(col("rn") === (n + 1) / 2)
          .select(col("n_chars").as("median_chars"))
        docs.agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("source")).as("n_sources"),
          countDistinct(col("lang")).as("n_langs"),
          sum(size(split(col("text"), " "))).cast("long").as("ws_tokens"),
          (count(lit(1)) - countDistinct(md5(col("text"))))
            .as("n_exact_dups"))
          .join(medianChars)
      },
      Some("""WITH m AS (
             |  SELECT n_chars AS median_chars FROM (
             |    SELECT n_chars, row_number() OVER (ORDER BY n_chars, doc_id)
             |      AS rn
             |    FROM documents)
             |  WHERE rn = (SELECT (count(*) + 1) // 2 FROM documents))
             |SELECT count(*) AS n_docs,
             |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
             |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
             |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
             |  CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT)
             |    AS n_exact_dups,
             |  (SELECT median_chars FROM m) AS median_chars
             |FROM documents""".stripMargin)),

    // EMBEDDING QA AUDIT per label: population, exact-duplicate vectors
    // (whole-array grouping), zero vectors, and the exact norm² range from
    // the same sequential fold every similarity op uses — the gate before
    // an embedding table is trusted by ANN/dedup.
    Q("q198_embedding_audit",
      (s, d) => {
        val e = Tables.embeddings(s, d)
          .withColumn("norm2", graft.ext.Similarity.norm2(col("embedding")))
        e.groupBy(col("label"))
          .agg(count(lit(1)).as("n"),
            (count(lit(1)) - countDistinct(col("embedding")))
              .as("n_dup_vectors"),
            sum(when(expr("forall(embedding, x -> x = CAST(0 AS FLOAT))"),
              1L).otherwise(0L)).as("n_zero_vectors"),
            min(col("norm2")).as("norm2_min"),
            max(col("norm2")).as("norm2_max"))
      },
      Some(s"""SELECT label, count(*) AS n,
              |  CAST(count(*) - count(DISTINCT embedding) AS BIGINT)
              |    AS n_dup_vectors,
              |  CAST(sum(CASE WHEN NOT list_has_any(
              |      list_transform(embedding, x -> x <> 0), [true])
              |    THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_vectors,
              |  min(${ExtEntries.dotSql("embedding", "embedding")})
              |    AS norm2_min,
              |  max(${ExtEntries.dotSql("embedding", "embedding")})
              |    AS norm2_max
              |FROM embeddings GROUP BY 1""".stripMargin)),

    // TPC-H Q18 shape (large-volume orders): customers whose single order
    // exceeds 300 total quantity — decorrelated to an aggregate + semi
    // join; the ORACLE runs the literal IN (... GROUP BY ... HAVING)
    // subquery, pinning the rewrite.
    Q("q199_big_orders",
      (s, d) => {
        val big = Tables.lineitem(s, d)
          .groupBy(col("l_orderkey"))
          .agg(sum(col("l_quantity").cast("long")).as("total_qty"))
          .filter(col("total_qty") > 300L)
        Tables.orders(s, d)
          .join(big, col("o_orderkey") === col("l_orderkey"))
          .join(broadcast(Tables.customer(s, d)),
            col("o_custkey") === col("c_custkey"))
          .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
            round(col("o_totalprice") * 100).cast("long").as("cents"),
            col("total_qty"))
      },
      Some("""SELECT c_custkey, c_name, o_orderkey,
             |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             |  (SELECT CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
             |   FROM lineitem WHERE l_orderkey = o_orderkey) AS total_qty
             |FROM orders
             |JOIN customer ON o_custkey = c_custkey
             |WHERE o_orderkey IN (
             |  SELECT l_orderkey FROM lineitem
             |  GROUP BY l_orderkey
             |  HAVING sum(CAST(l_quantity AS BIGINT)) > 300)""".stripMargin)))
}

package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The one exact top-k operator behind every similarity ranking. It owns
  * three decisions, and every ranked search in [[Similarity]], [[Curation]]
  * and the query builders calls it instead of writing its own window:
  *
  *  - which candidates: [[allPairs]] (every corpus vector against every
  *    broadcast query, with an optional extra join condition such as a
  *    label inequality), [[inLists]] (the IVF inverted lists of each
  *    query's probed centroids), or [[explicit]] (an explicit (q_id, n_id)
  *    frame);
  *  - how they are scored: cosine over vectors whose norms are hoisted per
  *    row ([[vectors]]). `dot / (qn * nn)` runs the same IEEE operations in
  *    the same order as [[Similarity.cosine]], so every score is
  *    bit-identical to the inline form;
  *  - how they are ranked: [[rank]], `row_number` per key ordered by score
  *    (desc, or asc for distances) with ties on the id asc, kept while
  *    rank <= k. A nearest-centroid assignment is the same rank with k = 1
  *    ([[assign]]); a probe list is the same rank with k = nprobe
  *    ([[probe]]).
  *
  * Frames follow one naming convention: a vector side with prefix `p` has
  * columns `p_id`, `p_emb` and `p_n` (the hoisted norm), queries use `q`,
  * corpus vectors `n` and centroids `c`. Scored candidates carry `cos`;
  * ranked ones also carry the rank column.
  *
  * Scale shape: queries and centroids broadcast; the corpus side is
  * partition-scanned (round-robined first in [[allPairs]]; measured at
  * sf0.1 on 4 cores: q153 2.1 s against 6.9 s without it, q236 0.9 s
  * against 2.6 s, while a 20-query search pays one more shuffle stage).
  * Vector columns leave the plan before the rank
  * window, so its shuffle carries (q_id, n_id, cos) rows, and Spark plans
  * the rank as a WindowGroupLimit on both sides of that shuffle (each
  * mapper emits at most k rows per key).
  */
object TopK {
  import Similarity.{dot, norm2}

  /** The one per-key rank step: `as` = row_number over `keys` ordered by
    * `score` desc (asc when `ascending`, for distances), ties by `tie` asc,
    * as a long; rows with rank <= k survive. */
  def rank(df: DataFrame, keys: Seq[String], score: String, tie: String,
           k: Int, as: String = "rank", ascending: Boolean = false): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(if (ascending) col(score).asc else col(score).desc, col(tie).asc)
    df.withColumn(as, row_number().over(w).cast("long")).filter(col(as) <= k)
  }

  /** The `embeddings` rows as a vector side `p`: (p_id, p_emb, p_n) plus
    * `extra` columns. */
  def vectors(embeddings: DataFrame, p: String, extra: Column*): DataFrame =
    embeddings.select(Seq(col("vec_id").as(s"${p}_id"),
      col("embedding").as(s"${p}_emb"),
      sqrt(norm2(col("embedding"))).as(s"${p}_n")) ++ extra: _*)

  /** The deterministic coarse quantizer: every vector with
    * vec_id % every == 0 is a centroid (c_id, c_emb). */
  def centroids(embeddings: DataFrame, every: Int): DataFrame =
    embeddings.filter(col("vec_id") % every === 0)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))

  private def cos(a: String, b: String): Column =
    dot(col(s"${a}_emb"), col(s"${b}_emb")) / (col(s"${a}_n") * col(s"${b}_n"))

  /** Per vector of side `p`, its `n` nearest centroids of `cent` (c_id,
    * c_emb): cosine desc, c_id asc. Adds c_id and its probe order c_rank. */
  def probe(vecs: DataFrame, p: String, cent: DataFrame, n: Int): DataFrame = {
    val c = cent.select(col("c_id"), col("c_emb"), sqrt(norm2(col("c_emb"))).as("c_n"))
    rank(vecs.join(broadcast(c), lit(true)).withColumn("c_cos", cos(p, "c"))
        .drop("c_emb", "c_n"),
      Seq(s"${p}_id"), "c_cos", "c_id", n, "c_rank")
      .drop("c_cos")
  }

  /** The nearest-centroid assignment: [[probe]] with n = 1, adding c_id. */
  def assign(vecs: DataFrame, p: String, cent: DataFrame): DataFrame =
    probe(vecs, p, cent, 1).drop("c_rank")

  /** All pairs: every corpus vector against every broadcast query but
    * itself, where `on` also holds. The corpus side round-robins across the
    * shuffle partitions first: a small embedding table arrives as one
    * parquet split, which would pin the whole scoring loop to one core. */
  def allPairs(queries: DataFrame, corpus: DataFrame,
               on: Column = lit(true)): DataFrame =
    corpus.repartition(corpus.sparkSession.sessionState.conf.numShufflePartitions)
      .join(broadcast(queries), col("q_id") =!= col("n_id") && on)

  /** IVF candidates: each query (q_id, q_emb, q_n, c_id, ...) against the
    * corpus vectors [[assign]]ed to its probed centroid, but itself. */
  def inLists(probes: DataFrame, assigned: DataFrame): DataFrame =
    assigned.join(probes, Seq("c_id")).filter(col("q_id") =!= col("n_id"))

  /** Explicit candidate pairs (q_id, n_id) with their query and corpus
    * vectors. */
  def explicit(pairs: DataFrame, queries: DataFrame, corpus: DataFrame): DataFrame =
    pairs.join(corpus, Seq("n_id")).join(queries, Seq("q_id"))

  /** Candidates with their exact cosine `cos`; the vectors leave. */
  def scored(cands: DataFrame): DataFrame =
    cands.withColumn("cos", cos("q", "n")).drop("q_emb", "q_n", "n_emb", "n_n")

  /** The exact rerank: the k best candidates per query by cosine, ties on
    * n_id asc. */
  def exact(cands: DataFrame, k: Int): DataFrame =
    rank(scored(cands), Seq("q_id"), "cos", "n_id", k)
}

package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ExtEntries.Q
import graft.ext.Similarity

/** Round-8 batch 3: retrieval-quality eval (MRR + nDCG@5), sample-ratio-
  * mismatch guard, directed session co-visitation, word-pair PMI.
  *
  * Same float doctrine as Entries52: ln() terms floored onto integer grids
  * before any sum; discount weights for nDCG are a PRECOMPUTED integer
  * table (1e6/log2(i+1), i ≤ 5), so the per-query DCG is exact BIGINT math.
  */
object Entries53 {

  /** floor(1e6 / log2(rank+1)) for rank = 1..5 — the shared literal
    * discount table (no transcendentals at query time). IDCG@5 = their sum
    * (the truth list always has 5 relevant items here). */
  private val DcgW: Seq[Long] = Seq(1000000L, 630929L, 500000L, 430676L, 386852L)
  private val Idcg5: Long = DcgW.sum // 2948457

  val all: Seq[Q] = Seq(

    // RETRIEVAL EVAL — MRR and nDCG@5 of the IVF index against brute-force
    // cosine truth, per query: the ranking-quality companions to q168's
    // recall gate (recall says WHETHER truth survived; nDCG says WHERE it
    // landed). Relevance = membership in the exact top-5; discounts from
    // the integer table above, so every metric is a ratio of exact BIGINTs.
    Q("q305_retrieval_eval",
      (s, d) => {
        // persisted (plan census r9): truth and IVF paths share one
        // embeddings relation — 6 scans → 1
        val emb = Tables.embeddings(s, d)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val truth = Similarity.bruteForceTopK(emb, 20, 5)
          .select(col("q_id"), col("n_id"))
        val ivf = Similarity.ivfTopK(emb, 20, 5, 100, 2)
          .select(col("q_id"), col("rank"), col("n_id"))
        val wTab = typedlit(DcgW)
        val rel = ivf.join(truth.withColumn("rel", lit(1L)),
          Seq("q_id", "n_id"), "left")
        rel.groupBy(col("q_id"))
          .agg(
            min(when(col("rel").isNotNull, col("rank"))).as("first_rel_rank"),
            sum(when(col("rel").isNotNull,
              element_at(wTab, col("rank"))).otherwise(0L)).as("dcg_q"))
          .select(col("q_id"), col("first_rel_rank"),
            coalesce(floor(lit(1000000.0) /
              col("first_rel_rank").cast("double")).cast("long"), lit(0L))
              .as("rr_q"),
            col("dcg_q"),
            (col("dcg_q").cast("double") / lit(Idcg5.toDouble)).as("ndcg"))
      },
      Some {
        val cos = ExtEntries.cosSql _
        val wCase = DcgW.zipWithIndex
          .map { case (w, i) => s"WHEN ${i + 1} THEN $w" }
          .mkString(" ")
        s"""WITH cent AS (SELECT vec_id AS c_id, embedding AS c_emb
           |             FROM embeddings WHERE vec_id % 100 = 0),
           |assigned AS (
           |  SELECT n_id, n_emb, c_id FROM (
           |    SELECT e.vec_id AS n_id, e.embedding AS n_emb, c.c_id,
           |      row_number() OVER (PARTITION BY e.vec_id
           |        ORDER BY ${cos("e.embedding", "c.c_emb")} DESC,
           |          c.c_id ASC) AS arn
           |    FROM embeddings e, cent c)
           |  WHERE arn = 1),
           |probes AS (
           |  SELECT q_id, q_emb, c_id FROM (
           |    SELECT e.vec_id AS q_id, e.embedding AS q_emb, c.c_id,
           |      row_number() OVER (PARTITION BY e.vec_id
           |        ORDER BY ${cos("e.embedding", "c.c_emb")} DESC,
           |          c.c_id ASC) AS prn
           |    FROM embeddings e, cent c WHERE e.vec_id < 20)
           |  WHERE prn <= 2),
           |ivf AS (
           |  SELECT q_id, n_id, rank FROM (
           |    SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
           |        ORDER BY cos DESC, n_id ASC) AS rank
           |    FROM (SELECT p.q_id, a.n_id,
           |            ${cos("p.q_emb", "a.n_emb")} AS cos
           |          FROM assigned a JOIN probes p USING (c_id)
           |          WHERE p.q_id <> a.n_id))
           |  WHERE rank <= 5),
           |brute AS (
           |  SELECT q_id, n_id FROM (
           |    SELECT q.vec_id AS q_id, e.vec_id AS n_id,
           |      row_number() OVER (PARTITION BY q.vec_id
           |        ORDER BY ${cos("q.embedding", "e.embedding")} DESC,
           |          e.vec_id ASC) AS rank
           |    FROM embeddings q JOIN embeddings e ON q.vec_id <> e.vec_id
           |    WHERE q.vec_id < 20)
           |  WHERE rank <= 5),
           |g AS (
           |  SELECT i.q_id,
           |    min(CASE WHEN b.n_id IS NOT NULL THEN i.rank END)
           |      AS first_rel_rank,
           |    CAST(sum(CASE WHEN b.n_id IS NOT NULL
           |      THEN CASE i.rank $wCase END ELSE 0 END) AS BIGINT) AS dcg_q
           |  FROM ivf i LEFT JOIN brute b
           |    ON i.q_id = b.q_id AND i.n_id = b.n_id
           |  GROUP BY 1)
           |SELECT q_id, first_rel_rank,
           |  CAST(coalesce(floor(1000000.0 / first_rel_rank), 0) AS BIGINT)
           |    AS rr_q,
           |  dcg_q, CAST(dcg_q AS DOUBLE) / $Idcg5.0 AS ndcg
           |FROM g""".stripMargin
      }),

    // SAMPLE-RATIO-MISMATCH guard — the first thing an experimentation
    // platform checks before reading an A/B result: per segment, does the
    // deterministic 50/50 assignment (content-hash parity, the q54 family)
    // actually land 50/50? One-dof chi-square (na−nb)²/(na+nb) from exact
    // counts; flag at the 0.05 critical value 3.841. One partial-agg pass.
    Q("q306_srm_check",
      (s, d) => {
        val a = graft.ext.Dedup.contentId(col("c_custkey").cast("string"))
        Tables.customer(s, d)
          .select(col("c_mktsegment"), pmod(a, lit(2L)).as("arm"))
          .groupBy(col("c_mktsegment"))
          .agg(sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("na"),
            sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("nb"))
          .select(col("c_mktsegment"), col("na"), col("nb"),
            (((col("na") - col("nb")) * (col("na") - col("nb")))
              .cast("double") / (col("na") + col("nb")).cast("double"))
              .as("chi2"),
            ((((col("na") - col("nb")) * (col("na") - col("nb")))
              .cast("double") / (col("na") + col("nb")).cast("double"))
              > 3.841).as("srm_flag"))
      },
      Some("""WITH c AS (
             |  SELECT c_mktsegment,
             |    ('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 12))::BIGINT
             |      % 2 AS arm
             |  FROM customer),
             |g AS (
             |  SELECT c_mktsegment,
             |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
             |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb
             |  FROM c GROUP BY 1)
             |SELECT c_mktsegment, na, nb,
             |  CAST((na - nb) * (na - nb) AS DOUBLE) / (na + nb) AS chi2,
             |  CAST((na - nb) * (na - nb) AS DOUBLE) / (na + nb) > 3.841
             |    AS srm_flag
             |FROM g""".stripMargin)),

    // DIRECTED SESSION CO-VISITATION — the next-item candidate generator of
    // a recsys: consecutive DISTINCT items per user within 30 minutes,
    // counted per ordered (src → dst) pair. One window pass over the event
    // log (ordered by ts, event_id — a total order, so lead() is
    // deterministic), then a partial-aggregable pair count. The directed
    // counterpart of q192's undirected co-engagement.
    Q("q307_covisitation",
      (s, d) => {
        val ev = Tables.events(s, d).where(col("props").isNotNull)
          .select(col("user_id"), col("props").as("item"),
            col("ts_us"), col("event_id"))
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_us").asc, col("event_id").asc)
        ev.withColumn("nxt", lead(col("item"), 1).over(w))
          .withColumn("nxt_ts", lead(col("ts_us"), 1).over(w))
          .filter(col("nxt").isNotNull && col("nxt") =!= col("item") &&
            col("nxt_ts") - col("ts_us") <= 1800000000L)
          .groupBy(col("item").as("src"), col("nxt").as("dst"))
          .agg(count(lit(1)).as("n_transitions"))
          .filter(col("n_transitions") >= 2)
      },
      Some("""WITH e AS (
             |  SELECT user_id, props AS item, epoch_us(ts) AS ts_us,
             |    event_id
             |  FROM events WHERE props IS NOT NULL),
             |t AS (
             |  SELECT item,
             |    lead(item) OVER w AS nxt,
             |    lead(ts_us) OVER w AS nxt_ts, ts_us
             |  FROM e
             |  WINDOW w AS (PARTITION BY user_id
             |    ORDER BY ts_us ASC, event_id ASC))
             |SELECT item AS src, nxt AS dst,
             |  CAST(count(*) AS BIGINT) AS n_transitions
             |FROM t
             |WHERE nxt IS NOT NULL AND nxt <> item
             |  AND nxt_ts - ts_us <= 1800000000
             |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin)),

    // WORD-PAIR PMI over document co-occurrence — the collocation signal
    // (phrase mining, tokenizer-merge candidates): for word pairs sharing
    // ≥5 documents, pmi = ln(c_ab·N / (c_a·c_b)), floored onto a 1e-4
    // grid. The pair space is the inverted-index self-join (doc-bounded
    // fan-out — at 100 TB cap per-doc distinct words first), never a
    // vocabulary cross join. Counts are document frequencies (distinct
    // per doc), so every input to ln() is an exact integer product —
    // c_ab·N·c_a·c_b ≤ ~1e13, well inside double's 2^53.
    Q("q308_word_pmi",
      (s, d) => {
        // persisted: the unigram counts and BOTH sides of the co-occurrence
        // self-join read dw — three explode+distinct replays without it
        val dw = Tables.documents(s, d)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
          .where(length(col("w")) > 0)
          .distinct()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val n = Tables.documents(s, d).count()
        val cw = dw.groupBy(col("w")).agg(count(lit(1)).as("c"))
        val pairs = dw.as("a")
          .join(dw.as("b"),
            col("a.doc_id") === col("b.doc_id") && col("a.w") < col("b.w"))
          .groupBy(col("a.w").as("w1"), col("b.w").as("w2"))
          .agg(count(lit(1)).as("c_ab"))
          .filter(col("c_ab") >= 5)
        pairs
          .join(cw.select(col("w").as("w1"), col("c").as("c_a")), Seq("w1"))
          .join(cw.select(col("w").as("w2"), col("c").as("c_b")), Seq("w2"))
          .select(col("w1"), col("w2"), col("c_ab"),
            floor(log((col("c_ab") * lit(n)).cast("double") /
              (col("c_a") * col("c_b")).cast("double")) * 1e4)
              .cast("long").as("pmi_q"))
      },
      Some("""WITH dw AS (
             |  SELECT DISTINCT doc_id, tok AS w FROM (
             |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
             |    FROM documents)
             |  WHERE len(tok) > 0),
             |n AS (SELECT count(*) AS n FROM documents),
             |cw AS (SELECT w, CAST(count(*) AS BIGINT) AS c
             |       FROM dw GROUP BY 1),
             |p AS (
             |  SELECT a.w AS w1, b.w AS w2, CAST(count(*) AS BIGINT) AS c_ab
             |  FROM dw a JOIN dw b
             |    ON a.doc_id = b.doc_id AND a.w < b.w
             |  GROUP BY 1, 2 HAVING count(*) >= 5)
             |SELECT w1, w2, c_ab,
             |  CAST(floor(ln(CAST(c_ab * n.n AS DOUBLE) /
             |    CAST(ca.c * cb.c AS DOUBLE)) * 1e4) AS BIGINT) AS pmi_q
             |FROM p
             |JOIN cw ca ON ca.w = p.w1
             |JOIN cw cb ON cb.w = p.w2
             |CROSS JOIN n""".stripMargin)))
}

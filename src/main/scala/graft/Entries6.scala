package graft

import org.apache.spark.sql.functions._
import graft.ext._
import graft.ExtEntries.Q

/** Round-4 batch 2: distributed model-evaluation statistics (regression,
  * rank-AUC), sequence modeling (Markov transitions), and product analytics
  * (cohort retention). All metrics are BIGINT sufficient statistics with one
  * pinned double expression at the end — the oracle reproduces bytes.
  */
object Entries6 {

  val all: Seq[Q] = Seq(

    // Per-returnflag linear regression of price (dollars) on quantity from
    // one partial-aggregated pass of integer sufficient statistics.
    Q("q124_group_regression",
      (s, d) => Eval.groupRegression(
        Tables.lineitem(s, d).select(
          col("l_returnflag").as("grp"),
          col("l_quantity").cast("long").as("x"),
          round(col("l_extendedprice")).cast("long").as("y")),
        "grp", "x", "y"),
      Some("""WITH b AS (
             |  SELECT l_returnflag AS grp, CAST(l_quantity AS BIGINT) AS x,
             |    CAST(round(l_extendedprice) AS BIGINT) AS y
             |  FROM lineitem),
             |st AS (
             |  SELECT grp, CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             |    CAST(sum(x * y) AS BIGINT) AS sxy,
             |    CAST(sum(x * x) AS BIGINT) AS sxx,
             |    CAST(sum(y * y) AS BIGINT) AS syy
             |  FROM b GROUP BY grp),
             |dd AS (
             |  SELECT *,
             |    CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
             |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cov,
             |    CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
             |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS vx,
             |    CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
             |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vy
             |  FROM st)
             |SELECT grp, n, sx, sy, sxy, sxx, syy,
             |  cov / vx AS slope,
             |  (CAST(sy AS DOUBLE) - cov / vx * CAST(sx AS DOUBLE))
             |    / CAST(n AS DOUBLE) AS intercept,
             |  cov * cov / (vx * vy) AS r2
             |FROM dd""".stripMargin)),

    // Exact Mann-Whitney AUC of cents-valued score vs is-purchase label,
    // computed per-DISTINCT-score (domain-bounded window, no global row sort).
    Q("q125_rank_auc",
      (s, d) => Eval.rankAuc(
        Tables.events(s, d)
          .select(round(col("value") * 100).cast("long").as("score"),
            (col("event_type") === "purchase").as("label")),
        "score", "label"),
      Some("""WITH b AS (
             |  SELECT CAST(round(value * 100) AS BIGINT) AS s,
             |    (event_type = 'purchase') AS label
             |  FROM events WHERE value IS NOT NULL),
             |ps AS (
             |  SELECT s,
             |    CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS pos,
             |    CAST(sum(CASE WHEN label THEN 0 ELSE 1 END) AS BIGINT) AS neg
             |  FROM b GROUP BY s),
             |ctr AS (
             |  SELECT pos, neg,
             |    pos * (2 * coalesce(CAST(sum(neg) OVER (ORDER BY s
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
             |      0) + neg) AS num2c
             |  FROM ps),
             |agg AS (
             |  SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
             |    CAST(sum(neg) AS BIGINT) AS n_neg,
             |    CAST(sum(num2c) AS BIGINT) AS auc_num2
             |  FROM ctr)
             |SELECT n_pos, n_neg, auc_num2,
             |  CAST(auc_num2 AS DOUBLE)
             |    / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)) AS auc
             |FROM agg""".stripMargin)),

    // First-order Markov transition matrix over per-user event streams.
    Q("q126_markov_transitions",
      (s, d) => graft.ops.Sessions.markovTransitions(Tables.events(s, d)),
      Some("""WITH e AS (
             |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type
             |  FROM events),
             |p AS (
             |  SELECT event_type,
             |    lag(event_type) OVER (PARTITION BY user_id
             |      ORDER BY ts_us, event_id) AS prev_type
             |  FROM e),
             |t AS (
             |  SELECT prev_type, event_type AS next_type,
             |    CAST(count(*) AS BIGINT) AS n_trans
             |  FROM p WHERE prev_type IS NOT NULL GROUP BY 1, 2),
             |t2 AS (
             |  SELECT prev_type, next_type, n_trans,
             |    CAST(sum(n_trans) OVER (PARTITION BY prev_type) AS BIGINT)
             |      AS total_from_prev
             |  FROM t)
             |SELECT prev_type, next_type, n_trans, total_from_prev,
             |  CAST(n_trans AS DOUBLE) / CAST(total_from_prev AS DOUBLE)
             |    AS p_trans
             |FROM t2""".stripMargin)),

    // Cohort retention matrix on exact integer epoch-week buckets (the
    // fixture spans one calendar month, so weeks give a real matrix).
    Q("q127_cohort_retention",
      (s, d) => graft.ops.Sessions.cohortRetention(Tables.events(s, d),
        604800000000L),
      Some("""WITH um AS (
             |  SELECT user_id,
             |    epoch_us(ts) // 604800000000 AS midx,
             |    CAST(count(*) AS BIGINT) AS n_ev
             |  FROM events GROUP BY 1, 2),
             |wc AS (
             |  SELECT user_id, midx, n_ev,
             |    min(midx) OVER (PARTITION BY user_id) AS cohort
             |  FROM um),
             |mx AS (
             |  SELECT cohort, midx - cohort AS offset_buckets,
             |    CAST(count(*) AS BIGINT) AS n_active,
             |    CAST(sum(n_ev) AS BIGINT) AS n_events
             |  FROM wc GROUP BY 1, 2),
             |m2 AS (
             |  SELECT *, max(CASE WHEN offset_buckets = 0 THEN n_active END)
             |    OVER (PARTITION BY cohort) AS cohort_size
             |  FROM mx)
             |SELECT cohort, offset_buckets, n_active, n_events, cohort_size,
             |  CAST(n_active AS DOUBLE) / CAST(cohort_size AS DOUBLE)
             |    AS retention
             |FROM m2""".stripMargin)),

    // Exact heavy hitters (bigrams with count >= 40) via pigeonhole
    // candidate pruning — two map passes + a candidate-sized shuffle, no
    // full-domain shuffle. The oracle is the naive full GROUP BY ... HAVING,
    // so hash-match proves the pruning loses nothing.
    Q("q128_heavy_hitters",
      (s, d) => Sketches.heavyHitters(
        Tables.documents(s, d)
          .withColumn("w", split(col("text"), " "))
          .filter(size(col("w")) >= 2)
          // position explode + codegen'd slice/concat_ws, not an
          // interpreted transform lambda — this input is scanned TWICE by
          // the two-pass pigeonhole, doubling any per-row lambda cost
          .select(col("w"),
            explode(sequence(lit(1), size(col("w")) - 1)).as("i"))
          .select(concat_ws(" ", slice(col("w"), col("i"), lit(2))).as("bg")),
        "bg", 40L),
      Some("""WITH grams AS (
             |  SELECT array_to_string(w[i:i+1], ' ') AS bg
             |  FROM (SELECT string_split(text, ' ') AS w FROM documents) d,
             |       (SELECT unnest(range(1, 1000)) AS i) t
             |  WHERE len(w) >= 2 AND i <= len(w) - 1)
             |SELECT bg, CAST(count(*) AS BIGINT) AS n
             |FROM grams GROUP BY bg HAVING count(*) >= 40""".stripMargin)),

    // Deterministic weighted priority sample: 20 docs per source, selection
    // biased toward long documents (weight = n_chars).
    Q("q129_weighted_sample",
      (s, d) => TrainPrep.weightedSample(
        Tables.documents(s, d), "source", "doc_id", "n_chars", 20),
      Some("""WITH pri AS (
             |  SELECT source, doc_id, n_chars,
             |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))
             |      ::BIGINT AS DOUBLE) / CAST(n_chars AS DOUBLE) AS pri
             |  FROM documents),
             |rk AS (
             |  SELECT *, CAST(row_number() OVER (PARTITION BY source
             |    ORDER BY pri ASC, doc_id ASC) AS INT) AS rk
             |  FROM pri)
             |SELECT source, doc_id, n_chars, pri, rk
             |FROM rk WHERE rk <= 20""".stripMargin)),

    // 8-round k-core (k=3) peeling of the part co-purchase graph (parts
    // sharing >= 2 orders). The fixture peels through ~10 genuinely
    // shrinking rounds, so the oracle's unrolled CTE replay checks the
    // cascade, not just one pruning pass.
    Q("q130_kcore",
      (s, d) => {
        val ol = Tables.lineitem(s, d)
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
          .distinct()
        val pr = ol.as("a").join(ol.as("b"),
            col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
          .groupBy(col("a.pk").as("u"), col("b.pk").as("v"))
          .agg(count(lit(1)).as("w"))
          .filter(col("w") >= 2)
        Curation.kCore(
          pr.select(col("u").as("src"), col("v").as("dst"))
            .unionByName(pr.select(col("v").as("src"), col("u").as("dst"))),
          3, 8)
      },
      Some(kCoreOracle(3, 8))),

    // Leave-one-out target encoding of order priority against total price —
    // the leakage-guarded mean encoding: (sum_g - y_i)/(n_g - 1), singleton
    // categories NULL. Exact BIGINT operands into one double division.
    Q("q131_target_encode",
      (s, d) => TrainPrep.targetEncodeLOO(
        Tables.orders(s, d), "o_orderpriority", "o_orderkey",
        expr("CAST(round(o_totalprice * 100) AS BIGINT)")),
      Some("""WITH b AS (
             |  SELECT o_orderkey, o_orderpriority,
             |    CAST(round(o_totalprice * 100) AS BIGINT) AS y_cents
             |  FROM orders),
             |ww AS (
             |  SELECT o_orderkey, o_orderpriority, y_cents,
             |    CAST(sum(y_cents) OVER (PARTITION BY o_orderpriority)
             |      AS BIGINT) AS sum_g,
             |    CAST(count(*) OVER (PARTITION BY o_orderpriority)
             |      AS BIGINT) AS n_g
             |  FROM b)
             |SELECT o_orderkey, o_orderpriority, y_cents, sum_g, n_g,
             |  CASE WHEN n_g > 1 THEN
             |    CAST(sum_g - y_cents AS DOUBLE) / CAST(n_g - 1 AS DOUBLE)
             |  END AS loo_cents
             |FROM ww""".stripMargin)),

    // Per-returnflag winsorization of price cents at the exact
    // ceil(0.05n)/ceil(0.95n) order statistics.
    Q("q132_winsorize",
      (s, d) => TrainPrep.winsorize(
        Tables.lineitem(s, d).select(col("l_returnflag"),
          (col("l_orderkey") * 10 + col("l_linenumber")).as("line_id"),
          col("l_extendedprice")),
        "l_returnflag", "line_id",
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
        .drop("line_id"),
      Some("""WITH b AS (
             |  SELECT l_returnflag AS g,
             |    l_orderkey * 10 + l_linenumber AS id,
             |    CAST(round(l_extendedprice * 100) AS BIGINT) AS c
             |  FROM lineitem),
             |r AS (
             |  SELECT g, id, c,
             |    row_number() OVER (PARTITION BY g ORDER BY c, id) AS rn,
             |    count(*) OVER (PARTITION BY g) AS n
             |  FROM b),
             |bd AS (
             |  SELECT g, max(CASE WHEN rn = (n * 5 + 99) // 100 THEN c END)
             |      AS lo,
             |    max(CASE WHEN rn = (n * 95 + 99) // 100 THEN c END) AS hi
             |  FROM r GROUP BY g)
             |SELECT b.g AS l_returnflag, b.c,
             |  least(greatest(b.c, bd.lo), bd.hi) AS c_winsor, bd.lo, bd.hi,
             |  CAST(CASE WHEN b.c < bd.lo THEN -1
             |       WHEN b.c > bd.hi THEN 1 ELSE 0 END AS INT) AS clipped
             |FROM b JOIN bd ON b.g = bd.g""".stripMargin)),

    // Codegen'd Jaro-Winkler battery (rapidfuzz/DuckDB-pinned semantics,
    // incl. the >0.7 boost threshold and the 0.0 empty-string convention);
    // the Customer# names share a 9-char prefix so the Winkler boost path
    // is exercised on every row.
    Q("q133_jaro_winkler",
      (s, d) => {
        import graft.functions.GraftFunctions.jaroWinkler
        Tables.customer(s, d).select(
          col("c_custkey"),
          jaroWinkler(col("c_name"), lit("Customer#000000000")).as("jw_name"),
          jaroWinkler(col("c_mktsegment"), lit("MACHINERY")).as("jw_seg"),
          jaroWinkler(substring(col("c_name"), 1, 8),
            substring(reverse(col("c_name")), 1, 8)).as("jw_head_tail"))
      },
      Some("""SELECT c_custkey,
             |  jaro_winkler_similarity(c_name, 'Customer#000000000')
             |    AS jw_name,
             |  jaro_winkler_similarity(c_mktsegment, 'MACHINERY') AS jw_seg,
             |  jaro_winkler_similarity(substring(c_name, 1, 8),
             |    substring(reverse(c_name), 1, 8)) AS jw_head_tail
             |FROM customer""".stripMargin)),

    // Hard-negative mining: top-3 most-similar different-label vectors per
    // query — contrastive-training retrieval with the label inequality
    // pushed into the broadcast join.
    Q("q134_hard_negatives",
      (s, d) => {
        Similarity.hardNegatives(Tables.embeddings(s, d), 20, 3)
      },
      Some(s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb,
              |            label AS q_label
              |           FROM embeddings WHERE vec_id < 20),
              |c AS (SELECT vec_id AS n_id, embedding AS n_emb,
              |        label AS n_label
              |      FROM embeddings),
              |scored AS (
              |  SELECT q_id, q_label, n_id, n_label,
              |    ${ExtEntries.cosSql("q_emb", "n_emb")} AS cos
              |  FROM c JOIN q ON q_id <> n_id AND q_label <> n_label)
              |SELECT q_id, q_label, CAST(rank AS INT) AS rank, n_id,
              |  n_label, cos
              |FROM (SELECT *, row_number() OVER (PARTITION BY q_id
              |        ORDER BY cos DESC, n_id ASC) AS rank FROM scored)
              |WHERE rank <= 3""".stripMargin)),

    // Sorted-neighborhood record linkage (the third candidate-generation
    // strategy vs LSH banding and SSJoin prefix filtering): block by first
    // word, sort by 40-char prefix, candidates = lead offsets 1..2,
    // verified by the codegen'd Jaro-Winkler at >= 0.95. The oracle
    // generates candidates by rank-difference self-join over the SAME
    // order — an independent formulation of the same neighborhood.
    Q("q135_sorted_neighborhood",
      (s, d) => {
        Dedup.sortedNeighborhoodPairs(Tables.documents(s, d), 2, 0.95)
      },
      Some("""WITH b AS (
             |  SELECT doc_id, substr(text, 1, 40) AS t40,
             |    string_split(text, ' ')[1] AS blk
             |  FROM documents),
             |o AS (SELECT *, row_number() OVER (PARTITION BY blk
             |        ORDER BY t40, doc_id) AS rn
             |      FROM b),
             |pairs AS (
             |  SELECT a.blk, a.doc_id AS d1, b.doc_id AS d2,
             |    jaro_winkler_similarity(a.t40, b.t40) AS jw
             |  FROM o a JOIN o b ON a.blk = b.blk
             |    AND b.rn - a.rn BETWEEN 1 AND 2)
             |SELECT blk, d1, d2, jw FROM pairs
             |WHERE jw >= 0.95""".stripMargin)),

    // Positional inverted index, one row per (term, doc): occurrence count,
    // canonical sorted position list, document frequency.
    Q("q136_posting_lists",
      (s, d) => TextAnalysis.postingLists(Tables.documents(s, d)),
      Some("""WITH tp AS (
             |  SELECT doc_id, w[i] AS term, i - 1 AS p
             |  FROM (SELECT doc_id, string_split(text, ' ') AS w
             |        FROM documents) d,
             |       (SELECT unnest(range(1, 1000)) AS i) t
             |  WHERE i <= len(w)),
             |pd AS (
             |  SELECT term, doc_id, CAST(count(*) AS BIGINT) AS n_occ,
             |    string_agg(p, ',' ORDER BY p) AS positions
             |  FROM tp GROUP BY term, doc_id)
             |SELECT term, doc_id, n_occ, positions,
             |  CAST(count(*) OVER (PARTITION BY term) AS BIGINT) AS n_docs
             |FROM pd""".stripMargin)),

    // Phrase search: every occurrence of the corpus's most frequent bigram
    // (count desc, text asc) via the positional index joined with itself at
    // distance exactly 1 — data-driven, no hard-coded phrase.
    Q("q137_phrase_search",
      (s, d) => TextAnalysis.phraseSearch(Tables.documents(s, d)),
      Some("""WITH tp AS (
             |  SELECT doc_id, w[i] AS term, i - 1 AS p
             |  FROM (SELECT doc_id, string_split(text, ' ') AS w
             |        FROM documents) d,
             |       (SELECT unnest(range(1, 1000)) AS i) t
             |  WHERE i <= len(w)),
             |bg AS (
             |  SELECT term, nxt, count(*) AS cnt FROM (
             |    SELECT doc_id, term, p,
             |      lead(term) OVER (PARTITION BY doc_id ORDER BY p) AS nxt
             |    FROM tp)
             |  WHERE nxt IS NOT NULL GROUP BY 1, 2),
             |ph AS (SELECT term AS w1, nxt AS w2 FROM bg
             |       ORDER BY cnt DESC, term ASC, nxt ASC LIMIT 1)
             |SELECT t1.doc_id, ph.w1, ph.w2,
             |  CAST(count(*) AS BIGINT) AS n_matches,
             |  min(t1.p) AS first_pos
             |FROM tp t1 JOIN ph ON t1.term = ph.w1
             |JOIN tp t2 ON t2.doc_id = t1.doc_id AND t2.p = t1.p + 1
             |  AND t2.term = ph.w2
             |GROUP BY 1, 2, 3""".stripMargin)),

    // Tokenizer APPLY: encode the corpus's word types with the 6-round
    // trained merge table — the other half of the q121 BPE loop. The
    // oracle replays training and reads the end-state segmentation.
    Q("q138_bpe_encode",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val merges = BpeTrainer.train(docs, 6).collect()
          .sortBy(_.getAs[Long]("step"))
          .map(r => (r.getAs[String]("left_sym"),
            r.getAs[String]("right_sym"))).toSeq
        BpeTrainer.encode(docs, merges)
      },
      Some(Entries5.bpeEncodeOracle(6)))
  )

  /** Generated DuckDB oracle for [[Curation.kCore]]: `rounds` unrolled
    * peel blocks over the part co-purchase graph. MATERIALIZED CTEs — each
    * round's edge set is referenced by the next round's degree count AND
    * both semi-join sides, the same double-reference that forces
    * localCheckpoint on the Spark side. */
  private def kCoreOracle(k: Int, rounds: Int): String = {
    val blocks = (1 to rounds).map { r =>
      val prev = if (r == 1) "e0" else s"e${r - 1}"
      s"""n$r AS MATERIALIZED (SELECT src AS node FROM $prev
         |  GROUP BY src HAVING count(*) >= $k),
         |e$r AS MATERIALIZED (SELECT e.src, e.dst FROM $prev e
         |  JOIN n$r a ON e.src = a.node JOIN n$r b ON e.dst = b.node)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH ol AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |pr AS MATERIALIZED (
       |  SELECT a.pk AS u, b.pk AS v
       |  FROM ol a JOIN ol b ON a.ok = b.ok AND a.pk < b.pk
       |  GROUP BY 1, 2 HAVING count(*) >= 2),
       |e0 AS MATERIALIZED (
       |  SELECT u AS src, v AS dst FROM pr
       |  UNION ALL SELECT v, u FROM pr),
       |$blocks
       |SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
       |FROM e$rounds GROUP BY src""".stripMargin
  }
}

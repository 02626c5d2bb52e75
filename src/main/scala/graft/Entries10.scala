package graft

import org.apache.spark.sql.functions._
import graft.ops.{History, Relational, TableDiff}
import graft.ext.Curation
import graft.ExtEntries.Q

/** Round-5 batch 3: table-maintenance and release-gate operators —
  * Merkle-style bucketed version diff, interval gap analysis, k-anonymity
  * audit.
  */
object Entries10 {

  val all: Seq[Q] = Seq(

    // Merkle-style table reconciliation: bucket digests first, row drill
    // only into divergent buckets; vs the same-semantics direct diff
    // oracle. Fixture pair = orders vs its deterministic perturbation.
    Q("q162_merkle_diff",
      (s, d) => {
        val (v1, v2) = TableDiff.perturbedOrders(Tables.orders(s, d))
        TableDiff.merkleDiff(v1, v2, "o_orderkey",
          Seq("cents", "o_orderstatus"), 4096)
      },
      Some(TableDiff.merkleDiffSql(4096))),

    // Idle-gap analysis: 30-minute activity intervals per user, coalesced,
    // then the gaps between consecutive merged intervals.
    Q("q163_interval_gaps",
      (s, d) => Relational.intervalGaps(
        Tables.events(s, d).select(col("user_id"),
          col("ts_us").as("span_start"),
          (col("ts_us") + 1800000000L).as("span_end"),
          col("event_id")),
        "user_id", "span_start", "span_end", "event_id"),
      Some("""WITH iv AS (
             |  SELECT user_id, epoch_us(ts) AS s,
             |    epoch_us(ts) + 1800000000 AS e, event_id
             |  FROM events),
             |marked AS (
             |  SELECT user_id, s, e, event_id,
             |    CASE WHEN max(e) OVER (PARTITION BY user_id
             |        ORDER BY s, e, event_id
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |        IS NULL
             |      OR s > max(e) OVER (PARTITION BY user_id
             |        ORDER BY s, e, event_id
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |      THEN 1 ELSE 0 END AS new_grp
             |  FROM iv),
             |grp AS (
             |  SELECT *, sum(new_grp) OVER (PARTITION BY user_id
             |    ORDER BY s, e, event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
             |  FROM marked),
             |merged AS (
             |  SELECT user_id, min(s) AS interval_start,
             |    max(e) AS interval_end
             |  FROM grp GROUP BY user_id, g),
             |nxt AS (
             |  SELECT user_id, interval_end,
             |    lead(interval_start) OVER (PARTITION BY user_id
             |      ORDER BY interval_start) AS next_start
             |  FROM merged)
             |SELECT user_id, interval_end AS gap_start,
             |  next_start AS gap_end, next_start - interval_end AS gap_us
             |FROM nxt
             |WHERE next_start IS NOT NULL
             |  AND next_start > interval_end""".stripMargin)),

    // k-anonymity release audit: quasi-identifier cells
    // (nation, segment, 50-dollar balance band) with size and suppression
    // verdict at k=5.
    Q("q164_k_anonymity",
      (s, d) => Curation.kAnonymityAudit(Tables.customer(s, d), 5L),
      Some(Curation.kAnonymityAuditSql(5L))),

    // Semi-structured analytics over the VARIANT type (Spark 4): the JSON
    // payload parses ONCE into the binary variant encoding, typed paths
    // shred out with variant_get, and the aggregation runs on the shredded
    // longs — the open-schema ingestion path (vs q45's per-access
    // get_json_object string re-parse).
    Q("q165_variant_shred",
      (s, d) => Tables.events(s, d)
        .select(col("event_type"),
          variant_get(parse_json(col("props")), "$.k", "long").as("k"))
        .groupBy(col("event_type"), expr("k DIV 10").as("k_bucket"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("k_sum"),
          min(col("k")).as("k_min"), max(col("k")).as("k_max")),
      Some("""SELECT event_type,
             |  CAST(json_extract_string(props, '$.k') AS BIGINT) // 10
             |    AS k_bucket,
             |  CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
             |    AS BIGINT) AS k_sum,
             |  min(CAST(json_extract_string(props, '$.k') AS BIGINT))
             |    AS k_min,
             |  max(CAST(json_extract_string(props, '$.k') AS BIGINT))
             |    AS k_max
             |FROM events GROUP BY 1, 2""".stripMargin)),

    // Sketch set-INTERSECTION algebra: per week, exact purchaser/clicker
    // audiences as stored bitmaps, overlap via bitmap AND — the
    // cohort-overlap question OR-mergeable sketches alone can't answer,
    // answered without re-scanning facts.
    Q("q166_sketch_overlap",
      (s, d) => {
        import graft.functions.GraftFunctions._
        val ev = Tables.events(s, d)
          .select(col("user_id"), col("event_type"),
            expr("ts_us DIV 604800000000").as("week"))
        val p = ev.filter(col("event_type") === "purchase")
          .groupBy(col("week")).agg(bitmapSketch(col("user_id")).as("ps"))
        val c = ev.filter(col("event_type") === "click")
          .groupBy(col("week")).agg(bitmapSketch(col("user_id")).as("cs"))
        p.join(c, Seq("week"))
          .select(col("week"), bitmapCount(col("ps")).as("n_purchasers"),
            bitmapCount(col("cs")).as("n_clickers"),
            bitmapAndCount(col("ps"), col("cs")).as("n_both"))
      },
      Some("""WITH w AS (
             |  SELECT user_id, event_type,
             |    epoch_us(ts) // 604800000000 AS week
             |  FROM events),
             |p AS (SELECT week, CAST(count(DISTINCT user_id) AS BIGINT) AS
             |        n_purchasers FROM w WHERE event_type = 'purchase'
             |      GROUP BY 1),
             |c AS (SELECT week, CAST(count(DISTINCT user_id) AS BIGINT) AS
             |        n_clickers FROM w WHERE event_type = 'click' GROUP BY 1)
             |SELECT p.week, p.n_purchasers, c.n_clickers,
             |  (SELECT CAST(count(DISTINCT a.user_id) AS BIGINT)
             |   FROM w a JOIN w b ON a.user_id = b.user_id
             |     AND a.week = b.week
             |   WHERE a.week = p.week AND a.event_type = 'purchase'
             |     AND b.event_type = 'click') AS n_both
             |FROM p JOIN c ON p.week = c.week""".stripMargin)),

    // TPC-H Q4 shape: order-priority count over orders having at least one
    // late-shipping lineitem (EXISTS → left-semi decorrelation).
    Q("q167_priority_count",
      (s, d) => {
        val late = Tables.lineitem(s, d)
          .join(broadcast(Tables.orders(s, d)
            .select(col("o_orderkey").as("ok"), col("o_orderdate"))),
            col("l_orderkey") === col("ok"))
          .filter(col("l_shipdate") >
            col("o_orderdate") + expr("INTERVAL 60 DAYS"))
          .select(col("l_orderkey"))
        Tables.orders(s, d)
          .join(late, col("o_orderkey") === col("l_orderkey"), "left_semi")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("order_count"))
      },
      Some("""SELECT o_orderpriority,
             |  CAST(count(*) AS BIGINT) AS order_count
             |FROM orders o
             |WHERE EXISTS (SELECT 1 FROM lineitem l
             |  WHERE l.l_orderkey = o.o_orderkey
             |    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
             |GROUP BY 1""".stripMargin)),

    // ANN recall@5 gate: IVF (nprobe=2) top-5 judged against the exact
    // brute-force top-5, per query, in exact integers — the quality gate
    // before an approximate index replaces brute force. Oracle replays
    // BOTH pipelines and the comparison.
    Q("q168_ann_recall",
      (s, d) => {
        import graft.ext.{Eval, Similarity}
        // persisted (plan census r9): the IVF path (centroids +
        // assignment + probes) and the brute-force truth share one
        // embeddings relation — 6 scans → 1
        val emb = Tables.embeddings(s, d)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        Eval.annRecall(Similarity.ivfTopK(emb, 20, 5, 100, 2),
          Similarity.bruteForceTopK(emb, 20, 5), 5)
      },
      Some {
        val cos = ExtEntries.cosSql _
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
           |  SELECT q_id, n_id FROM (
           |    SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
           |        ORDER BY cos DESC, n_id ASC) AS rank
           |    FROM (SELECT p.q_id, a.n_id,
           |            ${cos("p.q_emb", "a.n_emb")} AS cos
           |          FROM assigned a JOIN probes p USING (c_id)
           |          WHERE p.q_id <> a.n_id))
           |  WHERE rank <= 5),
           |brute AS (
           |  SELECT q_id, n_id, rank FROM (
           |    SELECT q.vec_id AS q_id, e.vec_id AS n_id,
           |      row_number() OVER (PARTITION BY q.vec_id
           |        ORDER BY ${cos("q.embedding", "e.embedding")} DESC,
           |          e.vec_id ASC) AS rank
           |    FROM embeddings q JOIN embeddings e ON q.vec_id <> e.vec_id
           |    WHERE q.vec_id < 20)
           |  WHERE rank <= 5)
           |SELECT b.q_id,
           |  CAST(sum(CASE WHEN i.n_id IS NOT NULL THEN 1 ELSE 0 END)
           |    AS BIGINT) AS hits,
           |  CAST(5 AS BIGINT) AS k,
           |  max(CASE WHEN i.n_id IS NOT NULL
           |    THEN CAST(b.rank AS BIGINT) END) AS worst_kept_rank
           |FROM brute b LEFT JOIN ivf i
           |  ON b.q_id = i.q_id AND b.n_id = i.n_id
           |GROUP BY 1""".stripMargin
      }),

    // End-to-end curation funnel: length gate → quality gate → exact
    // dedup keep-first → per-source quota, per-stage survivor counts in
    // one scan + two window passes.
    Q("q169_curation_funnel",
      (s, d) => Curation.curationFunnel(Tables.documents(s, d), 100, 30, 15),
      Some(Curation.curationFunnelSql(100, 30, 15))),

    // Overlapping hop-window chunking (the audio/speech framing pattern:
    // window 160 B, hop 96 B → 64 B overlap between consecutive chunks),
    // per-chunk position-weighted checksum replayed by the oracle.
    Q("q170_audio_chunks",
      (s, d) => graft.ext.Multimodal
        .audioChunks(s, Tables.documents(s, d)).toDF(),
      Some {
        import graft.ext.TextAnalysis.{FpA, FpB, FpP}
        s"""SELECT doc_id, c AS chunk_idx,
           |  CAST(c * 96 AS BIGINT) AS start_byte,
           |  least(160, CAST(strlen(text) AS BIGINT) - c * 96)
           |    AS chunk_bytes,
           |  CAST(coalesce(sum(ord(substr(text, CAST(c * 96 + i AS INT), 1))
           |    * (($FpA * i + $FpB) % $FpP)), 0) % $FpP AS BIGINT)
           |    AS checksum
           |FROM documents
           |JOIN (SELECT unnest(range(0, 16)) AS c) tc
           |  ON c * 96 < strlen(text)
           |LEFT JOIN (SELECT unnest(range(1, 161)) AS i) ti
           |  ON c * 96 + i <= strlen(text)
           |GROUP BY doc_id, c, strlen(text)""".stripMargin
      }),

    // Matryoshka-style truncation eval: recall@5 of 16-dim-truncated
    // cosine search against the full 64-dim ground truth, through the same
    // annRecall gate as the IVF index (q168) — the dimension-budget
    // decision, measured.
    Q("q171_truncdim_recall",
      (s, d) => {
        import graft.ext.{Eval, Similarity}
        // persisted (plan census r9): full and truncated brute-force
        // passes read the same vectors
        val emb = Tables.embeddings(s, d)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val trunc = emb.withColumn("embedding",
          slice(col("embedding"), 1, 16))
        Eval.annRecall(Similarity.bruteForceTopK(trunc, 20, 5),
          Similarity.bruteForceTopK(emb, 20, 5), 5)
      },
      Some {
        val cos = ExtEntries.cosSql _
        // 16-dim fold (ExtEntries.dotSql is fixed at 64 dims)
        def dot16(a: String, b: String) =
          s"list_reduce(list_transform(range(1, 17), " +
            s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), " +
            "(x, y) -> x + y)"
        def cos16(a: String, b: String) =
          s"(${dot16(a, b)} / (sqrt(${dot16(a, a)}) * sqrt(${dot16(b, b)})))"
        s"""WITH t AS (SELECT vec_id, embedding[1:16] AS emb
           |          FROM embeddings),
           |approx AS (
           |  SELECT q_id, n_id FROM (
           |    SELECT q.vec_id AS q_id, e.vec_id AS n_id,
           |      row_number() OVER (PARTITION BY q.vec_id
           |        ORDER BY ${cos16("q.emb", "e.emb")} DESC,
           |          e.vec_id ASC) AS rank
           |    FROM t q JOIN t e ON q.vec_id <> e.vec_id
           |    WHERE q.vec_id < 20)
           |  WHERE rank <= 5),
           |brute AS (
           |  SELECT q_id, n_id, rank FROM (
           |    SELECT q.vec_id AS q_id, e.vec_id AS n_id,
           |      row_number() OVER (PARTITION BY q.vec_id
           |        ORDER BY ${cos("q.embedding", "e.embedding")} DESC,
           |          e.vec_id ASC) AS rank
           |    FROM embeddings q JOIN embeddings e ON q.vec_id <> e.vec_id
           |    WHERE q.vec_id < 20)
           |  WHERE rank <= 5)
           |SELECT b.q_id,
           |  CAST(sum(CASE WHEN a.n_id IS NOT NULL THEN 1 ELSE 0 END)
           |    AS BIGINT) AS hits,
           |  CAST(5 AS BIGINT) AS k,
           |  max(CASE WHEN a.n_id IS NOT NULL
           |    THEN CAST(b.rank AS BIGINT) END) AS worst_kept_rank
           |FROM brute b LEFT JOIN approx a
           |  ON b.q_id = a.q_id AND b.n_id = a.n_id
           |GROUP BY 1""".stripMargin
      }),

    // Classical additive seasonal decomposition of daily revenue (weekly
    // period), integer-exact: centered 7-day trend (full consecutive
    // windows only), x7-scaled detrended residual, per-weekday seasonal
    // rational.
    Q("q172_seasonal_decompose",
      (s, d) => History.seasonalDecompose(
        Tables.orders(s, d).select(
          graft.ops.Relational.epochUs(col("o_orderdate")).as("ts_us"),
          round(col("o_totalprice") * 100).cast("long").as("cents")),
        "ts_us", "cents"),
      Some(History.seasonalDecomposeSql)),

    // Gini revenue concentration per nation as an exact rational — the
    // whale-dependence KPI with zero floats.
    Q("q173_gini",
      (s, d) => graft.ops.Retail.giniByNation(Tables.orders(s, d),
        Tables.customer(s, d)),
      Some(graft.ops.Retail.giniByNationSql)),

    // ABC (Pareto) inventory classification within brand: A ≤ 80 % of
    // cumulative revenue share, B ≤ 95 %, else C — integer cross-mult.
    Q("q174_abc_classes",
      (s, d) => graft.ops.Retail.abcClasses(Tables.lineitem(s, d),
        Tables.part(s, d)),
      Some(graft.ops.Retail.abcClassesSql))
  )
}

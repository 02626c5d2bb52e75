package graft

import org.apache.spark.sql.functions._
import graft.ext._
import graft.ExtEntries.Q

/** Round-3 query surface: training-data curation passes (§2.10) — benchmark
  * decontamination, semantic dedup, temperature mixture sampling, repetition
  * filtering, PII redaction, corpus n-gram counts, and link-graph PageRank.
  * Every query has a DuckDB oracle replaying the identical arithmetic.
  */
object Entries4 {

  val all: Seq[Q] = Seq(

    // Benchmark decontamination: corpus docs sharing any 3-gram with the
    // (broadcast) eval slice, with the distinct-overlap count (real corpora
    // use 8–13-gram windows; the fixtures' ~30-word docs motivate 3)
    Q("q101_decontaminate",
      (s, d) => Curation.decontaminate(Tables.documents(s, d), 3, 97),
      Some("""WITH shd AS (
             |  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS sh
             |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) d,
             |       (SELECT unnest(range(1, 1000)) AS i) t
             |  WHERE len(w) >= 3 AND i <= len(w) - 2),
             |shid AS (
             |  SELECT doc_id, ('0x' || substr(md5(sh), 1, 12))::BIGINT AS sid
             |  FROM shd),
             |evalg AS (SELECT DISTINCT sid FROM shid WHERE doc_id % 97 = 0)
             |SELECT s.doc_id, count(*) AS n_eval_grams
             |FROM shid s JOIN evalg e ON s.sid = e.sid
             |WHERE s.doc_id % 97 <> 0
             |GROUP BY s.doc_id""".stripMargin)),

    // SemDeDup: nearest deterministic coarse centroid, then drop any vector
    // with a lower-id cosine>=0.4 neighbor in the same cluster
    Q("q102_semantic_dedup",
      (s, d) => {
        Curation.semanticDedup(Tables.embeddings(s, d), 100, 0.4)
      },
      Some(s"""WITH cent AS (SELECT vec_id AS c_id, embedding AS c_emb
              |             FROM embeddings WHERE vec_id % 100 = 0),
              |assigned AS (
              |  SELECT vec_id, embedding, c_id AS cluster FROM (
              |    SELECT e.vec_id, e.embedding, c.c_id,
              |      row_number() OVER (PARTITION BY e.vec_id
              |        ORDER BY ${ExtEntries.cosSql("e.embedding", "c.c_emb")} DESC, c.c_id ASC) AS arn
              |    FROM embeddings e, cent c)
              |  WHERE arn = 1),
              |dup AS (
              |  SELECT DISTINCT x.vec_id
              |  FROM assigned x JOIN assigned y
              |    ON x.cluster = y.cluster AND y.vec_id < x.vec_id
              |  WHERE ${ExtEntries.cosSql("x.embedding", "y.embedding")} >= 0.4)
              |SELECT a.vec_id, a.cluster,
              |  CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS INT) AS keep
              |FROM assigned a LEFT JOIN dup d ON a.vec_id = d.vec_id""".stripMargin)),

    // Temperature-weighted (alpha=0.5) source mixing via deterministic
    // hash-threshold sampling; one row per source with the realized sample
    Q("q103_mixture_sample",
      (s, d) => Curation.mixtureSample(Tables.documents(s, d)),
      Some("""WITH counts AS (
             |  SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
             |mx AS (SELECT max(n_docs) AS n_max FROM counts),
             |rates AS (
             |  SELECT source, n_docs,
             |    CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) / sqrt(CAST(n_max AS DOUBLE))
             |      * 1048576) AS BIGINT) AS thr
             |  FROM counts, mx)
             |SELECT r.source, r.n_docs, r.thr,
             |  CAST(sum(CASE WHEN ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 12))::BIGINT
             |        % 1048576 < r.thr THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
             |FROM documents d JOIN rates r ON d.source = r.source
             |GROUP BY 1, 2, 3""".stripMargin)),

    // Gopher-style repetition stats + keep flag (top word < 1/5 of words;
    // integer cross-multiplication, division-free)
    Q("q104_repetition_filter",
      (s, d) => Curation.repetitionFilter(Tables.documents(s, d)),
      Some("""WITH wc AS (
             |  SELECT doc_id, w, count(*) AS c
             |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
             |  GROUP BY doc_id, w),
             |r AS (SELECT doc_id, w, c,
             |        row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, w ASC) AS rn
             |      FROM wc)
             |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words, count(*) AS n_distinct,
             |  max(c) AS max_freq, max(CASE WHEN rn = 1 THEN w END) AS top_word,
             |  CAST(CASE WHEN max(c) * 5 < sum(c) THEN 1 ELSE 0 END AS INT) AS keep
             |FROM r GROUP BY doc_id""".stripMargin)),

    // PII-style digit-run redaction over the raw event payloads, with the
    // removed-digit count (length delta — regex-engine-portable)
    Q("q105_pii_redact",
      (s, d) => Curation.redactDigits(
        Tables.events(s, d).select(col("event_id"), col("props")), "props")
        .select(col("event_id"), col("redacted"), col("n_digits")),
      Some("""SELECT event_id,
             |  regexp_replace(props, '[0-9]+', '#', 'g') AS redacted,
             |  CAST(length(props) -
             |    length(regexp_replace(props, '[0-9]', '', 'g')) AS BIGINT) AS n_digits
             |FROM events""".stripMargin)),

    // Corpus bigram counts (occurrence + doc frequency, min-count 3) — the
    // n-gram LM / contamination-index build
    Q("q106_ngram_counts",
      (s, d) => Curation.ngramCounts(Tables.documents(s, d), 2, 3),
      Some("""WITH grams AS (
             |  SELECT doc_id, array_to_string(w[i:i+1], ' ') AS gram
             |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) d,
             |       (SELECT unnest(range(1, 1000)) AS i) t
             |  WHERE len(w) >= 2 AND i <= len(w) - 1)
             |SELECT gram, count(*) AS n_occurrences, count(DISTINCT doc_id) AS n_docs
             |FROM grams GROUP BY gram HAVING count(*) >= 3""".stripMargin)),

    // Integer PageRank (3 rounds, damping 0.85 in fixed-point 10^6) over the
    // undirected customer↔supplier purchase graph
    Q("q107_pagerank",
      (s, d) => Curation.pageRank(
        Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
          .join(Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
            col("o_orderkey") === col("l_orderkey"))
          .select((col("o_custkey") * 2).as("src"),
            (col("l_suppkey") * 2 + 1).as("dst")),
        3),
      Some("""WITH e0 AS (
             |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
             |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
             |e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
             |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
             |m0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS mass FROM deg),
             |m1 AS (SELECT e.dst AS node,
             |         CAST(150000 + 850000 * sum(m.mass // d.outdeg) // 1000000 AS BIGINT) AS mass
             |       FROM e JOIN deg d ON e.src = d.src JOIN m0 m ON m.node = e.src
             |       GROUP BY e.dst),
             |m2 AS (SELECT e.dst AS node,
             |         CAST(150000 + 850000 * sum(m.mass // d.outdeg) // 1000000 AS BIGINT) AS mass
             |       FROM e JOIN deg d ON e.src = d.src JOIN m1 m ON m.node = e.src
             |       GROUP BY e.dst),
             |m3 AS (SELECT e.dst AS node,
             |         CAST(150000 + 850000 * sum(m.mass // d.outdeg) // 1000000 AS BIGINT) AS mass
             |       FROM e JOIN deg d ON e.src = d.src JOIN m2 m ON m.node = e.src
             |       GROUP BY e.dst)
             |SELECT node, mass FROM m3""".stripMargin)),

    // Sliding word-window chunking (8-word chunks, stride 4) — pretraining /
    // RAG segmentation; pure generate, no shuffle
    Q("q108_doc_chunks",
      (s, d) => Curation.chunkDocuments(Tables.documents(s, d), 8, 4),
      Some("""SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
             |  array_to_string(w[(1 + 4 * i):(1 + 4 * i + 7)], ' ') AS chunk_text,
             |  CAST(least(8, len(w) - (1 + 4 * i) + 1) AS BIGINT) AS n_chunk_words
             |FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) d,
             |     (SELECT unnest(range(0, 1000)) AS i) t
             |WHERE 1 + 4 * i <= len(w)""".stripMargin)),

    // Asymmetric containment (quote detection): |A∩B|/|A| >= 0.8 over
    // 3-gram shingle ids, ordered (src, host) pairs
    Q("q109_containment_pairs",
      (s, d) => Curation.containmentPairs(Tables.documents(s, d), 3, 0.8),
      Some("""WITH shd AS (
             |  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS sh
             |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) d,
             |       (SELECT unnest(range(1, 1000)) AS i) t
             |  WHERE len(w) >= 3 AND i <= len(w) - 2),
             |shid AS (
             |  SELECT doc_id, ('0x' || substr(md5(sh), 1, 12))::BIGINT AS sid
             |  FROM shd),
             |cnt AS (SELECT doc_id, count(*) AS n FROM shid GROUP BY doc_id),
             |inter AS (
             |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS ix
             |  FROM shid a JOIN shid b ON a.sid = b.sid AND a.doc_id <> b.doc_id
             |  GROUP BY 1, 2)
             |SELECT d1 AS src_doc, d2 AS host_doc,
             |  CAST(ix AS DOUBLE) / n AS containment
             |FROM inter JOIN cnt ON d1 = cnt.doc_id
             |WHERE CAST(ix AS DOUBLE) / n >= 0.8""".stripMargin)),

    // Composite quality score: five division-free integer signals, keep
    // iff all pass (C4/Gopher-style corpus filtering)
    Q("q110_quality_composite",
      (s, d) => Curation.qualityComposite(Tables.documents(s, d)),
      Some("""WITH wc AS (
             |  SELECT doc_id, w, count(*) AS c
             |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
             |  GROUP BY doc_id, w),
             |agg AS (
             |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words, max(c) AS max_freq,
             |    CAST(sum(c * length(w)) AS BIGINT) AS n_chars,
             |    CAST(sum(CASE WHEN w IN ('the','a','of','to','and','in','is')
             |          THEN c ELSE 0 END) AS BIGINT) AS n_stopwords
             |  FROM wc GROUP BY doc_id)
             |SELECT doc_id, n_words,
             |  CAST((CASE WHEN n_words >= 10 THEN 1 ELSE 0 END)
             |     + (CASE WHEN n_words <= 1000 THEN 1 ELSE 0 END)
             |     + (CASE WHEN max_freq * 5 < n_words THEN 1 ELSE 0 END)
             |     + (CASE WHEN n_stopwords * 50 >= n_words THEN 1 ELSE 0 END)
             |     + (CASE WHEN n_chars >= n_words * 2 AND n_chars <= n_words * 12
             |          THEN 1 ELSE 0 END) AS INT) AS score,
             |  CAST(CASE WHEN n_words >= 10 AND n_words <= 1000
             |    AND max_freq * 5 < n_words AND n_stopwords * 50 >= n_words
             |    AND n_chars >= n_words * 2 AND n_chars <= n_words * 12
             |    THEN 1 ELSE 0 END AS INT) AS keep
             |FROM agg""".stripMargin)),

    // Cross-corpus dedup: new sources (srcN, N >= 10) anti-joined against
    // the base corpus's distinct text hashes; per-source kept/dropped
    Q("q111_cross_corpus_dedup",
      (s, d) => Curation.crossCorpusDedup(Tables.documents(s, d),
        substring(col("source"), 4, 10).cast("int") >= 10),
      Some("""WITH h AS (
             |  SELECT doc_id, source, md5(text) AS h,
             |    CAST(substr(source, 4, 10) AS INT) >= 10 AS is_new
             |  FROM documents),
             |base AS (SELECT DISTINCT h.h FROM h WHERE NOT is_new),
             |nn AS (SELECT source, count(*) AS n_new FROM h WHERE is_new GROUP BY source),
             |kept AS (
             |  SELECT source, count(*) AS n_kept FROM h
             |  WHERE is_new AND h.h NOT IN (SELECT base.h FROM base)
             |  GROUP BY source)
             |SELECT nn.source, nn.n_new, coalesce(kept.n_kept, 0) AS n_kept,
             |  nn.n_new - coalesce(kept.n_kept, 0) AS n_dropped
             |FROM nn LEFT JOIN kept ON nn.source = kept.source""".stripMargin)),

    // LATERAL correlated subquery through the SQL front-end (Spark 4
    // lateral join): per-nation top-2 suppliers by account balance
    Q("q112_lateral_topk",
      (s, d) => {
        Tables.nation(s, d).createOrReplaceTempView("v_nation_lat")
        Tables.supplier(s, d).createOrReplaceTempView("v_supplier_lat")
        s.sql("""
          SELECT n.n_nationkey, t.s_suppkey, t.s_acctbal
          FROM v_nation_lat n,
          LATERAL (
            SELECT s_suppkey, s_acctbal FROM v_supplier_lat s
            WHERE s.s_nationkey = n.n_nationkey
            ORDER BY s_acctbal DESC, s_suppkey ASC LIMIT 2
          ) t""")
      },
      Some("""SELECT n.n_nationkey, t.s_suppkey, t.s_acctbal
             |FROM nation n,
             |LATERAL (
             |  SELECT s_suppkey, s_acctbal FROM supplier s
             |  WHERE s.s_nationkey = n.n_nationkey
             |  ORDER BY s_acctbal DESC, s_suppkey ASC LIMIT 2
             |) t""".stripMargin)),

    // FastSS fuzzy self-join at edit distance <= 1: deletion-neighborhood
    // candidates + exact levenshtein verify. The ORACLE is the independent
    // brute-force formulation — so the check also proves the neighborhood
    // trick finds every pair.
    Q("q113_fuzzy_join",
      (s, d) => Curation.fuzzyJoinEd1(
        Tables.supplier(s, d), "s_suppkey", "s_name"),
      Some("""SELECT a.s_suppkey AS k1, b.s_suppkey AS k2,
             |  CAST(levenshtein(a.s_name, b.s_name) AS INT) AS dist
             |FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
             |WHERE levenshtein(a.s_name, b.s_name) <= 1""".stripMargin)),

    // Triangle enumeration over the word-collocation graph (adjacency
    // count >= 60): ordered triples via the two-join formulation
    Q("q114_triangle_count",
      (s, d) => Curation.triangles(
        Curation.collocationEdges(Tables.documents(s, d), 60)
          .select(col("wa").as("d1"), col("wb").as("d2"))),
      Some("""WITH g AS (
             |  SELECT CASE WHEN w[i] < w[i+1] THEN w[i] ELSE w[i+1] END AS wa,
             |         CASE WHEN w[i] < w[i+1] THEN w[i+1] ELSE w[i] END AS wb
             |  FROM (SELECT string_split(text, ' ') AS w FROM documents) d,
             |       (SELECT unnest(range(1, 1000)) AS i) t
             |  WHERE i <= len(w) - 1 AND w[i] <> w[i+1]),
             |e AS (SELECT wa, wb FROM g GROUP BY wa, wb HAVING count(*) >= 60)
             |SELECT e1.wa AS a, e1.wb AS b, e2.wb AS c
             |FROM e e1 JOIN e e2 ON e1.wb = e2.wa
             |JOIN e e3 ON e3.wa = e1.wa AND e3.wb = e2.wb""".stripMargin)),

    // Keyless interval join, bin-bucketed: clicks from ANY user in the hour
    // before each purchase — an equi join on the time bin instead of a
    // nested-loop theta join (ScalePostureSpec asserts the plan)
    Q("q115_binned_range_join",
      (s, d) => {
        val ev = Tables.events(s, d)
        graft.ops.Relational.binnedIntervalCount(
          ev.filter(col("event_type") === "purchase")
            .select(col("event_id"), col("ts_us")),
          ev.filter(col("event_type") === "click").select(col("ts_us")),
          3600000000L)
      },
      Some("""SELECT p.event_id, epoch_us(p.ts) AS ts_us,
             |  CAST(count(c.ts) AS BIGINT) AS n_before
             |FROM events p LEFT JOIN events c ON c.event_type = 'click'
             |  AND epoch_us(c.ts) >= epoch_us(p.ts) - 3600000000
             |  AND epoch_us(c.ts) < epoch_us(p.ts)
             |WHERE p.event_type = 'purchase'
             |GROUP BY 1, 2""".stripMargin))
  )
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext._

/** Extension queries (M5): dedup, similarity search, text analysis,
  * multimodal, streaming-twin — each with a DuckDB oracle that replays the
  * *identical deterministic pipeline* (md5-prefix content ids + affine hash
  * families + sequential-fold float math), so even LSH candidate generation
  * hash-matches. See ext/Dedup.scala scaladoc for the determinism contract.
  */
object ExtEntries {

  case class Q(name: String,
               fn: (SparkSession, String) => DataFrame,
               sql: Option[String])

  // ---------------------------------------------------------------- SQL CTEs

  /** 3-word shingles, distinct per doc (mirror of Dedup.shingles(k=3)).
    * Position bound 1000 ≫ the fixtures' ≤100 words; the Spark side is
    * uncapped, so the bound must stay comfortably above any fixture. */
  private[graft] val shinglesCte =
    """shd AS (
      |  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS sh
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) d,
      |       (SELECT unnest(range(1, 1000)) AS i) t
      |  WHERE len(w) >= 3 AND i <= len(w) - 2)""".stripMargin

  /** shingle → 48-bit content id (mirror of Dedup.shingleIds; every
    * count/intersection below runs on ids, exactly like the Spark side). */
  private[graft] val shingleIdCte =
    """shid AS (
      |  SELECT doc_id, ('0x' || substr(md5(sh), 1, 12))::BIGINT AS sid
      |  FROM shd)""".stripMargin

  /** BPE-ish sub-word token counts (mirror of TextAnalysis.tokenCountRegex)
    * — shared by the q34 and q60 oracles so the heuristic lives in ONE place. */
  private val subwordToksCte =
    """toks AS (
      |  SELECT doc_id,
      |    CAST(list_sum(list_transform(regexp_split_to_array(text, '[^a-zA-Z0-9]+'),
      |      x -> CAST(floor((len(x) + 3) / 4.0) AS BIGINT))) AS BIGINT) AS n_subword_tokens
      |  FROM documents)""".stripMargin

  private[graft] val shingleCountCte =
    """shcnt AS (SELECT doc_id, count(*) AS n FROM shid GROUP BY doc_id)""".stripMargin

  private[graft] val shingleInterCte =
    """shint AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS ix
      |  FROM shid a JOIN shid b ON a.sid = b.sid AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)""".stripMargin

  /** minhash signatures in long format (mirror of Dedup.minhashLong;
    * operates on shid's 48-bit content ids). */
  private[graft] val minhashLongCte =
    s"""hj AS (SELECT unnest(range(0, ${Dedup.NumHashes})) AS j),
       |sigs AS (
       |  SELECT doc_id, j,
       |    min(((101 * j + 37) * sid + (577 * j + 89)) % ${Dedup.P}) AS minh
       |  FROM shid, hj GROUP BY doc_id, j)""".stripMargin

  /** simhash signatures (mirror of Dedup.simhash; wid = 48-bit md5-prefix
    * content id, one sign term per word occurrence). */
  private[graft] val simhashCte =
    s"""words AS (
       |  SELECT doc_id, ('0x' || substr(md5(w), 1, 12))::BIGINT AS wid
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)),
       |bits AS (
       |  SELECT doc_id, j,
       |    sum((((101 * j + 37) * wid + (577 * j + 89)) % ${Dedup.P} % 2) * 2 - 1) AS s
       |  FROM words, (SELECT unnest(range(0, 64)) AS j)
       |  GROUP BY doc_id, j),
       |simsigs AS (
       |  SELECT doc_id,
       |    CAST(sum(CASE WHEN s <= 0 THEN 0
       |             WHEN j = 63 THEN -9223372036854775808::HUGEINT
       |             ELSE (1::BIGINT << CAST(j AS INT))::HUGEINT END) AS BIGINT) AS simhash
       |  FROM bits GROUP BY doc_id)""".stripMargin

  /** Sequential-fold dot product over 64-dim float lists (mirror of
    * Similarity.dot: widen to double, left fold with +0.0 prefix — adding
    * the 0.0 init is IEEE-exact, so the folds agree bit-for-bit). */
  private[graft] def dotSql(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, 65), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x, y) -> x + y)"

  private[graft] def cosSql(aEmb: String, bEmb: String): String =
    s"(${dotSql(aEmb, bEmb)} / (sqrt(${dotSql(aEmb, aEmb)}) * sqrt(${dotSql(bEmb, bEmb)})))"

  /** The 8 deterministic hyperplanes as inline SQL list literals. */
  private def planeSql(j: Int): String =
    (0 until 64).map { d =>
      val v = ((1103515245L * (j * 64 + d) + 12345L) % Similarity.PlaneP).toDouble /
        Similarity.PlaneP - 0.5
      v.toString
    }.mkString("[", ", ", "]")

  private val bucketSql: String =
    (0 until 8).map { j =>
      val proj = s"list_reduce(list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * (${planeSql(j)})[i]), (x, y) -> x + y)"
      s"(CASE WHEN $proj > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")

  /** q79's profiled columns — ONE list drives both the Spark aggregation
    * and the oracle's UNION ALL, so the twins cannot desynchronize. */
  private val DqProfileCols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority")

  // ---------------------------------------------------------------- queries

  val all: Seq[Q] = Seq(

    // Streaming twin: tumbling event-time aggregation (batch form; the
    // streaming variant is StreamingFeatures.streamTumblingAgg, parity-tested)
    Q("q19_tumbling_agg",
      (s, d) => graft.streaming.StreamingFeatures.tumblingAgg(Tables.events(s, d)),
      Some("""SELECT event_type, epoch_us(ts) // 3600000000 AS hour_bucket,
             |  count(*) AS n_events,
             |  CAST(sum(CAST(round(coalesce(value, 0) * 100) AS BIGINT)) AS BIGINT) / 100.0 AS value_sum
             |FROM events GROUP BY 1, 2""".stripMargin)),

    // Exact dedup by content hash
    Q("q20_dedup_exact",
      (s, d) => Dedup.exact(Tables.documents(s, d)),
      Some("""SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
             |  count(*) AS n_copies
             |FROM documents GROUP BY md5(text)""".stripMargin)),

    // Exact n-gram Jaccard near-dup pairs (3-word shingles, j >= 0.5)
    Q("q21_dedup_ngram",
      (s, d) => Dedup.ngramJaccardPairs(Tables.documents(s, d), 3, 0.5),
      Some(s"""WITH $shinglesCte, $shingleIdCte, $shingleCountCte, $shingleInterCte
              |SELECT d1, d2,
              |  CAST(ix AS DOUBLE) / (ca.n + cb.n - ix) AS jaccard
              |FROM shint
              |JOIN shcnt ca ON d1 = ca.doc_id
              |JOIN shcnt cb ON d2 = cb.doc_id
              |WHERE CAST(ix AS DOUBLE) / (ca.n + cb.n - ix) >= 0.5""".stripMargin)),

    // MinHash signatures (16 affine hashes over the md5-prefix shingle id)
    Q("q22_minhash_sigs",
      (s, d) => Dedup.minhashLong(Tables.documents(s, d), 3)
        .select(col("doc_id"), col("j").cast("long").as("j"), col("minh")),
      Some(s"""WITH $shinglesCte, $shingleIdCte, $minhashLongCte
              |SELECT doc_id, j, CAST(minh AS BIGINT) AS minh FROM sigs""".stripMargin)),

    // MinHash-LSH candidate pairs (4×4 banding) + exact-Jaccard verify
    Q("q23_minhash_lsh_pairs",
      (s, d) => Dedup.minhashLshPairs(Tables.documents(s, d), 3, 0.5),
      Some(s"""WITH $shinglesCte, $shingleIdCte, $minhashLongCte, $shingleCountCte, $shingleInterCte,
              |wide AS (
              |  SELECT doc_id,
              |    ${(0 until 16).map(j => s"min(CASE WHEN j = $j THEN minh END) AS h$j").mkString(", ")}
              |  FROM sigs GROUP BY doc_id),
              |bands AS (
              |  ${(0 until 4).map(b =>
                   s"SELECT doc_id, $b AS band, " +
                   (0 until 4).map(r => s"CAST(h${b * 4 + r} AS VARCHAR)").mkString(" || ',' || ") +
                   " AS sig FROM wide").mkString(" UNION ALL ")}),
              |cands AS (
              |  SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
              |  FROM bands x JOIN bands y
              |    ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id)
              |SELECT c.d1, c.d2, CAST(ix AS DOUBLE) / (ca.n + cb.n - ix) AS jaccard
              |FROM cands c
              |JOIN shint ON c.d1 = shint.d1 AND c.d2 = shint.d2
              |JOIN shcnt ca ON c.d1 = ca.doc_id
              |JOIN shcnt cb ON c.d2 = cb.doc_id
              |WHERE CAST(ix AS DOUBLE) / (ca.n + cb.n - ix) >= 0.5""".stripMargin)),

    // Near-dup clusters: connected components of the Jaccard>=0.5 pair graph
    // (iterative min-label propagation; oracle = recursive-CTE transitive
    // closure — different algorithm, same fixpoint)
    Q("q48_neardup_clusters",
      (s, d) => Dedup.nearDupClusters(Tables.documents(s, d),
        Dedup.ngramJaccardPairs(Tables.documents(s, d), 3, 0.5)),
      Some(s"""WITH RECURSIVE $shinglesCte, $shingleIdCte, $shingleCountCte, $shingleInterCte,
              |pairs AS (
              |  SELECT d1, d2 FROM shint
              |  JOIN shcnt ca ON d1 = ca.doc_id
              |  JOIN shcnt cb ON d2 = cb.doc_id
              |  WHERE CAST(ix AS DOUBLE) / (ca.n + cb.n - ix) >= 0.5),
              |edges AS (SELECT d1 AS a, d2 AS b FROM pairs
              |          UNION ALL SELECT d2, d1 FROM pairs),
              |reach(doc_id, r) AS (
              |  SELECT doc_id, doc_id FROM documents
              |  UNION
              |  SELECT reach.doc_id, e.b FROM reach JOIN edges e ON e.a = reach.r)
              |SELECT doc_id, min(r) AS cluster_id FROM reach GROUP BY doc_id""".stripMargin)),

    // SimHash 16-bit signatures
    Q("q24_simhash_sigs",
      (s, d) => Dedup.simhash(Tables.documents(s, d)),
      Some(s"""WITH $simhashCte
              |SELECT doc_id, simhash FROM simsigs""".stripMargin)),

    // SimHash near-dup pairs (hamming <= 3; Spark uses lossless nibble
    // banding, oracle brute-forces — identical result by pigeonhole)
    Q("q25_simhash_pairs",
      (s, d) => Dedup.simhashPairs(Tables.documents(s, d), 3),
      Some(s"""WITH $simhashCte
              |SELECT a.doc_id AS d1, b.doc_id AS d2,
              |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
              |FROM simsigs a JOIN simsigs b ON a.doc_id < b.doc_id
              |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin)),

    // Embedding near-dup pairs via sign-random-projection buckets + exact cos
    Q("q26_embed_neardup",
      (s, d) => {
        Similarity.embeddingNearDupPairs(Tables.embeddings(s, d), 8, 0.4)
      },
      Some(s"""WITH b AS (
              |  SELECT vec_id, embedding, $bucketSql AS bucket FROM embeddings)
              |SELECT x.vec_id AS v1, y.vec_id AS v2,
              |  ${cosSql("x.embedding", "y.embedding")} AS cos
              |FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
              |WHERE ${cosSql("x.embedding", "y.embedding")} >= 0.4""".stripMargin)),

    // Exact brute-force cosine top-5 for 20 query vectors
    Q("q27_ann_topk",
      (s, d) => {
        Similarity.bruteForceTopK(Tables.embeddings(s, d), 20, 5)
      },
      Some(s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb
              |          FROM embeddings WHERE vec_id < 20),
              |c AS (SELECT vec_id AS n_id, embedding AS n_emb FROM embeddings),
              |scored AS (
              |  SELECT q_id, n_id, ${cosSql("q_emb", "n_emb")} AS cos
              |  FROM c JOIN q ON q_id <> n_id)
              |SELECT q_id, CAST(rank AS INT) AS rank, n_id, cos
              |FROM (SELECT *, row_number() OVER (PARTITION BY q_id
              |        ORDER BY cos DESC, n_id ASC) AS rank FROM scored)
              |WHERE rank <= 5""".stripMargin)),

    // IVF top-5: deterministic coarse centroids (vec_id % 100 == 0), nprobe=2
    Q("q28_ann_ivf",
      (s, d) => {
        // persisted (plan census r9): centroids, assignment corpus and
        // probe queries all derive from the one embeddings relation
        val emb = Tables.embeddings(s, d)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        Similarity.ivfTopK(emb, 20, 5, 100, 2)
      },
      Some(s"""WITH cent AS (SELECT vec_id AS c_id, embedding AS c_emb
              |             FROM embeddings WHERE vec_id % 100 = 0),
              |assigned AS (
              |  SELECT n_id, n_emb, c_id FROM (
              |    SELECT e.vec_id AS n_id, e.embedding AS n_emb, c.c_id,
              |      row_number() OVER (PARTITION BY e.vec_id
              |        ORDER BY ${cosSql("e.embedding", "c.c_emb")} DESC, c.c_id ASC) AS arn
              |    FROM embeddings e, cent c)
              |  WHERE arn = 1),
              |probes AS (
              |  SELECT q_id, q_emb, c_id FROM (
              |    SELECT e.vec_id AS q_id, e.embedding AS q_emb, c.c_id,
              |      row_number() OVER (PARTITION BY e.vec_id
              |        ORDER BY ${cosSql("e.embedding", "c.c_emb")} DESC, c.c_id ASC) AS prn
              |    FROM embeddings e, cent c WHERE e.vec_id < 20)
              |  WHERE prn <= 2)
              |SELECT q_id, CAST(rank AS INT) AS rank, n_id, cos
              |FROM (
              |  SELECT q_id, n_id, cos, row_number() OVER (PARTITION BY q_id
              |      ORDER BY cos DESC, n_id ASC) AS rank
              |  FROM (SELECT p.q_id, a.n_id, ${cosSql("p.q_emb", "a.n_emb")} AS cos
              |        FROM assigned a JOIN probes p USING (c_id)
              |        WHERE p.q_id <> a.n_id))
              |WHERE rank <= 5""".stripMargin)),

    // Per-label embedding centroids (k-means building block): integerized
    // exact vector aggregation, one row per (label, dim)
    Q("q51_label_centroids",
      (s, d) => Similarity.labelCentroids(Tables.embeddings(s, d)),
      Some("""SELECT label, CAST(dim - 1 AS INT) AS dim,
             |  CAST(sum(CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT)
             |    / 1000000.0 / count(*) AS c,
             |  count(*) AS n_vectors
             |FROM (SELECT label, unnest(embedding) AS x,
             |        generate_subscripts(embedding, 1) AS dim
             |      FROM embeddings)
             |GROUP BY label, dim""".stripMargin)),

    // Time-series gap fill + forward fill: hourly grid per user between
    // first and last event, value carried forward over empty hours
    Q("q52_gap_fill",
      (s, d) => {
        val hourly = Tables.events(s, d)
          .withColumn("hb", expr("ts_us DIV 3600000000"))
          .withColumn("vc", round(coalesce(col("value"), lit(0.0)) * 100).cast("long"))
          .groupBy(col("user_id"), col("hb"))
          .agg(count(lit(1)).as("n_events"), max(col("vc")).as("max_vc"))
          .cache() // feeds both the grid min/max and the left join
        val grid = hourly.groupBy(col("user_id"))
          .agg(min(col("hb")).as("h0"), max(col("hb")).as("h1"))
          .select(col("user_id"),
            explode(sequence(col("h0"), col("h1"))).as("hb"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("hb"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        grid.join(hourly, Seq("user_id", "hb"), "left")
          .select(col("user_id"), col("hb"),
            coalesce(col("n_events"), lit(0L)).as("n_events"),
            (last(col("max_vc"), ignoreNulls = true).over(w) / lit(100.0))
              .as("ffill_value"))
      },
      Some("""WITH hourly AS (
             |  SELECT user_id, epoch_us(ts) // 3600000000 AS hb,
             |    count(*) AS n_events,
             |    max(CAST(round(coalesce(value, 0) * 100) AS BIGINT)) AS max_vc
             |  FROM events GROUP BY 1, 2),
             |grid AS (
             |  SELECT user_id, unnest(range(h0, h1 + 1)) AS hb
             |  FROM (SELECT user_id, min(hb) AS h0, max(hb) AS h1
             |        FROM hourly GROUP BY user_id)),
             |joined AS (
             |  SELECT g.user_id, g.hb,
             |    coalesce(h.n_events, 0) AS n_events, h.max_vc
             |  FROM grid g LEFT JOIN hourly h
             |    ON g.user_id = h.user_id AND g.hb = h.hb)
             |SELECT user_id, hb, n_events,
             |  CAST(last_value(max_vc IGNORE NULLS) OVER (PARTITION BY user_id
             |    ORDER BY hb ROWS UNBOUNDED PRECEDING) AS BIGINT) / 100.0 AS ffill_value
             |FROM joined""".stripMargin)),

    // Deterministic distributed k-means (2 Lloyd iterations, cosine
    // assignment, integerized-exact centroid means) — the oracle replays the
    // identical trajectory as two unrolled SQL iterations
    Q("q53_kmeans",
      (s, d) => {
        // persisted (plan census r9): every assignment round and the
        // final labeling re-read the same vectors
        val emb = Tables.embeddings(s, d)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        Similarity.kmeans(emb, 100, 2)
      },
      Some {
        def assignSql(cent: String, out: String) =
          s"""$out AS (
             |  SELECT vec_id, embedding, cluster FROM (
             |    SELECT e.vec_id, e.embedding, c.cluster,
             |      row_number() OVER (PARTITION BY e.vec_id
             |        ORDER BY ${cosSql("e.embedding", "c.centroid")} DESC, c.cluster ASC) AS rn
             |    FROM embeddings e, $cent c)
             |  WHERE rn = 1)""".stripMargin
        s"""WITH cent0 AS (
           |  SELECT vec_id AS cluster,
           |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS centroid
           |  FROM embeddings WHERE vec_id % 100 = 0),
           |${assignSql("cent0", "a0")},
           |cent1 AS (
           |  SELECT cluster, array_agg(c ORDER BY dim) AS centroid FROM (
           |    SELECT cluster, dim,
           |      CAST(sum(CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT)
           |        / 1000000.0 / count(*) AS c
           |    FROM (SELECT cluster, unnest(embedding) AS x,
           |            generate_subscripts(embedding, 1) AS dim FROM a0)
           |    GROUP BY cluster, dim)
           |  GROUP BY cluster),
           |${assignSql("cent1", "a1")}
           |SELECT vec_id, cluster FROM a1""".stripMargin
      }),

    // Multimodal: binary payload decode (stubbed codec, real plumbing)
    Q("q29_multimodal_decode",
      (s, d) => Multimodal.decodeFeatures(s, Tables.documents(s, d)).toDF(),
      Some(s"""SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
              |  CAST(coalesce(sum(ord(substr(text, CAST(i AS INT), 1)) *
              |    ((${TextAnalysis.FpA} * i + ${TextAnalysis.FpB}) % ${TextAnalysis.FpP})), 0)
              |    % ${TextAnalysis.FpP} AS BIGINT) AS checksum,
              |  CAST(strlen(text) % 640 AS INT) AS width,
              |  CAST(strlen(text) * 7 % 480 AS INT) AS height,
              |  3 AS channels
              |FROM documents LEFT JOIN (SELECT unnest(range(1, 2000)) AS i) t
              |  ON i <= strlen(text)
              |GROUP BY doc_id, text""".stripMargin)),

    // Token statistics (whitespace tokenization)
    Q("q30_text_tokens",
      (s, d) => TextAnalysis.tokenStats(Tables.documents(s, d)),
      Some("""SELECT doc_id,
             |  CAST(len(w) AS BIGINT) AS n_tokens,
             |  CAST(len(list_distinct(w)) AS BIGINT) AS n_unique_tokens,
             |  CAST(list_sum(list_transform(w, x -> len(x))) AS DOUBLE) / len(w) AS avg_token_len
             |FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)""".stripMargin)),

    // Quality scoring (stopword ratio, type-token ratio, composite score)
    Q("q31_text_quality",
      (s, d) => TextAnalysis.qualityScore(Tables.documents(s, d)),
      Some("""SELECT doc_id,
             |  CAST(len(text) AS BIGINT) AS n_chars_calc,
             |  CAST(len(w) AS BIGINT) AS n_tokens,
             |  CAST(ns AS DOUBLE) / len(w) AS stopword_ratio,
             |  CAST(nu AS DOUBLE) / len(w) AS ttr,
             |  least(greatest(CAST(nu AS DOUBLE) / len(w)
             |    - 0.5 * (CAST(ns AS DOUBLE) / len(w)), 0.0), 1.0) AS quality_score
             |FROM (
             |  SELECT doc_id, text, w,
             |    len(list_filter(w, x -> list_contains(['the','a','of','and','to'], x))) AS ns,
             |    len(list_distinct(w)) AS nu
             |  FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents))""".stripMargin)),

    // Language ID: corpus-trained char-trigram majority vote
    Q("q32_text_langid",
      (s, d) => TextAnalysis.langId(Tables.documents(s, d)),
      Some("""WITH tri AS (
             |  SELECT DISTINCT doc_id, lang,
             |    CAST(ord(substr(text, CAST(i AS INT), 1)) * 65536
             |       + ord(substr(text, CAST(i AS INT) + 1, 1)) * 256
             |       + ord(substr(text, CAST(i AS INT) + 2, 1)) AS BIGINT) AS tg
             |  FROM documents, (SELECT unnest(range(1, 2000)) AS i) t
             |  WHERE len(text) >= 3 AND i <= len(text) - 2),
             |dict AS (
             |  SELECT tg, lang AS tg_lang FROM (
             |    SELECT tg, lang, row_number() OVER (PARTITION BY tg
             |      ORDER BY count(*) DESC, lang ASC) AS rn
             |    FROM tri GROUP BY tg, lang)
             |  WHERE rn = 1)
             |SELECT doc_id, lang, tg_lang AS guess,
             |  CAST(CASE WHEN tg_lang = lang THEN 1 ELSE 0 END AS INT) AS correct
             |FROM (
             |  SELECT t.doc_id, t.lang, d.tg_lang,
             |    row_number() OVER (PARTITION BY t.doc_id
             |      ORDER BY count(*) DESC, d.tg_lang ASC) AS rn
             |  FROM tri t JOIN dict d USING (tg)
             |  GROUP BY t.doc_id, t.lang, d.tg_lang)
             |WHERE rn = 1""".stripMargin)),

    // Position-weighted modular fingerprint
    Q("q33_text_fingerprint",
      (s, d) => TextAnalysis.fingerprint(Tables.documents(s, d)),
      Some(s"""SELECT doc_id,
              |  CAST(coalesce(sum(ord(substr(text, CAST(i AS INT), 1)) *
              |    ((${TextAnalysis.FpA} * i + ${TextAnalysis.FpB}) % ${TextAnalysis.FpP})), 0)
              |    % ${TextAnalysis.FpP} AS BIGINT) AS fp
              |FROM documents LEFT JOIN (SELECT unnest(range(1, 2000)) AS i) t
              |  ON i <= len(text)
              |GROUP BY doc_id""".stripMargin)),

    // Custom TypedImperativeAggregate: exact distinct count over a range
    // frame (the SURVEY §4 scale-path aggregate), vs DuckDB's windowed
    // COUNT(DISTINCT)
    Q("q35_distinct_window",
      (s, d) => {
        val base = graft.ops.Features.eventFrame(Tables.events(s, d))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("ts_us"))
          .rangeBetween(-7L * 86400L * 1000000L, 0)
        base.select(col("user_id"), col("event_id"), col("ts_us"),
          graft.functions.GraftFunctions.distinctCountExact(col("sku"))
            .over(w).as("uniq_7d"))
      },
      Some("""SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             |  CAST(count(DISTINCT props) OVER (PARTITION BY user_id
             |    ORDER BY epoch_us(ts)
             |    RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW) AS BIGINT) AS uniq_7d
             |FROM events""".stripMargin)),

    // Custom codegen'd Expression: native single-pass fingerprint (same
    // semantics as q33's declarative formulation, same oracle)
    Q("q36_fingerprint_native",
      (s, d) => {
        Tables.documents(s, d).select(col("doc_id"),
          graft.functions.GraftFunctions.asciiFingerprint(col("text")).as("fp"))
      },
      Some(s"""SELECT doc_id,
              |  CAST(coalesce(sum(ord(substr(text, CAST(i AS INT), 1)) *
              |    ((${TextAnalysis.FpA} * i + ${TextAnalysis.FpB}) % ${TextAnalysis.FpP})), 0)
              |    % ${TextAnalysis.FpP} AS BIGINT) AS fp
              |FROM documents LEFT JOIN (SELECT unnest(range(1, 2000)) AS i) t
              |  ON i <= len(text)
              |GROUP BY doc_id""".stripMargin)),

    // The 100 TB scale path for distinct counting: HLL++ sketches (mergeable
    // constant state). HLL internals differ per engine, so the oracle can't
    // replay the sketch — instead this is a SELF-JUDGING GATE (the q168/q177
    // pattern): Spark emits the exact distinct counts plus booleans checking
    // its own HLL output against them (±5%); the oracle replays the exact
    // side and emits literal TRUE. A sketch-accuracy regression flips the
    // flag and fails the hash — a real driver-checkable gate.
    // rsd 0.02, not 0.01: measured at sf0.1, Spark's HLL++ update path is
    // 5x slower at rsd=0.01 (1.7s vs 0.31s at 0.05) — slower than EXACT
    // countDistinct at this cardinality — while 0.02 keeps the error well
    // inside the 5% bound.
    // The exact side runs as two SEPARATE distinct-then-count reduces
    // (each fully map-side-combinable on its (flag, key) grain) joined to
    // one sketch pass — NOT as multi-column countDistinct in the sketch
    // agg, which plans an Expand (row multiplication) + sort-based
    // distinct aggregates and measured 6 s vs ~1.5 s at sf0.1.
    Q("q43_approx_distinct",
      (s, d) => {
        // persisted (plan census r9): the approx pass and both exact
        // distinct passes read the same 3 columns
        val li = Tables.lineitem(s, d)
          .select(col("l_returnflag"), col("l_partkey"), col("l_orderkey"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val ap = li.groupBy(col("l_returnflag"))
          .agg(approx_count_distinct(col("l_partkey"), 0.02).as("ap"),
            approx_count_distinct(col("l_orderkey"), 0.02).as("ao"))
        val ep = li.select(col("l_returnflag"), col("l_partkey")).distinct()
          .groupBy(col("l_returnflag")).agg(count(lit(1)).as("exact_parts"))
        val eo = li.select(col("l_returnflag"), col("l_orderkey")).distinct()
          .groupBy(col("l_returnflag")).agg(count(lit(1)).as("exact_orders"))
        ep.join(eo, Seq("l_returnflag")).join(ap, Seq("l_returnflag"))
          .select(col("l_returnflag"), col("exact_parts"), col("exact_orders"),
            (abs(col("ap") - col("exact_parts")) * 20 <= col("exact_parts"))
              .as("parts_within_5pct"),
            (abs(col("ao") - col("exact_orders")) * 20 <= col("exact_orders"))
              .as("orders_within_5pct"))
      },
      Some("""SELECT l_returnflag,
             |  count(DISTINCT l_partkey) AS exact_parts,
             |  count(DISTINCT l_orderkey) AS exact_orders,
             |  TRUE AS parts_within_5pct,
             |  TRUE AS orders_within_5pct
             |FROM lineitem GROUP BY 1""".stripMargin)),

    // BPE-ish sub-word token budget count
    Q("q34_token_count_bpe",
      (s, d) => TextAnalysis.tokenCountRegex(Tables.documents(s, d)),
      Some(s"""WITH $subwordToksCte
              |SELECT doc_id, n_subword_tokens FROM toks""".stripMargin)),

    // ------------------------------------------------ training-prep surface

    // Deterministic leakage-free train/val/test split by key content hash
    Q("q54_hash_split",
      (s, d) => TrainPrep.hashSplit(Tables.customer(s, d), "c_custkey")
        .select(col("c_custkey"), col("bucket"), col("split")),
      Some("""SELECT c_custkey,
             |  ('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 12))::BIGINT % 10 AS bucket,
             |  CASE WHEN ('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 12))::BIGINT % 10 < 8 THEN 'train'
             |       WHEN ('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 12))::BIGINT % 10 = 8 THEN 'val'
             |       ELSE 'test' END AS split
             |FROM customer""".stripMargin)),

    // Deterministic stratified sample: first 100 per segment in md5 order
    Q("q55_stratified_sample",
      (s, d) => TrainPrep.stratifiedSample(
        Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment")),
        "c_mktsegment", "c_custkey", 100),
      Some("""SELECT c_custkey, c_mktsegment, rn FROM (
             |  SELECT c_custkey, c_mktsegment,
             |    CAST(row_number() OVER (PARTITION BY c_mktsegment
             |      ORDER BY md5(CAST(c_custkey AS VARCHAR)), c_custkey) AS BIGINT) AS rn
             |  FROM customer)
             |WHERE rn <= 100""".stripMargin)),

    // Group-limit: top-3 orders by value per customer (deterministic ties)
    Q("q56_group_topk",
      (s, d) => graft.ext.TopK.rank(
        Tables.orders(s, d).select(col("o_custkey"), col("o_orderkey"),
          col("o_totalprice")),
        Seq("o_custkey"), "o_totalprice", "o_orderkey", 3, "rn"),
      Some("""SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
             |  SELECT o_custkey, o_orderkey, o_totalprice,
             |    CAST(row_number() OVER (PARTITION BY o_custkey
             |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS rn
             |  FROM orders)
             |WHERE rn <= 3""".stripMargin)),

    // Decile statistics of order value (ntile over a deterministic total order)
    Q("q57_quantile_bins",
      (s, d) => TrainPrep.quantileBins(Tables.orders(s, d), 10),
      Some("""SELECT bin, count(*) AS n,
             |  min(price_cents) AS min_cents, max(price_cents) AS max_cents,
             |  CAST(sum(price_cents) AS BIGINT) AS sum_cents
             |FROM (
             |  SELECT CAST(ntile(10) OVER (ORDER BY price_cents, o_orderkey) AS BIGINT) AS bin,
             |         price_cents
             |  FROM (SELECT o_orderkey,
             |          CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
             |        FROM orders))
             |GROUP BY bin""".stripMargin)),

    // Pairwise Pearson correlation from integer sufficient statistics
    Q("q58_corr_matrix",
      (s, d) => TrainPrep.corrMatrix(Tables.lineitem(s, d)),
      Some("""WITH b AS (
             |  SELECT CAST(l_quantity AS BIGINT) AS q,
             |         CAST(round(l_extendedprice) AS BIGINT) AS p,
             |         CAST(round(l_discount * 100) AS BIGINT) AS d
             |  FROM lineitem),
             |s AS (
             |  SELECT count(*) AS n,
             |    CAST(sum(q) AS BIGINT) AS sq, CAST(sum(p) AS BIGINT) AS sp,
             |    CAST(sum(d) AS BIGINT) AS sd, CAST(sum(q*q) AS BIGINT) AS sqq,
             |    CAST(sum(p*p) AS BIGINT) AS spp, CAST(sum(d*d) AS BIGINT) AS sdd,
             |    CAST(sum(q*p) AS BIGINT) AS sqp, CAST(sum(q*d) AS BIGINT) AS sqd,
             |    CAST(sum(p*d) AS BIGINT) AS spd
             |  FROM b)
             |SELECT n,
             |  (CAST(n AS DOUBLE) * CAST(sqp AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sp AS DOUBLE))
             |    / (sqrt(CAST(n AS DOUBLE) * CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
             |     * sqrt(CAST(n AS DOUBLE) * CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE))) AS corr_qty_price,
             |  (CAST(n AS DOUBLE) * CAST(sqd AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sd AS DOUBLE))
             |    / (sqrt(CAST(n AS DOUBLE) * CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
             |     * sqrt(CAST(n AS DOUBLE) * CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE))) AS corr_qty_disc,
             |  (CAST(n AS DOUBLE) * CAST(spd AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(sd AS DOUBLE))
             |    / (sqrt(CAST(n AS DOUBLE) * CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE))
             |     * sqrt(CAST(n AS DOUBLE) * CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE))) AS corr_price_disc
             |FROM s""".stripMargin)),

    // TF-IDF-style scoring with a log-free idf (transcendental-free parity)
    Q("q59_tfidf",
      (s, d) => TrainPrep.tfidf(Tables.documents(s, d)),
      Some("""WITH wrds AS (
             |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
             |tf AS (SELECT doc_id, w, count(*) AS tf FROM wrds GROUP BY 1, 2),
             |dfx AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
             |n AS (SELECT count(*) AS n_docs FROM documents)
             |SELECT doc_id, tf.w AS w, tf, df,
             |  (CAST(tf AS DOUBLE) * (CAST(n_docs - df AS DOUBLE) + 0.5))
             |    / (CAST(df AS DOUBLE) + 0.5) AS score
             |FROM tf JOIN dfx USING (w), n""".stripMargin)),

    // Token-budget sequence packing within content-hash shards
    Q("q60_pack_sequences",
      (s, d) => TrainPrep.packSequences(Tables.documents(s, d), 2048L, 8),
      Some(s"""WITH $subwordToksCte,
              |sh AS (
             |  SELECT doc_id, n_subword_tokens,
             |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT % 8 AS shard
             |  FROM toks),
             |c AS (
             |  SELECT *, sum(n_subword_tokens) OVER (PARTITION BY shard
             |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
             |  FROM sh)
             |SELECT doc_id, shard, n_subword_tokens,
             |  CAST((cum - n_subword_tokens) // 2048 AS BIGINT) AS bin
             |FROM c""".stripMargin)),

    // Set operators: INTERSECT / EXCEPT over two customer predicates
    Q("q61_set_ops",
      (s, d) => {
        val orders = Tables.orders(s, d)
        val high = orders.filter(col("o_totalprice") > 300000.0)
          .select(col("o_custkey"))
        val urgent = orders.filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_custkey"))
        high.intersect(urgent).select(col("o_custkey"), lit("both").as("tag"))
          .unionByName(high.except(urgent)
            .select(col("o_custkey"), lit("high_only").as("tag")))
      },
      Some("""SELECT o_custkey, 'both' AS tag FROM (
             |  SELECT o_custkey FROM orders WHERE o_totalprice > 300000.0
             |  INTERSECT
             |  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
             |UNION ALL
             |SELECT o_custkey, 'high_only' AS tag FROM (
             |  SELECT o_custkey FROM orders WHERE o_totalprice > 300000.0
             |  EXCEPT
             |  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')""".stripMargin)),

    // Text normalization: lowercase, strip punctuation, collapse whitespace
    Q("q62_text_normalize",
      (s, d) => TrainPrep.normalizeText(Tables.documents(s, d)),
      Some("""SELECT doc_id,
             |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' +', ' ', 'g')) AS norm_text,
             |  regexp_matches(text, '^[ -~]*$') AS is_ascii,
             |  CAST(length(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' +', ' ', 'g'))) AS BIGINT) AS norm_len
             |FROM documents""".stripMargin)),

    // Inverse-frequency class weights over the language label
    Q("q63_class_weights",
      (s, d) => TrainPrep.classWeights(Tables.documents(s, d), "lang"),
      Some("""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
             |t AS (SELECT CAST(sum(n) AS BIGINT) AS total, count(*) AS k FROM c)
             |SELECT lang, n,
             |  CAST(total AS DOUBLE) / CAST(k * n AS DOUBLE) AS weight
             |FROM c, t""".stripMargin)),

    // CUBE grouping-sets aggregation with an explicit grouping id
    Q("q64_cube",
      (s, d) => Tables.events(s, d)
        // % not pmod: SQL % keeps the dividend sign, so pmod would diverge
        // on pre-1970 (negative-epoch) timestamps
        .select(col("event_type"),
          (expr("ts_us DIV 86400000000") % lit(7L)).as("dow"))
        .cube(col("event_type"), col("dow"))
        .agg(count(lit(1)).as("n_events"),
          (grouping(col("event_type")) * 2 + grouping(col("dow")))
            .cast("long").as("gid")),
      Some("""SELECT event_type, dow, count(*) AS n_events,
             |  CAST(GROUPING(event_type) * 2 + GROUPING(dow) AS BIGINT) AS gid
             |FROM (SELECT event_type, (epoch_us(ts) // 86400000000) % 7 AS dow
             |      FROM events)
             |GROUP BY CUBE(event_type, dow)""".stripMargin)),

    // Multimodal frame sampling: every 4th 256-byte frame + per-frame
    // checksum. Oracle generator bounds (16 frames = 4096 B; 256 positions)
    // must stay comfortably above the fixtures' max doc length (577 B,
    // ASCII-only — ord/substr are char-based and equal bytes only for
    // ASCII); the Spark side is uncapped.
    Q("q65_frame_sample",
      (s, d) => Multimodal.frameSample(s, Tables.documents(s, d)).toDF(),
      Some(s"""SELECT doc_id, f AS frame_idx,
              |  least(256, CAST(strlen(text) AS BIGINT) - f * 256) AS frame_bytes,
              |  CAST(coalesce(sum(ord(substr(text, CAST(f * 256 + i AS INT), 1)) *
              |    ((${TextAnalysis.FpA} * i + ${TextAnalysis.FpB}) % ${TextAnalysis.FpP})), 0)
              |    % ${TextAnalysis.FpP} AS BIGINT) AS checksum
              |FROM documents
              |JOIN (SELECT unnest(range(0, 16)) AS f) tf
              |  ON f * 256 < strlen(text) AND f % 4 = 0
              |LEFT JOIN (SELECT unnest(range(1, 257)) AS i) ti
              |  ON f * 256 + i <= strlen(text)
              |GROUP BY doc_id, f, strlen(text)""".stripMargin)),

    // Full outer join: reconcile per-customer spend across two periods
    // (the snapshot-diff pattern; COALESCE completes the sparse sides)
    Q("q67_full_outer_diff",
      (s, d) => {
        val o = Tables.orders(s, d)
          .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
        val median = lit(63072000000000L) // 1972-01-01 epoch us: period split
        val a = o.filter(graft.ops.Relational.epochUs(col("o_orderdate")) < median)
          .groupBy(col("o_custkey")).agg(sum(col("cents")).as("spend_a"))
        val b = o.filter(graft.ops.Relational.epochUs(col("o_orderdate")) >= median)
          .groupBy(col("o_custkey")).agg(sum(col("cents")).as("spend_b"))
        a.join(b, Seq("o_custkey"), "full_outer")
          .select(col("o_custkey"),
            coalesce(col("spend_a"), lit(0L)).as("spend_a"),
            coalesce(col("spend_b"), lit(0L)).as("spend_b"),
            (coalesce(col("spend_b"), lit(0L)) -
              coalesce(col("spend_a"), lit(0L))).as("delta_cents"))
      },
      Some("""WITH o AS (SELECT o_custkey, epoch_us(o_orderdate) AS ts,
             |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
             |a AS (SELECT o_custkey, CAST(sum(cents) AS BIGINT) AS spend_a
             |      FROM o WHERE ts < 63072000000000 GROUP BY o_custkey),
             |b AS (SELECT o_custkey, CAST(sum(cents) AS BIGINT) AS spend_b
             |      FROM o WHERE ts >= 63072000000000 GROUP BY o_custkey)
             |SELECT COALESCE(a.o_custkey, b.o_custkey) AS o_custkey,
             |  COALESCE(spend_a, 0) AS spend_a,
             |  COALESCE(spend_b, 0) AS spend_b,
             |  COALESCE(spend_b, 0) - COALESCE(spend_a, 0) AS delta_cents
             |FROM a FULL OUTER JOIN b ON a.o_custkey = b.o_custkey""".stripMargin)),

    // Array-function battery: sorted price list per customer, element access
    Q("q68_array_funcs",
      (s, d) => Tables.orders(s, d)
        .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
        .groupBy(col("o_custkey"))
        .agg(sort_array(collect_list(col("cents"))).as("prices"))
        .select(col("o_custkey"),
          size(col("prices")).cast("long").as("n"),
          element_at(col("prices"), 1).as("cheapest"),
          element_at(col("prices"), -1).as("priciest"),
          when(size(col("prices")) >= 2, element_at(col("prices"), 2))
            .as("second_cheapest"),
          array_contains(col("prices"), 0L).as("has_zero"),
          aggregate(slice(col("prices"), lit(1),
            least(size(col("prices")), lit(3))), lit(0L), _ + _)
            .as("sum_bottom3")),
      Some("""SELECT o_custkey, CAST(len(prices) AS BIGINT) AS n,
             |  prices[1] AS cheapest,
             |  prices[-1] AS priciest,
             |  CASE WHEN len(prices) >= 2 THEN prices[2] END AS second_cheapest,
             |  list_contains(prices, 0) AS has_zero,
             |  CAST(list_sum(prices[1:least(len(prices), 3)]) AS BIGINT) AS sum_bottom3
             |FROM (SELECT o_custkey,
             |        list_sort(list(CAST(round(o_totalprice * 100) AS BIGINT))) AS prices
             |      FROM orders GROUP BY o_custkey)""".stripMargin)),

    // Multimodal resize stub: nearest-neighbor byte downsampling (step 4).
    // Oracle keeps positions via range(1, 2000) -> docs up to ~7996 B; the
    // fixtures' max is 577 B (see q65 note on the ASCII/byte assumption).
    Q("q69_resize",
      (s, d) => Multimodal.resizeStub(s, Tables.documents(s, d)).toDF(),
      Some(s"""SELECT doc_id, CAST(strlen(text) AS BIGINT) AS orig_bytes,
              |  CAST(count(i) AS BIGINT) AS resized_bytes,
              |  CAST(count(i) % 640 AS INT) AS new_width,
              |  CAST(count(i) * 7 % 480 AS INT) AS new_height,
              |  CAST(coalesce(sum(ord(substr(text, CAST((i - 1) * 4 + 1 AS INT), 1)) *
              |    ((${TextAnalysis.FpA} * i + ${TextAnalysis.FpB}) % ${TextAnalysis.FpP})), 0)
              |    % ${TextAnalysis.FpP} AS BIGINT) AS checksum
              |FROM documents LEFT JOIN (SELECT unnest(range(1, 2000)) AS i) t
              |  ON (i - 1) * 4 + 1 <= strlen(text)
              |GROUP BY doc_id, strlen(text)""".stripMargin)),

    // Native session_window operator (gap 30 min). Note the semantics
    // difference vs the manual lag+cumsum sessionize (q17): session_window
    // starts a NEW session when ts - prev >= gap (window [ts, ts+gap) no
    // longer overlaps), while q17 breaks on ts - prev > gap — the oracle
    // mirrors each exactly.
    Q("q70_session_window",
      (s, d) => Tables.events(s, d)
        .withColumn("vc", round(coalesce(col("value"), lit(0.0)) * 100).cast("long"))
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          (sum(col("vc")) / lit(100.0)).as("value_sum"))
        .select(col("user_id"),
          expr("unix_micros(session_window.start)").as("session_start_us"),
          expr("unix_micros(session_window.end)").as("session_end_us"),
          col("n_events"), col("value_sum")),
      Some("""WITH s1 AS (
             |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             |    CAST(round(coalesce(value, 0) * 100) AS BIGINT) AS vc,
             |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
             |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
             |         THEN 1 ELSE 0 END AS is_new
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
             |s2 AS (
             |  SELECT *, sum(is_new) OVER (PARTITION BY user_id
             |    ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS sid
             |  FROM s1)
             |SELECT user_id, min(ts_us) AS session_start_us,
             |  max(ts_us) + 1800000000 AS session_end_us,
             |  count(*) AS n_events,
             |  CAST(sum(vc) AS BIGINT) / 100.0 AS value_sum
             |FROM s2 GROUP BY user_id, sid""".stripMargin)),

    // Per-group feature scaling: z-score + min-max from sufficient stats
    Q("q71_standardize",
      (s, d) => TrainPrep.standardize(
        Tables.lineitem(s, d).select(col("l_returnflag"),
          round(col("l_extendedprice")).cast("long").as("price_d")),
        "l_returnflag", "price_d"),
      Some("""WITH b AS (SELECT l_returnflag,
             |    CAST(round(l_extendedprice) AS BIGINT) AS price_d FROM lineitem),
             |s AS (SELECT l_returnflag, count(*) AS n,
             |    CAST(sum(price_d) AS BIGINT) AS sx,
             |    CAST(sum(price_d * price_d) AS BIGINT) AS sxx,
             |    min(price_d) AS mn, max(price_d) AS mx
             |  FROM b GROUP BY 1)
             |SELECT b.l_returnflag, price_d,
             |  CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
             |         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <= 0.0 THEN 0.0
             |    ELSE (CAST(price_d AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
             |      / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
             |              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             |             / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) END AS zscore,
             |  CASE WHEN mx = mn THEN 0.0
             |    ELSE CAST(price_d - mn AS DOUBLE) / CAST(mx - mn AS DOUBLE) END AS minmax
             |FROM b JOIN s USING (l_returnflag)""".stripMargin)),

    // Feature hashing (hashing trick): term -> content-hash bucket counts
    Q("q72_feature_hashing",
      (s, d) => TrainPrep.featureHashing(Tables.documents(s, d), 256),
      Some("""SELECT doc_id,
             |  ('0x' || substr(md5(w), 1, 12))::BIGINT % 256 AS bucket,
             |  count(*) AS n
             |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
             |GROUP BY 1, 2""".stripMargin)),

    // Vocabulary encoding with OOV id 0 (StringIndexer semantics, frozen ties)
    Q("q73_vocab_encode",
      (s, d) => TrainPrep.vocabEncode(Tables.documents(s, d), 100),
      Some("""WITH wrds AS (
             |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
             |voc AS (SELECT w, vocab_id FROM (
             |  SELECT w, CAST(row_number() OVER (ORDER BY count(*) DESC, w ASC) AS BIGINT) AS vocab_id
             |  FROM wrds GROUP BY w) WHERE vocab_id <= 100),
             |tf AS (SELECT doc_id, w, count(*) AS tf FROM wrds GROUP BY 1, 2)
             |SELECT doc_id, tf.w AS w, tf, coalesce(vocab_id, 0) AS vocab_id
             |FROM tf LEFT JOIN voc USING (w)""".stripMargin)),

    // Exact per-group percentiles by index selection (no interpolation)
    Q("q74_group_percentiles",
      (s, d) => TrainPrep.groupPercentiles(
        Tables.orders(s, d).select(col("o_orderpriority"),
          round(col("o_totalprice") * 100).cast("long").as("cents"),
          col("o_orderkey")),
        "o_orderpriority", "cents", "o_orderkey"),
      Some("""WITH b AS (SELECT o_orderpriority,
             |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents, o_orderkey
             |  FROM orders),
             |r AS (SELECT *,
             |    CAST(row_number() OVER (PARTITION BY o_orderpriority
             |      ORDER BY cents, o_orderkey) AS BIGINT) AS rn,
             |    count(*) OVER (PARTITION BY o_orderpriority) AS n
             |  FROM b)
             |SELECT o_orderpriority, CAST(max(n) AS BIGINT) AS n,
             |  max(CASE WHEN rn = (n + 1) // 2 THEN cents END) AS p50,
             |  max(CASE WHEN rn = (n * 9 + 9) // 10 THEN cents END) AS p90,
             |  max(CASE WHEN rn = (n * 99 + 99) // 100 THEN cents END) AS p99
             |FROM r GROUP BY 1""".stripMargin)),

    // Approximate percentiles — the 100 TB scale path beside q74's exact
    // index selection. Sketch internals differ per engine, so like q43 this
    // is a SELF-JUDGING GATE: Spark emits the exact index-selection
    // percentiles plus booleans checking its own percentile_approx output
    // against them (±5% relative); the oracle replays the exact side
    // (identical to q74's discipline, over lineitem cents) + literal TRUE.
    Q("q75_approx_percentiles",
      (s, d) => {
        val base = Tables.lineitem(s, d)
          .select(col("l_returnflag"),
            round(col("l_extendedprice") * 100).cast("long").as("cents"),
            (col("l_orderkey") * 10 + col("l_linenumber")).as("tie"))
        // ONE KLL-style sketch per group answers all three quantiles —
        // three separate percentile_approx calls each built their own
        // 10k-capacity buffer over the same 600k rows (3× the agg work)
        val approx = base.groupBy(col("l_returnflag"))
          .agg(percentile_approx(col("cents"),
            array(lit(0.5), lit(0.9), lit(0.99)), lit(10000)).as("ps"))
        val exact = TrainPrep.groupPercentiles(base, "l_returnflag",
          "cents", "tie")
        def ok(i: Int, exactCol: String) =
          (abs(col("ps").getItem(i) - col(exactCol)) * 20 <= abs(col(exactCol)))
        exact.join(approx, Seq("l_returnflag"))
          .select(col("l_returnflag"), col("n"),
            col("p50"), col("p90"), col("p99"),
            ok(0, "p50").as("p50_within_5pct"),
            ok(1, "p90").as("p90_within_5pct"),
            ok(2, "p99").as("p99_within_5pct"))
      },
      Some("""WITH b AS (SELECT l_returnflag,
             |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
             |    l_orderkey * 10 + l_linenumber AS tie
             |  FROM lineitem),
             |r AS (SELECT *,
             |    CAST(row_number() OVER (PARTITION BY l_returnflag
             |      ORDER BY cents, tie) AS BIGINT) AS rn,
             |    count(*) OVER (PARTITION BY l_returnflag) AS n
             |  FROM b)
             |SELECT l_returnflag, CAST(max(n) AS BIGINT) AS n,
             |  CAST(max(CASE WHEN rn = (n + 1) // 2 THEN cents END)
             |    AS BIGINT) AS p50,
             |  CAST(max(CASE WHEN rn = (n * 9 + 9) // 10 THEN cents END)
             |    AS BIGINT) AS p90,
             |  CAST(max(CASE WHEN rn = (n * 99 + 99) // 100 THEN cents END)
             |    AS BIGINT) AS p99,
             |  TRUE AS p50_within_5pct, TRUE AS p90_within_5pct,
             |  TRUE AS p99_within_5pct
             |FROM r GROUP BY 1""".stripMargin)),

    // Generator with position: posexplode over the token array (first 5)
    Q("q76_posexplode",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
        .filter(col("pos") < 5)
        .select(col("doc_id"), col("pos").cast("long").as("pos"), col("word")),
      Some("""SELECT doc_id, i - 1 AS pos, w[CAST(i AS INT)] AS word
             |FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |     (SELECT unnest(range(1, 6)) AS i)
             |WHERE i <= len(w)""".stripMargin)),

    // Map-typed column construction + lookup (map stays internal; scalar
    // outputs so the oracle is the equivalent conditional aggregation)
    Q("q77_map_funcs",
      (s, d) => Tables.events(s, d)
        // a NULL map key is a runtime error in map_from_entries; drop null
        // types in BOTH twins so the semantics stay parallel
        .filter(col("event_type").isNotNull)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("user_id"))
        .agg(map_from_entries(collect_list(struct(col("event_type"), col("cnt"))))
          .as("m"))
        .select(col("user_id"),
          size(col("m")).cast("long").as("n_types"),
          coalesce(element_at(col("m"), "click"), lit(0L)).as("clicks"),
          coalesce(element_at(col("m"), "purchase"), lit(0L)).as("purchases")),
      Some("""SELECT user_id,
             |  CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
             |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS clicks,
             |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases
             |FROM events WHERE event_type IS NOT NULL GROUP BY user_id""".stripMargin)),

    // Calendar/datetime battery (dow aligned: Spark Sunday=1, DuckDB
    // Sunday=0; add_months clamps to month end in both engines)
    Q("q78_datetime_funcs",
      (s, d) => {
        val dt = col("o_orderdate").cast("date")
        Tables.orders(s, d).select(
          col("o_orderkey"),
          date_format(date_trunc("month", dt), "yyyy-MM-dd").as("month_start"),
          dayofweek(dt).cast("long").as("dow"),
          year(dt).cast("long").as("yr"),
          quarter(dt).cast("long").as("qtr"),
          date_format(last_day(dt), "yyyy-MM-dd").as("month_end"),
          date_format(add_months(dt, 1), "yyyy-MM-dd").as("next_month"),
          datediff(lit("1995-01-01").cast("date"), dt).cast("long").as("days_to_95"))
      },
      Some("""SELECT o_orderkey,
             |  strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
             |  CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow,
             |  CAST(year(o_orderdate) AS BIGINT) AS yr,
             |  CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
             |  strftime(last_day(o_orderdate), '%Y-%m-%d') AS month_end,
             |  strftime(o_orderdate + INTERVAL 1 MONTH, '%Y-%m-%d') AS next_month,
             |  CAST(datediff('day', o_orderdate, TIMESTAMP '1995-01-01') AS BIGINT) AS days_to_95
             |FROM orders""".stripMargin)),

    // Data-quality profile: per-column null + distinct counts in ONE pass,
    // melted to long format with stack() (the UNPIVOT operator)
    Q("q79_dq_profile",
      (s, d) => {
        val aggs = DqProfileCols.flatMap(c => Seq(
          count(when(col(c).isNull, lit(1))).as(s"nn_$c"),
          countDistinct(col(c)).as(s"nd_$c")))
        val stackArgs = DqProfileCols.map(c => s"'$c', nn_$c, nd_$c").mkString(", ")
        Tables.orders(s, d).agg(aggs.head, aggs.tail: _*)
          .selectExpr(s"stack(${DqProfileCols.length}, $stackArgs) AS (col_name, n_nulls, n_distinct)")
      },
      Some(DqProfileCols.map(c =>
        s"""SELECT '$c' AS col_name, count(*) - count($c) AS n_nulls,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct FROM orders""".stripMargin)
        .mkString("\nUNION ALL\n"))),

    // Value window functions: first/last/nth value, percent_rank, cume_dist
    Q("q80_value_window_funcs",
      (s, d) => {
        val wo = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
        val wf = wo.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)
        Tables.events(s, d).select(
          col("user_id"), col("event_id"), col("ts_us"),
          first(col("value")).over(wf).as("first_val"),
          last(col("value")).over(wf).as("last_val"),
          nth_value(col("value"), 2).over(wf).as("second_val"),
          percent_rank().over(wo).as("pct_rank"),
          cume_dist().over(wo).as("cdist"))
      },
      Some("""SELECT user_id, event_id, ts_us,
             |  first_value(value) OVER wf AS first_val,
             |  last_value(value) OVER wf AS last_val,
             |  nth_value(value, 2) OVER wf AS second_val,
             |  percent_rank() OVER wo AS pct_rank,
             |  cume_dist() OVER wo AS cdist
             |FROM (SELECT user_id, event_id, epoch_us(ts) AS ts_us, value FROM events)
             |WINDOW
             |  wo AS (PARTITION BY user_id ORDER BY ts_us, event_id),
             |  wf AS (PARTITION BY user_id ORDER BY ts_us, event_id
             |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin)),

    // MULTISET set operators: EXCEPT ALL / INTERSECT ALL keep duplicates
    // (q61 covers the distinct-set forms)
    Q("q81_multiset_ops",
      (s, d) => {
        val o = Tables.orders(s, d)
        val high = o.filter(col("o_totalprice") > 200000.0)
          .select(col("o_custkey"))
        val urgent = o.filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_custkey"))
        high.exceptAll(urgent)
          .groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
          .withColumn("op", lit("except_all"))
          .unionByName(high.intersectAll(urgent)
            .groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
            .withColumn("op", lit("intersect_all")))
      },
      Some("""WITH high AS (SELECT o_custkey FROM orders WHERE o_totalprice > 200000.0),
             |urgent AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
             |SELECT o_custkey, count(*) AS n, 'except_all' AS op
             |FROM (SELECT * FROM high EXCEPT ALL SELECT * FROM urgent)
             |GROUP BY o_custkey
             |UNION ALL
             |SELECT o_custkey, count(*) AS n, 'intersect_all' AS op
             |FROM (SELECT * FROM high INTERSECT ALL SELECT * FROM urgent)
             |GROUP BY o_custkey""".stripMargin)),

    // Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys match
    // each other instead of disappearing
    Q("q82_null_safe_join",
      (s, d) => {
        val ev = Tables.events(s, d)
          // % (sign of dividend), NOT pmod: DuckDB's % keeps the dividend
          // sign, so pmod would silently diverge on negative values
          .withColumn("vkey",
            when(col("value").isNull, lit(null).cast("long"))
              .otherwise(floor(col("value")).cast("long") % lit(5L)))
        val a = ev.filter(col("event_type") === "click")
          .groupBy(col("vkey")).agg(count(lit(1)).as("n_click"))
        val b = ev.filter(col("event_type") === "purchase")
          .groupBy(col("vkey").as("vkey2")).agg(count(lit(1)).as("n_buy"))
        a.join(b, col("vkey") <=> col("vkey2"))
          .select(col("vkey"), col("n_click"), col("n_buy"))
      },
      Some("""WITH ev AS (SELECT *,
             |  CASE WHEN value IS NULL THEN NULL
             |       ELSE CAST(floor(value) AS BIGINT) % 5 END AS vkey FROM events),
             |a AS (SELECT vkey, count(*) AS n_click FROM ev
             |      WHERE event_type = 'click' GROUP BY vkey),
             |b AS (SELECT vkey AS vkey2, count(*) AS n_buy FROM ev
             |      WHERE event_type = 'purchase' GROUP BY vkey)
             |SELECT vkey, n_click, n_buy
             |FROM a JOIN b ON vkey IS NOT DISTINCT FROM vkey2""".stripMargin)),

    // Conditional + bitwise aggregate battery
    Q("q83_cond_bitwise_aggs",
      (s, d) => Tables.lineitem(s, d)
        .withColumn("q", col("l_quantity").cast("long"))
        .groupBy(col("l_returnflag"))
        .agg(
          count_if(col("l_discount") > 0.05).as("n_discounted"),
          bool_and(col("l_quantity") > 0).as("all_positive"),
          bool_or(col("l_tax") > 0.07).as("any_high_tax"),
          bit_and(col("q")).as("qty_bit_and"),
          bit_or(col("q")).as("qty_bit_or"),
          bit_xor(col("q")).as("qty_bit_xor")),
      Some("""SELECT l_returnflag,
             |  CAST(count(*) FILTER (WHERE l_discount > 0.05) AS BIGINT) AS n_discounted,
             |  bool_and(l_quantity > 0) AS all_positive,
             |  bool_or(l_tax > 0.07) AS any_high_tax,
             |  bit_and(CAST(l_quantity AS BIGINT)) AS qty_bit_and,
             |  bit_or(CAST(l_quantity AS BIGINT)) AS qty_bit_or,
             |  bit_xor(CAST(l_quantity AS BIGINT)) AS qty_bit_xor
             |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    // Regex function battery: extract (group), extract-all count, match
    // flag, global replace — common dialect subset (no lookaround/Java-isms)
    Q("q84_regex_funcs",
      (s, d) => Tables.documents(s, d).select(
        col("doc_id"),
        regexp_extract(col("text"), "[0-9]+", 0).as("first_num"),
        // explicit group 0 (full match): Spark defaults to group 1, which
        // THROWS on a pattern with no capture groups; DuckDB defaults to 0
        size(expr("regexp_extract_all(text, '[0-9]+', 0)")).cast("long").as("n_nums"),
        col("text").rlike("[A-Z]").as("has_upper"),
        length(regexp_replace(col("text"), "[aeiou]", "*")).cast("long")
          .as("masked_len"),
        regexp_extract(col("text"), "([a-z]+) ([0-9]+)", 2).as("num_after_word")),
      Some("""SELECT doc_id,
             |  regexp_extract(text, '[0-9]+') AS first_num,
             |  CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_nums,
             |  regexp_matches(text, '[A-Z]') AS has_upper,
             |  CAST(length(regexp_replace(text, '[aeiou]', '*', 'g')) AS BIGINT) AS masked_len,
             |  regexp_extract(text, '([a-z]+) ([0-9]+)', 2) AS num_after_word
             |FROM documents""".stripMargin)),

    // Explicit GROUPING SETS through the SQL front-end (complements q64's
    // CUBE and q38's rollup)
    Q("q85_grouping_sets",
      (s, d) => {
        Tables.orders(s, d).createOrReplaceTempView("v_orders_gs")
        s.sql("""
          SELECT o_orderpriority, o_orderstatus, count(*) AS n,
                 CAST(grouping(o_orderpriority) * 2 + grouping(o_orderstatus) AS BIGINT) AS gid
          FROM v_orders_gs
          GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())""")
      },
      Some("""SELECT o_orderpriority, o_orderstatus, count(*) AS n,
             |  CAST(GROUPING(o_orderpriority) * 2 + GROUPING(o_orderstatus) AS BIGINT) AS gid
             |FROM orders
             |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())""".stripMargin)),

    // Fixed-width histogram via integer bucket arithmetic (width_bucket has
    // no DuckDB twin; DIV + least is engine-exact and partial-aggregable)
    Q("q86_histogram",
      (s, d) => Tables.orders(s, d)
        .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
        .withColumn("bucket", least(expr("cents DIV 3000000"), lit(19L)))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), min(col("cents")).as("lo"),
          max(col("cents")).as("hi")),
      Some("""SELECT least(cents // 3000000, 19) AS bucket, count(*) AS n,
             |  min(cents) AS lo, max(cents) AS hi
             |FROM (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
             |      FROM orders)
             |GROUP BY 1""".stripMargin)),

    // Error-safe expressions: try_cast (NULL on bad input, the O2 contract
    // as an expression) and try_divide (NULL on zero denominator). Decimal
    // strings are deliberately absent: DuckDB try_cast('12.9' AS BIGINT)
    // ROUNDS to 13 while Spark nulls it.
    Q("q87_try_expressions",
      (s, d) => Tables.orders(s, d)
        .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
        // the failing branch is RARE (0.1% of rows): a caught per-row
        // exception inside try_cast costs ~10µs, so an always-failing
        // column would dominate the query (measured 1.9s -> 0.4s)
        .select(
          col("o_orderkey"),
          expr("""try_cast(CASE WHEN o_orderkey % 1000 = 0 THEN o_orderstatus
                                ELSE cast(o_orderkey AS STRING) END AS BIGINT)""")
            .as("mixed_num"),
          expr("try_cast(cast(o_custkey AS STRING) AS BIGINT)").as("cust_rt"),
          expr("try_divide(cents, o_custkey % 3)").as("per_bucket")),
      Some("""SELECT o_orderkey,
             |  try_cast(CASE WHEN o_orderkey % 1000 = 0 THEN o_orderstatus
             |                ELSE CAST(o_orderkey AS VARCHAR) END AS BIGINT) AS mixed_num,
             |  try_cast(CAST(o_custkey AS VARCHAR) AS BIGINT) AS cust_rt,
             |  CASE WHEN o_custkey % 3 = 0 THEN NULL
             |       ELSE CAST(round(o_totalprice * 100) AS BIGINT) / (o_custkey % 3)
             |  END AS per_bucket
             |FROM orders""".stripMargin)),

    // Correlated scalar + EXISTS subqueries through the SQL front-end —
    // Catalyst decorrelates both into joins (RewriteCorrelatedScalarSubquery
    // / RewritePredicateSubquery); the oracle runs the identical SQL
    Q("q88_correlated_subquery",
      (s, d) => {
        Tables.orders(s, d).createOrReplaceTempView("v_orders_sq")
        Tables.customer(s, d).createOrReplaceTempView("v_customer_sq")
        s.sql("""
          SELECT c_custkey,
                 (SELECT CAST(max(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                  FROM v_orders_sq WHERE o_custkey = c_custkey) AS max_cents,
                 EXISTS (SELECT 1 FROM v_orders_sq
                         WHERE o_custkey = c_custkey
                           AND o_orderpriority = '1-URGENT') AS has_urgent
          FROM v_customer_sq""")
      },
      Some("""SELECT c_custkey,
             |  (SELECT CAST(max(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             |   FROM orders WHERE o_custkey = c_custkey) AS max_cents,
             |  EXISTS (SELECT 1 FROM orders
             |          WHERE o_custkey = c_custkey
             |            AND o_orderpriority = '1-URGENT') AS has_urgent
             |FROM customer""".stripMargin)),

    // Sliding event-time windows (1h length / 15min slide, 4 windows/event)
    Q("q66_sliding_agg",
      (s, d) => graft.streaming.StreamingFeatures.slidingAgg(Tables.events(s, d)),
      Some("""SELECT window_start_us, event_type, count(*) AS n_events,
             |  CAST(sum(vc) AS BIGINT) / 100.0 AS value_sum
             |FROM (
             |  SELECT event_type,
             |    CAST(round(coalesce(value, 0) * 100) AS BIGINT) AS vc,
             |    (epoch_us(ts) // 900000000 - k) * 900000000 AS window_start_us
             |  FROM events, (SELECT unnest(range(0, 4)) AS k))
             |GROUP BY 1, 2""".stripMargin))
  )
}

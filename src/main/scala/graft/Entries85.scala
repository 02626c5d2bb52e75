package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.ExtEntries.Q

/** Round-13 batch 1 — six operators in genuinely new territory, each with
  * an exact DuckDB oracle mirror (integer/grid arithmetic only; floats
  * appear solely in the established sequential-fold cosine convention of
  * ext/Similarity.scala):
  *
  *  - q466 HITS hubs/authorities (Kleinberg 1999, JACM 46(5)): 2 rounds of
  *    the mutual-reinforcement power iteration over the directed
  *    customer→supplier purchase graph (node encoding shared with q107
  *    PageRank), L1-normalized on the 1e6 fixed-point grid each half-step
  *    so the replay is integer-exact. Scale: each half-step is one shuffle
  *    on the edge key; normalization is a broadcast one-row aggregate, not
  *    an unpartitioned window.
  *
  *  - q467 CountSketch (Charikar, Chen & Farach-Colton 2002, ICALP):
  *    d=3 signed rows × w=8 buckets over the corpus word frequencies — the
  *    SIGNED-median estimator family, structurally different from CMS
  *    (q176)'s min-of-upward-biased rows: collisions cancel in expectation
  *    instead of stacking. median-of-3 = sum−max−min, all BIGINT.
  *
  *  - q468 one NN-descent refinement round (Dong, Moses & Li, WWW 2011):
  *    start from the IVF nprobe=1 neighbor lists (q28's machinery), expand
  *    each query's candidates with its neighbors' neighbor lists, re-rank
  *    exactly, and report both rounds against the brute-force truth — the
  *    measured-recall table that justifies graph-refined ANN at scale.
  *    Only neighbor-of-neighbor lists are materialized (|Q|·k lists), never
  *    an all-pairs relation.
  *
  *  - q469 two-sample log-rank test (Mantel 1966): per-user activity span
  *    as survival time, churn-without-purchase as the event, user_id%2 as
  *    arms. Risk sets via suffix-cumulative sums over the DAY-granularity
  *    duration domain (bounded ≤ ~2 years — the one unpartitioned window,
  *    domain-bounded); O/E/V emitted as integer ppm components (the q456
  *    integer-numerator report discipline), no chi-square division.
  *
  *  - q470 isotonic calibration by PAV in closed form: fitted_i =
  *    max_{j≤i} min_{k≥i} avg(y_j..y_k) (Ayer et al. 1955; the max-min
  *    form of Best & Chakravarti 1990) over ≤34 $10 price bins — the
  *    sequential pool-adjacent-violators loop becomes a domain-bounded
  *    triple join on prefix sums, embarrassingly parallel, no driver loop.
  *
  *  - q471 TextRank keywords (Mihalcea & Tarau, EMNLP 2004): PageRank
  *    (q107's exact fixed-point iteration, ext/Curation.pageRank) over the
  *    adjacent-word co-occurrence graph, top-20 keywords. Word-TYPE-domain
  *    state (31 types in the fixture corpus): the graph is bounded by
  *    vocabulary, not corpus size, so the iteration cost is O(V) at any SF.
  *
  * Reference anchor: the reference has no graph/sketch/ANN surface (it is
  * a 775-LoC pandas feature store — SURVEY.md §0); these are members of
  * the mandated 100 TB training-data-pipeline extension families (graph,
  * sketch algebra, similarity, train prep, text analysis).
  */
object Entries85 {

  def all: Seq[Q] = Seq(hits, countSketch, nnDescent, logRank,
    isotonicPav, textRank)

  /** md5-derived 48-bit id — the engine-portable hash convention
    * (ext/Dedup.scala:96 ⟷ DuckDB `('0x'||substr(md5(x),1,12))::BIGINT`). */
  private def md5Long(c: org.apache.spark.sql.Column) =
    conv(substring(md5(c), 1, 12), 16, 10).cast("long")

  // ---------------------------------------------------------------- q466

  private val hits: Q =
    Q("q466_hits_scores",
      (s, d) => {
        val e = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
          .join(Tables.lineitem(s, d)
            .select(col("l_orderkey"), col("l_suppkey")),
            col("o_orderkey") === col("l_orderkey"))
          // node encoding shared with q107: customers even, suppliers odd
          .select((col("o_custkey") * 2).as("src"),
            (col("l_suppkey") * 2 + 1).as("dst"))
          .distinct()
          // the edge list feeds four half-steps — the loop invariant
          .persist(StorageLevel.MEMORY_AND_DISK)
        // L1-normalize on the 1e6 grid via a broadcast one-row total (the
        // q426 guarded-one-row-aggregation shape; totals are provably ≥ 1e6
        // on nonempty edges, so the DIV can never see zero)
        def normalize(raw: DataFrame): DataFrame =
          raw.crossJoin(broadcast(raw.agg(sum(col("raw")).as("tot"))))
            .select(col("node"), expr("raw * 1000000 DIV tot").as("score"))
        def halfStep(score: DataFrame, edgeKey: String,
                     outKey: String): DataFrame = {
          val raw = e.join(score, col(edgeKey) === col("node"))
            .groupBy(col(outKey)).agg(sum(col("score")).as("raw"))
            .select(col(outKey).as("node"), col("raw"))
            // two consumers (the total and the normalized select)
            .persist(StorageLevel.MEMORY_AND_DISK)
          normalize(raw)
        }
        val h0 = e.select(col("src")).distinct()
          .select(col("src").as("node"), lit(1000000L).as("score"))
        val a1 = halfStep(h0, "src", "dst")
        val h1 = halfStep(a1, "dst", "src")
        val a2 = halfStep(h1, "src", "dst")
        val h2 = halfStep(a2, "dst", "src")
        h2.select(col("node"), col("score").as("hub_ppm"))
          .join(a2.select(col("node"), col("score").as("auth_ppm")),
            Seq("node"), "full_outer")
          .select(col("node"),
            coalesce(col("hub_ppm"), lit(0L)).as("hub_ppm"),
            coalesce(col("auth_ppm"), lit(0L)).as("auth_ppm"))
      },
      Some("""WITH e0 AS (
             |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
             |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
             |h0 AS (SELECT DISTINCT src AS node,
             |         CAST(1000000 AS BIGINT) AS score FROM e0),
             |a1r AS (SELECT dst AS node, sum(h.score) AS raw
             |        FROM e0 JOIN h0 h ON h.node = e0.src GROUP BY dst),
             |a1 AS (SELECT node, raw * 1000000 // (SELECT sum(raw) FROM a1r)
             |         AS score FROM a1r),
             |h1r AS (SELECT src AS node, sum(a.score) AS raw
             |        FROM e0 JOIN a1 a ON a.node = e0.dst GROUP BY src),
             |h1 AS (SELECT node, raw * 1000000 // (SELECT sum(raw) FROM h1r)
             |         AS score FROM h1r),
             |a2r AS (SELECT dst AS node, sum(h.score) AS raw
             |        FROM e0 JOIN h1 h ON h.node = e0.src GROUP BY dst),
             |a2 AS (SELECT node, raw * 1000000 // (SELECT sum(raw) FROM a2r)
             |         AS score FROM a2r),
             |h2r AS (SELECT src AS node, sum(a.score) AS raw
             |        FROM e0 JOIN a2 a ON a.node = e0.dst GROUP BY src),
             |h2 AS (SELECT node, raw * 1000000 // (SELECT sum(raw) FROM h2r)
             |         AS score FROM h2r)
             |SELECT COALESCE(h.node, a.node) AS node,
             |  CAST(COALESCE(h.score, 0) AS BIGINT) AS hub_ppm,
             |  CAST(COALESCE(a.score, 0) AS BIGINT) AS auth_ppm
             |FROM h2 h FULL OUTER JOIN a2 a ON h.node = a.node""".stripMargin))

  // ---------------------------------------------------------------- q467

  private val countSketch: Q =
    Q("q467_count_sketch",
      (s, d) => {
        val freq = Tables.documents(s, d)
          .select(explode(split(col("text"), " ")).as("w"))
          .groupBy(col("w")).agg(count(lit(1)).as("f"))
        val wr = freq
          .select(col("w"), col("f"),
            explode(array(lit(0), lit(1), lit(2))).as("i"))
          .withColumn("b",
            md5Long(concat(col("w"), lit("#b"), col("i").cast("string"))) % 8)
          .withColumn("sgn",
            lit(1L) - lit(2L) *
              (md5Long(concat(col("w"), lit("#s"),
                col("i").cast("string"))) % 2))
          // the (w,f,i,b,sgn) rows feed both the counters and the readout
          .persist(StorageLevel.MEMORY_AND_DISK)
        val cnt = wr.groupBy(col("i"), col("b"))
          .agg(sum(col("sgn") * col("f")).as("c"))
        wr.join(cnt, Seq("i", "b"))
          .withColumn("e", col("sgn") * col("c"))
          .groupBy(col("w"), col("f"))
          // median of 3 = sum − max − min
          .agg((sum(col("e")) - max(col("e")) - min(col("e"))).as("f_est"))
          .select(col("w").as("word"), col("f").as("f_exact"),
            col("f_est"), abs(col("f_est") - col("f")).as("err"))
      },
      Some("""WITH toks AS (
             |  SELECT unnest(string_split(text, ' ')) AS w FROM documents),
             |freq AS (SELECT w, CAST(count(*) AS BIGINT) AS f
             |         FROM toks GROUP BY w),
             |wr AS (
             |  SELECT w, f, i,
             |    ('0x' || substr(md5(w || '#b' || i::VARCHAR), 1, 12))::BIGINT
             |      % 8 AS b,
             |    1 - 2 * (('0x' || substr(md5(w || '#s' || i::VARCHAR), 1, 12))
             |      ::BIGINT % 2) AS sgn
             |  FROM freq, (SELECT unnest(range(0, 3)) AS i)),
             |cnt AS (SELECT i, b, sum(sgn * f) AS c FROM wr GROUP BY i, b),
             |est AS (
             |  SELECT w, f, wr.sgn * cnt.c AS e
             |  FROM wr JOIN cnt ON wr.i = cnt.i AND wr.b = cnt.b)
             |SELECT w AS word, f AS f_exact,
             |  CAST(sum(e) - max(e) - min(e) AS BIGINT) AS f_est,
             |  CAST(abs(sum(e) - max(e) - min(e) - f) AS BIGINT) AS err
             |FROM est GROUP BY w, f""".stripMargin))

  // ---------------------------------------------------------------- q468

  private val nnDescent: Q =
    Q("q468_nn_descent",
      (s, d) => {
        import graft.ext.TopK
        val emb = Tables.embeddings(s, d)
          .persist(StorageLevel.MEMORY_AND_DISK)
        val assigned = TopK.assign(TopK.vectors(emb, "n"), "n",
            TopK.centroids(emb, 100))
          // feeds the query cells, the member lists and the exact re-rank
          .persist(StorageLevel.MEMORY_AND_DISK)
        def asQueries(a: DataFrame): DataFrame = a.select(col("n_id").as("q_id"),
          col("n_emb").as("q_emb"), col("n_n").as("q_n"), col("c_id"))
        // in-cell exact top-5 for a node set — the shared IVF nprobe=1 list
        def cellTop5(nodes: DataFrame): DataFrame =
          TopK.exact(TopK.inLists(nodes, assigned), 5)
        val q = asQueries(assigned.filter(col("n_id") < 20))
        val n0 = cellTop5(q).persist(StorageLevel.MEMORY_AND_DISK)
        // neighbor-of-neighbor expansion: only the ≤ |Q|·k member lists
        val mlists = cellTop5(asQueries(
            n0.select(col("n_id")).distinct().join(assigned, Seq("n_id"))))
          .select(col("q_id").as("m_id"), col("n_id"))
        val cands = n0.select(col("q_id"), col("n_id"))
          .unionByName(
            n0.select(col("q_id"), col("n_id").as("m_id"))
              .join(mlists, Seq("m_id"))
              .select(col("q_id"), col("n_id")))
          .filter(col("n_id") =!= col("q_id")).distinct()
        // exact re-rank of the candidate set
        val n1r = TopK.exact(
          TopK.explicit(cands, q.drop("c_id"), assigned.drop("c_id")), 5)
        val brute = graft.ext.Similarity
          .bruteForceTopK(emb, 20, 5)
          .select(col("q_id"), col("n_id"), lit(1).as("hit"))
        def out(ranked: DataFrame, round: Int): DataFrame =
          ranked.select(col("q_id"), lit(round).as("round"),
            col("rank").cast("int").as("rank"), col("n_id"), col("cos"))
        out(n0, 0).unionByName(out(n1r, 1))
          .join(brute, Seq("q_id", "n_id"), "left_outer")
          .select(col("q_id"), col("round"), col("rank"), col("n_id"),
            col("cos"), coalesce(col("hit"), lit(0)).as("hit"))
      },
      {
        import graft.ExtEntries.cosSql
        Some(s"""WITH cent AS (SELECT vec_id AS c_id, embedding AS c_emb
                |             FROM embeddings WHERE vec_id % 100 = 0),
                |assigned AS (
                |  SELECT n_id, n_emb, c_id FROM (
                |    SELECT e.vec_id AS n_id, e.embedding AS n_emb, c.c_id,
                |      row_number() OVER (PARTITION BY e.vec_id
                |        ORDER BY ${cosSql("e.embedding", "c.c_emb")} DESC,
                |          c.c_id ASC) AS arn
                |    FROM embeddings e, cent c)
                |  WHERE arn = 1),
                |q AS (SELECT n_id AS src_id, n_emb AS src_emb, c_id
                |      FROM assigned WHERE n_id < 20),
                |n0 AS (
                |  SELECT src_id, n_id, cos, rank FROM (
                |    SELECT src_id, n_id, cos, row_number() OVER (
                |        PARTITION BY src_id ORDER BY cos DESC, n_id ASC)
                |      AS rank
                |    FROM (SELECT q.src_id, a.n_id,
                |            ${cosSql("q.src_emb", "a.n_emb")} AS cos
                |          FROM q JOIN assigned a USING (c_id)
                |          WHERE a.n_id <> q.src_id))
                |  WHERE rank <= 5),
                |mnodes AS (
                |  SELECT a.n_id AS src_id, a.n_emb AS src_emb, a.c_id
                |  FROM (SELECT DISTINCT n_id FROM n0) m
                |  JOIN assigned a ON a.n_id = m.n_id),
                |mlists AS (
                |  SELECT src_id AS m_id, n_id AS cand FROM (
                |    SELECT src_id, n_id, row_number() OVER (
                |        PARTITION BY src_id ORDER BY cos DESC, n_id ASC)
                |      AS rank
                |    FROM (SELECT s.src_id, a.n_id,
                |            ${cosSql("s.src_emb", "a.n_emb")} AS cos
                |          FROM mnodes s JOIN assigned a USING (c_id)
                |          WHERE a.n_id <> s.src_id))
                |  WHERE rank <= 5),
                |cands AS (
                |  SELECT DISTINCT q_id, cand FROM (
                |    SELECT src_id AS q_id, n_id AS cand FROM n0
                |    UNION ALL
                |    SELECT n0.src_id AS q_id, ml.cand
                |    FROM n0 JOIN mlists ml ON ml.m_id = n0.n_id)
                |  WHERE cand <> q_id),
                |n1 AS (
                |  SELECT q_id, n_id, cos, rank FROM (
                |    SELECT q_id, n_id, cos, row_number() OVER (
                |        PARTITION BY q_id ORDER BY cos DESC, n_id ASC)
                |      AS rank
                |    FROM (SELECT c.q_id, a.n_id,
                |            ${cosSql("qq.src_emb", "a.n_emb")} AS cos
                |          FROM cands c
                |          JOIN assigned a ON a.n_id = c.cand
                |          JOIN q qq ON qq.src_id = c.q_id))
                |  WHERE rank <= 5),
                |brute AS (
                |  SELECT q_id, n_id, 1 AS hit FROM (
                |    SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
                |        ORDER BY cos DESC, n_id ASC) AS rank
                |    FROM (SELECT qq.src_id AS q_id, a.n_id,
                |            ${cosSql("qq.src_emb", "a.n_emb")} AS cos
                |          FROM assigned a, q qq WHERE a.n_id <> qq.src_id))
                |  WHERE rank <= 5),
                |unioned AS (
                |  SELECT src_id AS q_id, 0 AS round, rank, n_id, cos FROM n0
                |  UNION ALL
                |  SELECT q_id, 1 AS round, rank, n_id, cos FROM n1)
                |SELECT u.q_id, CAST(u.round AS INT) AS round,
                |  CAST(u.rank AS INT) AS rank, u.n_id, u.cos,
                |  CAST(COALESCE(b.hit, 0) AS INT) AS hit
                |FROM unioned u LEFT JOIN brute b
                |  ON b.q_id = u.q_id AND b.n_id = u.n_id""".stripMargin)
      })

  // ---------------------------------------------------------------- q469

  private val logRank: Q =
    Q("q469_logrank_test",
      (s, d) => {
        val ev = Tables.events(s, d)
        val lastW = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_us").desc, col("event_id").desc)
        val users = ev.withColumn("rn", row_number().over(lastW))
          .groupBy(col("user_id"))
          .agg(min(col("ts_us")).as("t0"), max(col("ts_us")).as("t1"),
            max(when(col("rn") === 1, col("event_type"))).as("last_type"))
          .select(col("user_id"),
            expr("(t1 - t0) DIV 86400000000").as("dur"),
            (col("user_id") % 2).as("grp"),
            when(col("last_type") =!= "purchase", 1L).otherwise(0L).as("obs"))
          .persist(StorageLevel.MEMORY_AND_DISK) // risk sets + group sizes
        val byDur = users.groupBy(col("dur")).agg(
          sum(when(col("grp") === 0, 1L).otherwise(0L)).as("c0"),
          sum(when(col("grp") === 1, 1L).otherwise(0L)).as("c1"),
          sum(when(col("grp") === 0, col("obs")).otherwise(0L)).as("d0"),
          sum(when(col("grp") === 1, col("obs")).otherwise(0L)).as("d1"))
        // suffix-cumulative risk sets over the DAY-duration domain: the one
        // unpartitioned window, bounded by the fixture's ~2-year span
        val wSuf = Window.orderBy(col("dur"))
          .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        val terms = byDur
          .withColumn("n0", sum(col("c0")).over(wSuf))
          .withColumn("n1", sum(col("c1")).over(wSuf))
          .withColumn("d", col("d0") + col("d1"))
          .withColumn("n", col("n0") + col("n1"))
          .filter(col("d") >= 1 && col("n") > 1)
        val tot = terms.agg(
          sum(col("d0")).as("o0"), sum(col("d1")).as("o1"),
          sum(expr("(d * n0 * 1000000) DIV n")).as("e0"),
          sum(expr("(d * n1 * 1000000) DIV n")).as("e1"),
          sum(expr("((((d * (n - d)) DIV (n - 1)) * n0) DIV n)" +
            " * n1 * 1000000 DIV n")).as("v"))
        users.groupBy(col("grp")).agg(count(lit(1)).as("n_users"))
          .crossJoin(broadcast(tot))
          .select(col("grp"), col("n_users"),
            when(col("grp") === 0, col("o0")).otherwise(col("o1"))
              .as("observed"),
            when(col("grp") === 0, col("e0")).otherwise(col("e1"))
              .as("expected_ppm"),
            col("v").as("var_ppm"))
      },
      Some("""WITH lastt AS (
             |  SELECT user_id, event_type AS last_type FROM (
             |    SELECT user_id, event_type, row_number() OVER (
             |        PARTITION BY user_id
             |        ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
             |    FROM events) WHERE rn = 1),
             |du AS (
             |  SELECT user_id,
             |    (max(epoch_us(ts)) - min(epoch_us(ts))) // 86400000000
             |      AS dur,
             |    user_id % 2 AS grp
             |  FROM events GROUP BY user_id),
             |u AS (
             |  SELECT d.user_id, d.dur, d.grp,
             |    CASE WHEN l.last_type <> 'purchase' THEN 1 ELSE 0 END AS obs
             |  FROM du d JOIN lastt l USING (user_id)),
             |bydur AS (
             |  SELECT dur,
             |    sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS c0,
             |    sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS c1,
             |    sum(CASE WHEN grp = 0 THEN obs ELSE 0 END) AS d0,
             |    sum(CASE WHEN grp = 1 THEN obs ELSE 0 END) AS d1
             |  FROM u GROUP BY dur),
             |risk AS (
             |  SELECT dur, d0, d1,
             |    sum(c0) OVER (ORDER BY dur
             |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n0,
             |    sum(c1) OVER (ORDER BY dur
             |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n1
             |  FROM bydur),
             |terms AS (
             |  SELECT d0, d1, (d0 + d1) AS d, n0, n1, (n0 + n1) AS n
             |  FROM risk WHERE (d0 + d1) >= 1 AND (n0 + n1) > 1),
             |tot AS (
             |  SELECT sum(d0) AS o0, sum(d1) AS o1,
             |    sum((d * n0 * 1000000) // n) AS e0,
             |    sum((d * n1 * 1000000) // n) AS e1,
             |    sum(((((d * (n - d)) // (n - 1)) * n0) // n)
             |      * n1 * 1000000 // n) AS v
             |  FROM terms),
             |ng AS (SELECT grp, count(*) AS n_users FROM u GROUP BY grp)
             |SELECT CAST(ng.grp AS BIGINT) AS grp,
             |  CAST(ng.n_users AS BIGINT) AS n_users,
             |  CAST(CASE WHEN ng.grp = 0 THEN t.o0 ELSE t.o1 END AS BIGINT)
             |    AS observed,
             |  CAST(CASE WHEN ng.grp = 0 THEN t.e0 ELSE t.e1 END AS BIGINT)
             |    AS expected_ppm,
             |  CAST(t.v AS BIGINT) AS var_ppm
             |FROM ng, tot t""".stripMargin))

  // ---------------------------------------------------------------- q470

  /** The calibration-bin prefix-sum relation (q470's working set, shared
    * with the SQL-text twin q476 via SqlSurface.registerCalibrationViews):
    * $10 price bins of events, purchase-rate numerators, and the running
    * (cs, cw) / exclusive (psp, pwp) prefix sums the PAV max-min form
    * consumes. Unpersisted — callers pin it for their own fan-out. */
  private[graft] def calibPre(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val bins = events
      .select(expr("CAST(round(coalesce(value, 0.0) * 100) AS BIGINT)" +
        " DIV 1000").as("bin"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("s"))
    // prefix sums over the ≤34-bin price domain (domain-bounded
    // unpartitioned window); psp/pwp are the j−1 prefixes
    val wc = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bins
      .withColumn("cs", sum(col("s")).over(wc))
      .withColumn("cw", sum(col("n")).over(wc))
      .withColumn("psp", col("cs") - col("s"))
      .withColumn("pwp", col("cw") - col("n"))
  }

  private val isotonicPav: Q =
    Q("q470_isotonic_pav",
      (s, d) => {
        val pre = calibPre(Tables.events(s, d))
          .persist(StorageLevel.MEMORY_AND_DISK) // j, k and i roles
        val pairs = pre.select(col("bin").as("jb"), col("psp").as("sj"),
            col("pwp").as("wj"))
          .join(pre.select(col("bin").as("kb"), col("cs").as("sk"),
            col("cw").as("wk")), col("jb") <= col("kb"))
          .select(col("jb"), col("kb"),
            expr("((sk - sj) * 1000000) DIV (wk - wj)").as("avg_ppm"))
        val minK = pairs
          .join(pre.select(col("bin").as("ib"), col("n"), col("s")),
            col("jb") <= col("ib") && col("ib") <= col("kb"))
          .groupBy(col("ib"), col("n"), col("s"), col("jb"))
          .agg(min(col("avg_ppm")).as("m"))
        minK.groupBy(col("ib"), col("n"), col("s"))
          .agg(max(col("m")).as("fitted_ppm"))
          .select(col("ib").as("bin"), col("n"),
            expr("(s * 1000000) DIV n").as("mean_ppm"), col("fitted_ppm"))
      },
      Some("""WITH sc AS (
             |  SELECT CAST(round(coalesce(value, 0) * 100) AS BIGINT) // 1000
             |      AS bin,
             |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
             |  FROM events),
             |bins AS (SELECT bin, count(*) AS n, sum(y) AS s
             |         FROM sc GROUP BY bin),
             |pre AS (
             |  SELECT bin, n, s,
             |    sum(s) OVER w AS cs, sum(n) OVER w AS cw,
             |    sum(s) OVER w - s AS psp, sum(n) OVER w - n AS pwp
             |  FROM bins WINDOW w AS (ORDER BY bin
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
             |pairs AS (
             |  SELECT j.bin AS jb, k.bin AS kb,
             |    ((k.cs - j.psp) * 1000000) // (k.cw - j.pwp) AS avg_ppm
             |  FROM pre j JOIN pre k ON j.bin <= k.bin),
             |mink AS (
             |  SELECT i.bin AS ib, i.n, i.s, p.jb, min(p.avg_ppm) AS m
             |  FROM pairs p JOIN pre i ON p.jb <= i.bin AND i.bin <= p.kb
             |  GROUP BY 1, 2, 3, 4),
             |fit AS (SELECT ib, n, s, max(m) AS fitted_ppm
             |        FROM mink GROUP BY 1, 2, 3)
             |SELECT CAST(ib AS BIGINT) AS bin, CAST(n AS BIGINT) AS n,
             |  CAST((s * 1000000) // n AS BIGINT) AS mean_ppm,
             |  CAST(fitted_ppm AS BIGINT) AS fitted_ppm
             |FROM fit""".stripMargin))

  // ---------------------------------------------------------------- q471

  private val textRank: Q =
    Q("q471_textrank_keywords",
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(col("doc_id"),
            posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
        val wd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
        val edges = toks
          .withColumn("w2", lead(col("w"), 1).over(wd))
          .filter(col("w2").isNotNull && col("w") =!= col("w2"))
          .select(md5Long(col("w")).as("src"), md5Long(col("w2")).as("dst"))
          .distinct()
        val pr = graft.ext.Curation.pageRank(edges, 3)
        val wid = toks.select(col("w")).distinct()
          .select(col("w"), md5Long(col("w")).as("node"))
        // word-TYPE domain (31 types in the fixtures) — bounded rank window
        val rw = Window.orderBy(col("mass").desc, col("word").asc)
        pr.join(wid, Seq("node"))
          .select(col("w").as("word"), col("mass"))
          .withColumn("rank", row_number().over(rw))
          .filter(col("rank") <= 20)
          .select(col("word"), col("mass"),
            col("rank").cast("int").as("rank"))
      },
      Some("""WITH tok AS (
             |  SELECT doc_id, i AS pos, w[i] AS w1, w[i + 1] AS w2
             |  FROM (SELECT doc_id, string_split(text, ' ') AS w
             |        FROM documents) d,
             |       (SELECT unnest(range(1, 1000)) AS i) t
             |  WHERE i < len(w)),
             |e0 AS (
             |  SELECT DISTINCT
             |    ('0x' || substr(md5(w1), 1, 12))::BIGINT AS src,
             |    ('0x' || substr(md5(w2), 1, 12))::BIGINT AS dst
             |  FROM tok WHERE w1 <> w2),
             |e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
             |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
             |m0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS mass
             |       FROM deg),
             |m1 AS (SELECT e.dst AS node,
             |         CAST(150000 + 850000 * sum(m.mass // d.outdeg)
             |           // 1000000 AS BIGINT) AS mass
             |       FROM e JOIN deg d ON e.src = d.src
             |       JOIN m0 m ON m.node = e.src GROUP BY e.dst),
             |m2 AS (SELECT e.dst AS node,
             |         CAST(150000 + 850000 * sum(m.mass // d.outdeg)
             |           // 1000000 AS BIGINT) AS mass
             |       FROM e JOIN deg d ON e.src = d.src
             |       JOIN m1 m ON m.node = e.src GROUP BY e.dst),
             |m3 AS (SELECT e.dst AS node,
             |         CAST(150000 + 850000 * sum(m.mass // d.outdeg)
             |           // 1000000 AS BIGINT) AS mass
             |       FROM e JOIN deg d ON e.src = d.src
             |       JOIN m2 m ON m.node = e.src GROUP BY e.dst),
             |wid AS (
             |  SELECT DISTINCT w AS word,
             |    ('0x' || substr(md5(w), 1, 12))::BIGINT AS node
             |  FROM (SELECT unnest(string_split(text, ' ')) AS w
             |        FROM documents))
             |SELECT word, mass, CAST(rank AS INT) AS rank FROM (
             |  SELECT wid.word, m3.mass, row_number() OVER (
             |      ORDER BY m3.mass DESC, wid.word ASC) AS rank
             |  FROM m3 JOIN wid ON wid.node = m3.node)
             |WHERE rank <= 20""".stripMargin))
}

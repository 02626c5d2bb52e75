package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ExtEntries.Q
import graft.ext.{Dedup, TrainPrep}

/** Round-8 batch 2 — the train/eval audit suite: holdout-leakage census,
  * bigram-LM negative-log-likelihood eval, Welch's t-test, blocking-quality
  * metrics, PSI drift, rolling regression slope.
  *
  * Float doctrine (verify skill): the only transcendental is ln(), always on
  * a double built from EXACT integer operands, and always floored onto a
  * coarse integer grid before any aggregation — a 1-ulp JVM-vs-glibc ln
  * disagreement flips a floor only with ~ulp/grid odds (≤4e-8 per term).
  * sqrt/div/mul chains on identical operands are IEEE-deterministic and used
  * freely (q301's t statistic).
  */
object Entries52 {

  val all: Seq[Q] = Seq(

    // HOLDOUT-LEAKAGE census — the release audit an LLM data pipeline runs
    // before shipping a split: of the test docs, how many have an EXACT
    // duplicate (md5 of the full text) in train, and how many a NEAR
    // duplicate (≥80% of their 3-shingles contained in a single train doc,
    // via the inverted shingle-id index join — candidates ∝ shared
    // shingles, never |test|×|train|). Split = the q54 deterministic
    // content-hash split, so the census is a pure function of the corpus.
    Q("q299_holdout_leakage",
      (s, d) => {
        val docs = Tables.documents(s, d)
        // persisted shared relations (plan census r8): sp feeds the
        // train/test filters across four consumers and ids (the corpus-
        // wide shingle explode + md5) feeds BOTH index sides — uncached,
        // the explode replans once per consumer (3 Generates, 9 scans)
        val sp = TrainPrep.hashSplit(docs, "doc_id")
          .select(col("doc_id"), col("source"), col("split"),
            md5(col("text")).as("h"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val tr = sp.filter(col("split") === "train")
        val te = sp.filter(col("split") === "test")
        val exact = te.select(col("doc_id"), col("h"))
          .join(tr.select(col("h")), Seq("h"))
          .select(col("doc_id")).distinct()
          .withColumn("is_exact", lit(1L))
        val ids = Dedup.shingleIds(docs)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val tesh = ids.join(te.select(col("doc_id")), Seq("doc_id"))
        val trsh = ids.join(tr.select(col("doc_id")), Seq("doc_id"))
          .select(col("doc_id").as("rd"), col("sid"))
        val tcnt = tesh.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_sh"))
        val near = tesh.join(trsh, Seq("sid"))
          .groupBy(col("doc_id"), col("rd"))
          .agg(count(lit(1)).as("ix"))
          .join(tcnt, Seq("doc_id"))
          .filter(col("ix") * 10 >= col("n_sh") * 8)
          .select(col("doc_id")).distinct()
          .withColumn("is_near", lit(1L))
        te.join(exact, Seq("doc_id"), "left")
          .join(near, Seq("doc_id"), "left")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_test"),
            sum(coalesce(col("is_exact"), lit(0L))).as("n_exact_leak"),
            sum(coalesce(col("is_near"), lit(0L))).as("n_near_leak"))
      },
      Some(s"""WITH ${ExtEntries.shinglesCte},
              |${ExtEntries.shingleIdCte},
              |sp AS (
              |  SELECT doc_id, source, md5(text) AS h,
              |    CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val'
              |         ELSE 'test' END AS split
              |  FROM (SELECT *,
              |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
              |      % 10 AS b FROM documents)),
              |tr AS (SELECT * FROM sp WHERE split = 'train'),
              |te AS (SELECT * FROM sp WHERE split = 'test'),
              |ex AS (
              |  SELECT DISTINCT te.doc_id FROM te
              |  JOIN tr ON te.h = tr.h),
              |tesh AS (SELECT s.doc_id, s.sid FROM shid s
              |         JOIN te ON te.doc_id = s.doc_id),
              |trsh AS (SELECT s.doc_id AS rd, s.sid FROM shid s
              |         JOIN tr ON tr.doc_id = s.doc_id),
              |tcnt AS (SELECT doc_id, count(*) AS n_sh FROM tesh GROUP BY 1),
              |nr AS (
              |  SELECT DISTINCT td AS doc_id FROM (
              |    SELECT a.doc_id AS td, b.rd, count(*) AS ix
              |    FROM tesh a JOIN trsh b ON a.sid = b.sid
              |    GROUP BY 1, 2) ov
              |  JOIN tcnt ON tcnt.doc_id = ov.td
              |  WHERE ov.ix * 10 >= tcnt.n_sh * 8)
              |SELECT te.source, CAST(count(*) AS BIGINT) AS n_test,
              |  CAST(sum(CASE WHEN ex.doc_id IS NOT NULL THEN 1 ELSE 0 END)
              |    AS BIGINT) AS n_exact_leak,
              |  CAST(sum(CASE WHEN nr.doc_id IS NOT NULL THEN 1 ELSE 0 END)
              |    AS BIGINT) AS n_near_leak
              |FROM te LEFT JOIN ex ON ex.doc_id = te.doc_id
              |LEFT JOIN nr ON nr.doc_id = te.doc_id
              |GROUP BY te.source""".stripMargin)),

    // BIGRAM-LM EVAL — train an add-one-smoothed bigram language model on
    // the train split, score the test split: per source, total test bigrams
    // and average negative log-likelihood. The scale shape of real LM eval:
    // the "model" is two count tables (bigram, unigram-prefix) hash-joined
    // against the test bigrams — no driver-side state. Each ln((c2+1)/
    // (c1+V)) term is floored onto a 1e-4 grid, the sum runs in BIGINT.
    Q("q300_bigram_nll",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val sp = TrainPrep.hashSplit(docs, "doc_id")
        // persisted TOKEN-POSITION relation (plan census r9): row i of a
        // doc is (w[i], w[i+1]) and the FINAL token pairs with NULL, so
        // (a) bigrams = rows with w2 non-null and (b) every token
        // occurrence appears exactly once as w1 — the vocabulary V is
        // countDistinct(w1) over the SAME persisted relation. Uncached,
        // the corpus-wide explode replanned once per consumer (3 scans /
        // 3 Generates in the r8 census, plus a 4th eager pass for V —
        // the #1 structural entry in the r8 driver bench tail); now the
        // corpus is read and exploded exactly once, and V rides the
        // cache lazily via a 1-row cross join instead of a driver
        // head() at plan-construction time.
        val toks = sp
          .withColumn("w", split(col("text"), " "))
          .select(col("doc_id"), col("source"), col("split"),
            explode(expr(
              "transform(sequence(1, size(w)), " +
                "i -> struct(element_at(w, i) AS w1, " +
                "CASE WHEN i < size(w) THEN element_at(w, i + 1) END AS w2))"))
              .as("bg"))
          .select(col("doc_id"), col("source"), col("split"),
            col("bg.w1"), col("bg.w2"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val trTok = toks.filter(col("split") === "train")
        val c2 = trTok.filter(col("w2").isNotNull)
          .groupBy(col("w1"), col("w2"))
          .agg(count(lit(1)).as("c2"))
        val c1 = c2.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
        val vDf = trTok.agg(countDistinct(col("w1")).as("v"))
        toks.filter(col("split") === "test" && col("w2").isNotNull)
          .join(c2, Seq("w1", "w2"), "left")
          .join(c1, Seq("w1"), "left")
          .crossJoin(vDf)
          .select(col("source"),
            floor(log((coalesce(col("c2"), lit(0L)) + 1L).cast("double") /
              (coalesce(col("c1"), lit(0L)) + col("v")).cast("double")) * 1e4)
              .cast("long").as("lp_q"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_bigrams"), sum(col("lp_q")).as("sum_lp_q"))
          .select(col("source"), col("n_bigrams"),
            (-col("sum_lp_q").cast("double") / col("n_bigrams") / 1e4)
              .as("avg_nll"))
      },
      Some("""WITH sp AS (
             |  SELECT doc_id, source, text,
             |    CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val'
             |         ELSE 'test' END AS split
             |  FROM (SELECT *,
             |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
             |      % 10 AS b FROM documents)),
             |bg AS (
             |  SELECT doc_id, source, split, w[i] AS w1, w[i + 1] AS w2
             |  FROM (SELECT doc_id, source, split,
             |          string_split(text, ' ') AS w FROM sp) d,
             |       (SELECT unnest(range(1, 1000)) AS i) t
             |  WHERE i <= len(w) - 1),
             |c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg
             |       WHERE split = 'train' GROUP BY 1, 2),
             |c1 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1
             |       FROM c2 GROUP BY 1),
             |v AS (SELECT count(DISTINCT tok) AS v FROM (
             |  SELECT unnest(string_split(text, ' ')) AS tok
             |  FROM sp WHERE split = 'train')),
             |scored AS (
             |  SELECT bg.source,
             |    CAST(floor(ln(CAST(coalesce(c2.c2, 0) + 1 AS DOUBLE) /
             |      CAST(coalesce(c1.c1, 0) + v.v AS DOUBLE)) * 1e4)
             |      AS BIGINT) AS lp_q
             |  FROM bg CROSS JOIN v
             |  LEFT JOIN c2 ON bg.w1 = c2.w1 AND bg.w2 = c2.w2
             |  LEFT JOIN c1 ON bg.w1 = c1.w1
             |  WHERE bg.split = 'test')
             |SELECT source, CAST(count(*) AS BIGINT) AS n_bigrams,
             |  -CAST(sum(lp_q) AS DOUBLE) / count(*) / 1e4 AS avg_nll
             |FROM scored GROUP BY 1""".stripMargin)),

    // WELCH'S T-TEST of every event type's value against the 'purchase'
    // baseline — unequal-variance two-sample test from EXACT integer
    // moments (n, Σcents, Σcents²; cents ≤ 6e4 so Σc² stays ≪ 2^63 well
    // past sf10). The t statistic and Welch–Satterthwaite dof are IEEE
    // mul/div/sqrt chains on identical operands — bit-deterministic across
    // engines with no grid needed. One partial-aggregable pass.
    Q("q301_welch_t",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("event_type"),
            round(col("value") * 100).cast("long").as("c"))
        val m = ev.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("c")).as("s1"),
            sum(col("c") * col("c")).as("s2"))
        val base = m.filter(col("event_type") === "purchase")
          .select(col("n").as("n0"), col("s1").as("s10"),
            col("s2").as("s20"))
        def meanVar(n: org.apache.spark.sql.Column,
                    s1: org.apache.spark.sql.Column,
                    s2: org.apache.spark.sql.Column) = {
          val nd = n.cast("double")
          val mean = s1.cast("double") / nd
          val varr = (s2.cast("double") - s1.cast("double") * s1.cast("double") / nd) /
            (nd - 1.0)
          (mean, varr)
        }
        val j = m.filter(col("event_type") =!= "purchase").crossJoin(base)
        val (m1, v1) = meanVar(col("n"), col("s1"), col("s2"))
        val (m0, v0) = meanVar(col("n0"), col("s10"), col("s20"))
        val se1 = v1 / col("n").cast("double")
        val se0 = v0 / col("n0").cast("double")
        j.select(col("event_type"), col("n"),
          ((m1 - m0) / sqrt(se1 + se0)).as("t_stat"),
          (((se1 + se0) * (se1 + se0)) /
            (se1 * se1 / (col("n").cast("double") - 1.0) +
              se0 * se0 / (col("n0").cast("double") - 1.0))).as("dof"))
      },
      Some("""WITH m AS (
             |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(c) AS BIGINT) AS s1,
             |    CAST(sum(c * c) AS BIGINT) AS s2
             |  FROM (SELECT event_type,
             |          CAST(round(value * 100) AS BIGINT) AS c FROM events)
             |  GROUP BY 1),
             |b AS (SELECT n AS n0, s1 AS s10, s2 AS s20 FROM m
             |      WHERE event_type = 'purchase')
             |SELECT event_type, n,
             |  ((CAST(s1 AS DOUBLE) / n) - (CAST(s10 AS DOUBLE) / n0)) /
             |  sqrt(
             |    ((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
             |      / (CAST(n AS DOUBLE) - 1.0)) / n +
             |    ((CAST(s20 AS DOUBLE) - CAST(s10 AS DOUBLE) * CAST(s10 AS DOUBLE) / n0)
             |      / (CAST(n0 AS DOUBLE) - 1.0)) / n0) AS t_stat,
             |  (
             |    (((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
             |        / (CAST(n AS DOUBLE) - 1.0)) / n +
             |     ((CAST(s20 AS DOUBLE) - CAST(s10 AS DOUBLE) * CAST(s10 AS DOUBLE) / n0)
             |        / (CAST(n0 AS DOUBLE) - 1.0)) / n0) *
             |    (((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
             |        / (CAST(n AS DOUBLE) - 1.0)) / n +
             |     ((CAST(s20 AS DOUBLE) - CAST(s10 AS DOUBLE) * CAST(s10 AS DOUBLE) / n0)
             |        / (CAST(n0 AS DOUBLE) - 1.0)) / n0)
             |  ) / (
             |    (((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
             |        / (CAST(n AS DOUBLE) - 1.0)) / n) *
             |    (((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
             |        / (CAST(n AS DOUBLE) - 1.0)) / n) / (CAST(n AS DOUBLE) - 1.0) +
             |    (((CAST(s20 AS DOUBLE) - CAST(s10 AS DOUBLE) * CAST(s10 AS DOUBLE) / n0)
             |        / (CAST(n0 AS DOUBLE) - 1.0)) / n0) *
             |    (((CAST(s20 AS DOUBLE) - CAST(s10 AS DOUBLE) * CAST(s10 AS DOUBLE) / n0)
             |        / (CAST(n0 AS DOUBLE) - 1.0)) / n0) / (CAST(n0 AS DOUBLE) - 1.0)
             |  ) AS dof
             |FROM m CROSS JOIN b
             |WHERE event_type <> 'purchase'""".stripMargin)),

    // BLOCKING-QUALITY metrics for the q135 sorted-neighborhood blocker —
    // the two numbers an ER pipeline publishes before trusting a blocking
    // scheme: PAIR COMPLETENESS (what fraction of true duplicate pairs the
    // blocker surfaces as candidates) and REDUCTION RATIO (what fraction of
    // the n·(n−1)/2 brute-force comparisons it avoids). Ground truth =
    // exact-text pairs (md5 equality — itself a scalable groupBy, q20).
    Q("q302_blocking_metrics",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val truth = docs.select(md5(col("text")).as("h"), col("doc_id"))
          .as("x").join(docs.select(md5(col("text")).as("h"),
            col("doc_id").as("doc_id2")).as("y"),
            col("x.h") === col("y.h") && col("x.doc_id") < col("doc_id2"))
          .select(col("x.doc_id").as("d1"), col("doc_id2").as("d2"),
            lit(1L).as("t"))
        val cand = Dedup.sortedNeighborhoodPairs(docs, 2, 0.0)
          .select(col("d1"), col("d2")).distinct()
          .withColumn("c", lit(1L))
        // one lazy plan, no job while building: the truth and candidate
        // counts and their overlap come from ONE full outer join (both
        // sides hold each pair once — doc_id is unique, FixtureSchemaSpec),
        // cross joined with the corpus size
        val pairs = truth.join(cand, Seq("d1", "d2"), "full_outer")
          .agg(count(col("t")).as("n_truth_pairs"),
            count(col("c")).as("n_cand_pairs"),
            count(when(col("c").isNotNull, col("t"))).as("n_found_pairs"))
        docs.agg(count(lit(1)).as("n_docs")).crossJoin(pairs)
          .select(col("*"),
            (when(col("n_truth_pairs") === 0L, 1.0)
              .otherwise(col("n_found_pairs").cast("double") /
                col("n_truth_pairs")))
              .as("pair_completeness"),
            (lit(1.0) - col("n_cand_pairs").cast("double") /
              (col("n_docs").cast("double") *
                (col("n_docs").cast("double") - 1.0) / 2.0))
              .as("reduction_ratio"))
      },
      Some("""WITH b AS (
             |  SELECT doc_id, substr(text, 1, 40) AS t40,
             |    string_split(text, ' ')[1] AS blk, md5(text) AS h
             |  FROM documents),
             |o AS (SELECT *, row_number() OVER (PARTITION BY blk
             |        ORDER BY t40, doc_id) AS rn FROM b),
             |cand AS (
             |  SELECT DISTINCT a.doc_id AS d1, c.doc_id AS d2
             |  FROM o a JOIN o c ON a.blk = c.blk
             |    AND c.rn - a.rn BETWEEN 1 AND 2),
             |truth AS (
             |  SELECT a.doc_id AS d1, c.doc_id AS d2
             |  FROM b a JOIN b c ON a.h = c.h AND a.doc_id < c.doc_id),
             |k AS (SELECT
             |  (SELECT count(*) FROM documents) AS n_docs,
             |  (SELECT count(*) FROM truth) AS n_truth_pairs,
             |  (SELECT count(*) FROM cand) AS n_cand_pairs,
             |  (SELECT count(*) FROM truth t JOIN cand c
             |     ON t.d1 = c.d1 AND t.d2 = c.d2) AS n_found_pairs)
             |SELECT CAST(n_docs AS BIGINT) AS n_docs,
             |  CAST(n_truth_pairs AS BIGINT) AS n_truth_pairs,
             |  CAST(n_cand_pairs AS BIGINT) AS n_cand_pairs,
             |  CAST(n_found_pairs AS BIGINT) AS n_found_pairs,
             |  CASE WHEN n_truth_pairs = 0 THEN 1.0
             |       ELSE CAST(n_found_pairs AS DOUBLE) / n_truth_pairs
             |  END AS pair_completeness,
             |  1.0 - CAST(n_cand_pairs AS DOUBLE) /
             |    (CAST(n_docs AS DOUBLE) * (CAST(n_docs AS DOUBLE) - 1.0)
             |      / 2.0) AS reduction_ratio
             |FROM k""".stripMargin)),

    // PSI DRIFT between the older and newer half of the order history
    // (midpoint of the date range, integer epoch-day arithmetic): per
    // 50k-price band, Laplace-smoothed shares of each half and the PSI
    // term (p−q)·ln(p/q) floored onto a 1e-8 grid. The table IS the drift
    // report (Σ psi_term_q / 1e8 = the headline PSI); bands are a GLOBAL
    // constant domain, so the whole census is two scans + one groupBy.
    Q("q303_psi_drift",
      (s, d) => {
        val o = Tables.orders(s, d)
          .select((graft.ops.Relational.epochUs(col("o_orderdate"))
            / 86400000000L).cast("long").as("day"),
            floor(col("o_totalprice") / 50000.0).cast("long").as("band"))
        val mid = o.agg(((min(col("day")) + max(col("day"))) / lit(2L))
          .cast("long")).head().getLong(0)
        val counts = o.groupBy(col("band"))
          .agg(sum(when(col("day") < mid, 1L).otherwise(0L)).as("na"),
            sum(when(col("day") >= mid, 1L).otherwise(0L)).as("nb"))
        val tots = counts.agg(sum(col("na")), sum(col("nb")),
          count(lit(1))).head()
        val (ta, tb, nb2) = (tots.getLong(0), tots.getLong(1), tots.getLong(2))
        counts.select(col("band"), col("na"), col("nb"),
          floor(
            (((col("na") + 1L).cast("double") / lit(ta + nb2).cast("double")) -
              ((col("nb") + 1L).cast("double") / lit(tb + nb2).cast("double"))) *
              log(((col("na") + 1L).cast("double") * lit(tb + nb2).cast("double")) /
                ((col("nb") + 1L).cast("double") * lit(ta + nb2).cast("double"))) *
              1e8).cast("long").as("psi_term_q"))
      },
      Some("""WITH o AS (
             |  SELECT CAST(epoch_us(o_orderdate) / 86400000000 AS BIGINT)
             |    AS day,
             |    CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS band
             |  FROM orders),
             |mid AS (SELECT CAST((min(day) + max(day)) / 2 AS BIGINT)
             |        AS mid FROM o),
             |c AS (
             |  SELECT band,
             |    CAST(sum(CASE WHEN day < mid THEN 1 ELSE 0 END) AS BIGINT)
             |      AS na,
             |    CAST(sum(CASE WHEN day >= mid THEN 1 ELSE 0 END) AS BIGINT)
             |      AS nb
             |  FROM o CROSS JOIN mid GROUP BY 1),
             |t AS (SELECT CAST(sum(na) AS BIGINT) AS ta,
             |        CAST(sum(nb) AS BIGINT) AS tb,
             |        CAST(count(*) AS BIGINT) AS k FROM c)
             |SELECT band, na, nb,
             |  CAST(floor(
             |    ((CAST(na + 1 AS DOUBLE) / (ta + k)) -
             |     (CAST(nb + 1 AS DOUBLE) / (tb + k))) *
             |    ln((CAST(na + 1 AS DOUBLE) * (tb + k)) /
             |       (CAST(nb + 1 AS DOUBLE) * (ta + k))) * 1e8)
             |  AS BIGINT) AS psi_term_q
             |FROM c CROSS JOIN t""".stripMargin)),

    // ROLLING 28-DAY OLS TREND per nation — the slope of daily order counts
    // within a trailing four-week range frame, from exact integer window
    // moments (Σx, Σy, Σxy, Σx² over the REDUCED (nation, day) domain —
    // |nations|·|days| rows, not |orders|). Flat/degenerate windows (one
    // distinct day) yield NULL. The slope itself is one double division of
    // exact BIGINTs.
    Q("q304_rolling_slope",
      (s, d) => {
        val daily = Tables.orders(s, d)
          .join(broadcast(Tables.customer(s, d)
            .select(col("c_custkey"), col("c_nationkey"))),
            col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_nationkey").cast("long").as("nation"),
            (graft.ops.Relational.epochUs(col("o_orderdate"))
              / 86400000000L).cast("long").as("day"))
          .agg(count(lit(1)).as("y"))
        val w = Window.partitionBy(col("nation")).orderBy(col("day"))
          .rangeBetween(-27L, 0L)
        val m = daily.select(col("nation"), col("day"), col("y"),
          count(lit(1)).over(w).as("k"),
          sum(col("day")).over(w).as("sx"),
          sum(col("y")).over(w).as("sy"),
          sum(col("day") * col("y")).over(w).as("sxy"),
          sum(col("day") * col("day")).over(w).as("sxx"))
        m.select(col("nation"), col("day"), col("k"),
          when(col("k") * col("sxx") - col("sx") * col("sx") === 0L,
            lit(null).cast("double"))
            .otherwise((col("k") * col("sxy") - col("sx") * col("sy"))
              .cast("double") /
              (col("k") * col("sxx") - col("sx") * col("sx")).cast("double"))
            .as("slope"))
      },
      Some("""WITH daily AS (
             |  SELECT CAST(c_nationkey AS BIGINT) AS nation,
             |    CAST(epoch_us(o_orderdate) / 86400000000 AS BIGINT) AS day,
             |    CAST(count(*) AS BIGINT) AS y
             |  FROM orders JOIN customer ON o_custkey = c_custkey
             |  GROUP BY 1, 2),
             |m AS (
             |  SELECT nation, day,
             |    CAST(count(*) OVER w AS BIGINT) AS k,
             |    CAST(sum(day) OVER w AS BIGINT) AS sx,
             |    CAST(sum(y) OVER w AS BIGINT) AS sy,
             |    CAST(sum(day * y) OVER w AS BIGINT) AS sxy,
             |    CAST(sum(day * day) OVER w AS BIGINT) AS sxx
             |  FROM daily
             |  WINDOW w AS (PARTITION BY nation ORDER BY day
             |    RANGE BETWEEN 27 PRECEDING AND CURRENT ROW))
             |SELECT nation, day, k,
             |  CASE WHEN k * sxx - sx * sx = 0 THEN NULL
             |       ELSE CAST(k * sxy - sx * sy AS DOUBLE) /
             |            CAST(k * sxx - sx * sx AS DOUBLE)
             |  END AS slope
             |FROM m""".stripMargin)))
}

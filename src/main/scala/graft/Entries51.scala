package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ExtEntries.Q

/** Round-8 batch 1: Adamic–Adar link prediction, l-diversity census, KLL
  * quantile-sketch gate, deterministic Poisson-bootstrap CI, padding-
  * efficiency census, Zipf rank-frequency slope.
  *
  * Determinism doctrine for the new float-adjacent ops: wherever a score is
  * a SUM of per-row irrational terms (1/ln d, ln rank), each TERM is
  * quantized to an integer FIRST (floor at 1e6) and the sum runs in BIGINT —
  * so partial-agg merge order can never flip a bit and the DuckDB oracle
  * replays the identical integer arithmetic.
  */
object Entries51 {

  // Poisson(1) CDF cutoffs scaled to the affine-hash modulus P = 1000003
  // (floor(CDF(k) * P) for k = 0..4; weight 5 beyond). Shared literal
  // constants between the Spark side and the oracle SQL below. The per-
  // replicate uniform is (hashA(b)·h + hashB(b)) mod P over ONE 48-bit md5
  // per ROW — the Kirsch–Mitzenmacher discipline the CMS and minhash
  // families already use, so the 32-replicate fan-out costs one digest,
  // not 32.
  private val PoissonCut: Seq[Long] = Seq(
    367880L, 735761L, 919701L, 981014L, 996343L)

  private val BootB = 32 // bootstrap replicates

  /** floor(1e6 / ln(deg)) for deg = 2..10 — PRECOMPUTED literal table
    * shared by the Spark side and the oracle, because JVM Math.log and
    * glibc log can differ by 1 ulp (verify-skill doctrine: no
    * transcendentals in oracle-checked outputs). The per-user item cap of
    * 10 bounds the domain, so the table is total. */
  private val AaWeight: Seq[(Int, Long)] = Seq(
    2 -> 1442695L, 3 -> 910239L, 4 -> 721347L, 5 -> 621334L, 6 -> 558110L,
    7 -> 513898L, 8 -> 480898L, 9 -> 455119L, 10 -> 434294L)

  val all: Seq[Q] = Seq(

    // ADAMIC–ADAR item↔item link prediction over the event co-engagement
    // bipartite graph (reference has item co-occurrence only implicitly via
    // the events stream; q192 counts raw co-engagement — this weights each
    // shared user by 1/ln(deg), the classic link-prediction score, so
    // promiscuous users contribute less). Per-user item cap (10, most
    // recent) bounds the pair fan-out at 45 pairs/user — the same skew
    // guard that makes q192 scale; weights are floor(1e6/ln deg) BIGINTs,
    // so the aggregated score is exact integer math.
    Q("q293_adamic_adar",
      (s, d) => {
        val ev = Tables.events(s, d).where(col("props").isNotNull)
        val ui = ev.groupBy(col("user_id"), col("props").as("item"))
          .agg(max(col("ts_us")).as("last_ts"))
          .select(col("user_id"), col("item"), col("last_ts"))
        val capped = ui
          .withColumn("rn", row_number().over(Window.partitionBy("user_id")
            .orderBy(col("last_ts").desc, col("item").asc)))
          .where(col("rn") <= 10)
          .select(col("user_id"), col("item"))
          // persisted (plan census r9): both legs of the co-occurrence
          // self-join and the degree-weight rollup consume capped
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val wExpr = AaWeight.foldLeft(lit(null).cast("long")) {
          case (acc, (deg, wq)) => when(col("deg") === deg, wq).otherwise(acc)
        }
        val w = capped.groupBy("user_id")
          .agg(count(lit(1)).as("deg"))
          .where(col("deg") >= 2)
          .withColumn("w_q", wExpr)
          .select(col("user_id"), col("w_q"))
        capped.as("a")
          .join(capped.as("b"),
            col("a.user_id") === col("b.user_id") &&
              col("a.item") < col("b.item"))
          .select(col("a.user_id").as("user_id"),
            col("a.item").as("i1"), col("b.item").as("i2"))
          .join(w, Seq("user_id"))
          .groupBy(col("i1"), col("i2"))
          .agg(sum(col("w_q")).as("aa_score_q"),
            count(lit(1)).as("n_shared"))
          .where(col("n_shared") >= 2)
      },
      Some("""WITH ui AS (
             |  SELECT user_id, props AS item, max(epoch_us(ts)) AS last_ts
             |  FROM events WHERE props IS NOT NULL GROUP BY 1, 2),
             |capped AS (
             |  SELECT user_id, item FROM (
             |    SELECT *, row_number() OVER (PARTITION BY user_id
             |      ORDER BY last_ts DESC, item ASC) AS rn
             |    FROM ui)
             |  WHERE rn <= 10),
             |w AS (
             |  SELECT user_id,
             |    CASE count(*) WHEN 2 THEN 1442695 WHEN 3 THEN 910239
             |      WHEN 4 THEN 721347 WHEN 5 THEN 621334 WHEN 6 THEN 558110
             |      WHEN 7 THEN 513898 WHEN 8 THEN 480898 WHEN 9 THEN 455119
             |      WHEN 10 THEN 434294 END AS w_q
             |  FROM capped GROUP BY user_id HAVING count(*) >= 2)
             |SELECT a.item AS i1, b.item AS i2,
             |  CAST(sum(w.w_q) AS BIGINT) AS aa_score_q,
             |  CAST(count(*) AS BIGINT) AS n_shared
             |FROM capped a
             |JOIN capped b ON a.user_id = b.user_id AND a.item < b.item
             |JOIN w ON w.user_id = a.user_id
             |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin)),

    // L-DIVERSITY census (Machanavajjhala et al. 2007) — the sensitive-value
    // companion to the k-anonymity census (q164): for each quasi-identifier
    // group, how many DISTINCT sensitive values (acctbal bands of 1000)
    // appear; a group is l-diverse at l=3 iff ≥3. One hash aggregation —
    // partial-aggregable, no window, scales like any groupBy.
    Q("q294_ldiversity",
      (s, d) => Tables.customer(s, d)
        .groupBy(col("c_mktsegment"), col("c_nationkey"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(floor(col("c_acctbal") / 1000.0).cast("long"))
            .as("l_distinct"))
        .withColumn("meets_l3", col("l_distinct") >= 3),
      Some("""SELECT c_mktsegment, c_nationkey,
             |  CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(count(DISTINCT CAST(floor(c_acctbal / 1000.0) AS BIGINT))
             |    AS BIGINT) AS l_distinct,
             |  count(DISTINCT CAST(floor(c_acctbal / 1000.0) AS BIGINT)) >= 3
             |    AS meets_l3
             |FROM customer GROUP BY 1, 2""".stripMargin)),

    // KLL QUANTILE-SKETCH GATE — the mergeable-order-statistics counterpart
    // of the CMS/bitmap gates: one kll_quantiles sketch per returnflag
    // (functions/KllAgg.scala), then every estimate is checked against the
    // EXACT rank it holds in the data (rank_lt/rank_le via a broadcast join
    // back to the fact table): ok ⇔ the estimate's feasible rank interval
    // intersects [q−ε, q+ε], ε = 2%. Like q168/q177, the GATE VERDICT is
    // the query output — a measured go/no-go for shipping the sketch at
    // 100 TB, where the exact sort this gate uses is unaffordable but the
    // sketch is a few KiB per rollup cell.
    Q("q295_kll_gate",
      (s, d) => {
        val li = Tables.lineitem(s, d)
          .select(col("l_returnflag"), col("l_extendedprice"))
        val labels = graft.functions.KllCodec.Quantiles
          .map(q => f"p${math.round(q * 100)}%02d")
        val sk = li.groupBy(col("l_returnflag"))
          .agg(graft.functions.GraftFunctions
            .kllQuantiles(col("l_extendedprice")).as("est"),
            count(lit(1)).as("n_rows"))
        val gates = sk.select(col("l_returnflag"), col("n_rows"),
          posexplode(col("est")).as(Seq("qi", "est_v")))
          .withColumn("q_label",
            element_at(typedlit(labels.toSeq), col("qi").cast("int") + 1))
          .withColumn("q", element_at(
            typedlit(graft.functions.KllCodec.Quantiles.toSeq),
            col("qi").cast("int") + 1))
        val ranks = broadcast(gates).as("g")
          .join(li.as("f"), col("g.l_returnflag") === col("f.l_returnflag"))
          .groupBy(col("g.l_returnflag"), col("g.q_label"), col("g.q"),
            col("g.n_rows"), col("g.est_v"))
          .agg(
            sum(when(col("f.l_extendedprice") < col("g.est_v"), 1L)
              .otherwise(0L)).as("rank_lt"),
            sum(when(col("f.l_extendedprice") <= col("g.est_v"), 1L)
              .otherwise(0L)).as("rank_le"))
        ranks.select(col("l_returnflag"), col("q_label"), col("n_rows"),
          (col("rank_le").cast("double") / col("n_rows") >= col("q") - 0.02 &&
            col("rank_lt").cast("double") / col("n_rows") <= col("q") + 0.02)
            .as("ok"))
      },
      Some("""SELECT l_returnflag, q_label,
             |  CAST(count(*) AS BIGINT) AS n_rows, TRUE AS ok
             |FROM lineitem CROSS JOIN (SELECT unnest(
             |  ['p01','p05','p25','p50','p75','p95','p99']) AS q_label)
             |GROUP BY 1, 2""".stripMargin)),

    // DETERMINISTIC POISSON-BOOTSTRAP CI for mean order value per priority
    // (Efron resampling in its shuffle-friendly form: instead of drawing B
    // samples-with-replacement — a full repartition per replicate — each row
    // gets a Poisson(1) multiplicity per replicate from an affine hash of
    // ONE 48-bit md5 per row, so all B replicate sums ride ONE map-side
    // partial aggregation and one digest). The cutoffs are shared integer
    // literals with the oracle. CI = 2nd / 31st order statistic of the 32 replicate means
    // (a ~94% interval); replicate selection is rank-based, not value-based,
    // so it is deterministic under ties.
    Q("q296_bootstrap_ci",
      (s, d) => {
        // replicate sums run over integer cents and divide once, so a mean
        // is one IEEE division of exact operands under any summation order
        val o = Tables.orders(s, d)
          .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
        // ONE md5 per row; replicate b derives its uniform by the shared
        // affine family (hashA/hashB mod P) — 1/32nd the digest cost.
        // The hash MUST be a separate select below the explode: putting
        // both in one select lets ExtractGenerator hoist every
        // non-generator expression into the Project ABOVE the Generate,
        // where the digest runs once per EXPLODED row (32x per order —
        // measured 3.4s -> the fix at sf0.1; the r10 plan audit)
        val hashed = o.select(col("o_orderpriority"), col("cents"),
          conv(substring(md5(col("o_orderkey").cast("string")), 1, 12),
            16, 10).cast("long").as("h0"))
        val b = hashed.select(col("o_orderpriority"), col("cents"),
          col("h0"), explode(sequence(lit(0), lit(BootB - 1))).as("b"))
        val h = (col("h0") * (col("b") * 101L + 37L) +
          (col("b") * 577L + 89L)) % graft.ext.Dedup.P
        val w = when(h < PoissonCut(0), 0L)
          .when(h < PoissonCut(1), 1L)
          .when(h < PoissonCut(2), 2L)
          .when(h < PoissonCut(3), 3L)
          .when(h < PoissonCut(4), 4L)
          .otherwise(5L)
        val reps = b.withColumn("w", w)
          .groupBy(col("o_orderpriority"), col("b"))
          .agg((sum(col("w") * col("cents")).cast("double") /
            (sum(col("w")) * 100L).cast("double")).as("mean_b"))
        val ranked = reps.withColumn("rn",
          row_number().over(Window.partitionBy("o_orderpriority")
            .orderBy(col("mean_b").asc, col("b").asc)))
        ranked.groupBy(col("o_orderpriority"))
          .agg(min(when(col("rn") === 2, col("mean_b"))).as("ci_lo"),
            min(when(col("rn") === BootB - 1, col("mean_b"))).as("ci_hi"))
      },
      Some(s"""WITH reps AS (
              |  SELECT o_orderpriority, b,
              |    CAST(CAST(sum(w * cents) AS BIGINT) AS DOUBLE) /
              |      CAST(CAST(sum(w) AS BIGINT) * 100 AS DOUBLE) AS mean_b
              |  FROM (
              |    SELECT o_orderpriority, cents, b,
              |      CASE
              |        WHEN h < ${PoissonCut(0)} THEN 0
              |        WHEN h < ${PoissonCut(1)} THEN 1
              |        WHEN h < ${PoissonCut(2)} THEN 2
              |        WHEN h < ${PoissonCut(3)} THEN 3
              |        WHEN h < ${PoissonCut(4)} THEN 4
              |        ELSE 5 END AS w
              |    FROM (
              |      SELECT o_orderpriority, cents, b,
              |        (h0 * (b * 101 + 37) + (b * 577 + 89))
              |          % ${graft.ext.Dedup.P} AS h
              |      FROM (
              |        SELECT o_orderpriority,
              |          CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
              |          ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)),
              |            1, 12))::BIGINT AS h0
              |        FROM orders)
              |      CROSS JOIN (SELECT unnest(range(0, $BootB)) AS b)))
              |  GROUP BY 1, 2),
              |ranked AS (
              |  SELECT o_orderpriority, mean_b,
              |    row_number() OVER (PARTITION BY o_orderpriority
              |      ORDER BY mean_b ASC, b ASC) AS rn
              |  FROM reps)
              |SELECT o_orderpriority,
              |  min(CASE WHEN rn = 2 THEN mean_b END) AS ci_lo,
              |  min(CASE WHEN rn = ${BootB - 1} THEN mean_b END) AS ci_hi
              |FROM ranked GROUP BY 1""".stripMargin)),

    // PADDING-EFFICIENCY census — the batch-shape report an LLM training
    // pipeline reads before choosing bucket boundaries: with length buckets
    // {64,128,256,512} and a 512-token truncation cap, how many pad tokens
    // does each (source, bucket) cell waste and how many real tokens does
    // truncation drop. Whitespace tokens (q30's definition); all-integer.
    Q("q297_padding_census",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .withColumn("n_tok", size(split(col("text"), " ")).cast("long"))
        val kept = docs.withColumn("kept", least(col("n_tok"), lit(512L)))
          .withColumn("bucket_cap",
            when(col("kept") <= 64L, 64L)
              .when(col("kept") <= 128L, 128L)
              .when(col("kept") <= 256L, 256L)
              .otherwise(512L))
        kept.groupBy(col("source"), col("bucket_cap"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("kept")).as("n_tokens_kept"),
            sum(col("bucket_cap") - col("kept")).as("n_pad_tokens"),
            sum(greatest(col("n_tok") - 512L, lit(0L)))
              .as("n_trunc_tokens"))
      },
      Some("""WITH t AS (
             |  SELECT source,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
             |  FROM documents),
             |k AS (
             |  SELECT source, n_tok, least(n_tok, 512) AS kept,
             |    CASE WHEN least(n_tok, 512) <= 64 THEN 64
             |         WHEN least(n_tok, 512) <= 128 THEN 128
             |         WHEN least(n_tok, 512) <= 256 THEN 256
             |         ELSE 512 END AS bucket_cap
             |  FROM t)
             |SELECT source, CAST(bucket_cap AS BIGINT) AS bucket_cap,
             |  CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(kept) AS BIGINT) AS n_tokens_kept,
             |  CAST(sum(bucket_cap - kept) AS BIGINT) AS n_pad_tokens,
             |  CAST(sum(greatest(n_tok - 512, 0)) AS BIGINT)
             |    AS n_trunc_tokens
             |FROM k GROUP BY 1, 2""".stripMargin)),

    // ZIPF RANK-FREQUENCY SLOPE per language — the corpus-health scalar
    // (natural text ≈ −1; synthetic/templated text flattens): OLS slope of
    // ln(freq) on ln(rank) over the top-100 tokens. Every ln() TERM is
    // floored onto a 1e-4 integer grid before the sums, so the regression
    // moments are exact BIGINT sums and the final slope one double division
    // of exact integers. The grid is the cross-engine guard for the one
    // unavoidable transcendental: a 1-ulp JVM-vs-glibc ln() disagreement
    // (~2e-15 absolute here) flips a 1e-4-grid floor only if the true value
    // sits within 2e-11 of a boundary — ~4e-11 odds per term.
    Q("q298_zipf_slope",
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
          .where(length(col("tok")) > 0)
          .groupBy(col("lang"), col("tok"))
          .agg(count(lit(1)).as("cnt"))
        val ranked = toks.withColumn("rank",
          row_number().over(Window.partitionBy("lang")
            .orderBy(col("cnt").desc, col("tok").asc)))
          .where(col("rank") <= 100)
        val pts = ranked
          .withColumn("x", floor(log(col("rank").cast("double")) * 1e4)
            .cast("long"))
          .withColumn("y", floor(log(col("cnt").cast("double")) * 1e4)
            .cast("long"))
        pts.groupBy(col("lang"))
          .agg(count(lit(1)).as("n_pts"),
            sum(col("x")).as("sx"), sum(col("y")).as("sy"),
            sum(col("x") * col("y")).as("sxy"),
            sum(col("x") * col("x")).as("sxx"))
          .select(col("lang"), col("n_pts"),
            ((col("n_pts") * col("sxy") - col("sx") * col("sy"))
              .cast("double") /
              (col("n_pts") * col("sxx") - col("sx") * col("sx"))
                .cast("double")).as("zipf_slope"))
      },
      Some("""WITH toks AS (
             |  SELECT lang, tok, count(*) AS cnt FROM (
             |    SELECT lang, unnest(string_split(text, ' ')) AS tok
             |    FROM documents)
             |  WHERE len(tok) > 0 GROUP BY 1, 2),
             |ranked AS (
             |  SELECT lang, cnt, row_number() OVER (PARTITION BY lang
             |    ORDER BY cnt DESC, tok ASC) AS rank
             |  FROM toks QUALIFY rank <= 100),
             |pts AS (
             |  SELECT lang,
             |    CAST(floor(ln(CAST(rank AS DOUBLE)) * 1e4) AS BIGINT) AS x,
             |    CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1e4) AS BIGINT) AS y
             |  FROM ranked),
             |m AS (
             |  SELECT lang, CAST(count(*) AS BIGINT) AS n_pts,
             |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             |    CAST(sum(x * y) AS BIGINT) AS sxy,
             |    CAST(sum(x * x) AS BIGINT) AS sxx
             |  FROM pts GROUP BY 1)
             |SELECT lang, n_pts,
             |  CAST(n_pts * sxy - sx * sy AS DOUBLE) /
             |    CAST(n_pts * sxx - sx * sx AS DOUBLE) AS zipf_slope
             |FROM m""".stripMargin)))
}

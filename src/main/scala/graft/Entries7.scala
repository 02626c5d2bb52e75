package graft

import org.apache.spark.sql.functions._
import graft.ops.{Decay, JoinStats, Retail, Snapshots, ZoneMap}
import graft.ext.Similarity
import graft.ExtEntries.Q

/** Round-4 batch 3: feature-store core retrieval (decayed features,
  * PIT+TTL join), OLAP scale machinery (mergeable exact-distinct sketches,
  * zone-map data skipping), and planner-style join statistics. Everything
  * integer-exact or dyadic-exact; the oracles replay byte-identical math.
  */
object Entries7 {

  // zone-map query box: l_partkey ∈ [256, 1023] × ship epoch-day ∈ [9000, 9365]
  private val (pkLo, pkHi, dayLo, dayHi) = (256L, 1023L, 9000L, 9365L)

  // ---------------------------------------------------------- PQ oracle SQL

  /** Sequential-fold squared L2 over `dim`-wide double lists (mirror of
    * Similarity.l2sq: diff then product-fold; operands already DOUBLE). */
  private def l2Sql(a: String, b: String, dim: Int): String =
    s"list_reduce(list_transform(range(1, ${dim + 1}), " +
      s"i -> ($a[i] - $b[i]) * ($a[i] - $b[i])), (x, y) -> x + y)"

  /** Full PQ training replay (mirror of Similarity.pqFit with m=4,
    * subDim=16, seedEvery=64, iters=2): subspace slices → seed codebooks →
    * argmin assign → round-to-micros exact refit → final assign. */
  private val pqCtes: String = {
    val l2vc = l2Sql("sub.v", "c.c", 16)
    s"""sub AS (
       |  SELECT vec_id, s,
       |    list_transform(embedding[(s*16+1):(s*16+16)],
       |      x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings, (SELECT unnest(range(0, 4)) AS s) t),
       |cent0 AS (SELECT s, vec_id AS cluster, v AS c
       |          FROM sub WHERE vec_id % 64 = 0),
       |a0 AS (
       |  SELECT vec_id, s, v, cluster FROM (
       |    SELECT sub.vec_id, sub.s, sub.v, c.cluster,
       |      row_number() OVER (PARTITION BY sub.vec_id, sub.s
       |        ORDER BY $l2vc ASC, c.cluster ASC) AS rn
       |    FROM sub JOIN cent0 c ON sub.s = c.s)
       |  WHERE rn = 1),
       |cent1 AS (
       |  SELECT s, cluster, array_agg(cx ORDER BY dim) AS c FROM (
       |    SELECT s, cluster, dim,
       |      CAST(sum(CAST(round(x * 1000000) AS BIGINT)) AS BIGINT)
       |        / 1000000.0 / count(*) AS cx
       |    FROM (SELECT s, cluster, unnest(v) AS x,
       |            generate_subscripts(v, 1) AS dim FROM a0)
       |    GROUP BY s, cluster, dim) GROUP BY s, cluster),
       |a1 AS (
       |  SELECT vec_id, s, v, cluster FROM (
       |    SELECT sub.vec_id, sub.s, sub.v, c.cluster,
       |      row_number() OVER (PARTITION BY sub.vec_id, sub.s
       |        ORDER BY $l2vc ASC, c.cluster ASC) AS rn
       |    FROM sub JOIN cent1 c ON sub.s = c.s)
       |  WHERE rn = 1)""".stripMargin
  }

  val all: Seq[Q] = Seq(

    // Exponential time-decay engagement features (weekly half-life, 8-week
    // horizon) — BIGINT-exact via power-of-two weights on integer cents.
    Q("q139_decayed_features",
      (s, d) => Decay.decayedFeatures(
        Tables.events(s, d).select(col("user_id"), col("ts_us"), col("value"))),
      Some(Decay.decayedFeaturesSql)),

    // Store-sketches rollup: one exact bitmap of o_custkey per
    // (nation, order-month) cell, then nation-level distinct customers by
    // OR-merging the stored sketches — no fact re-scan, exact answer.
    Q("q140_sketch_rollup",
      (s, d) => {
        val oc = Tables.orders(s, d)
          .join(broadcast(Tables.customer(s, d)
            .select(col("c_custkey"), col("c_nationkey"))),
            col("o_custkey") === col("c_custkey"))
        val fine = oc
          .groupBy(col("c_nationkey"),
            (year(col("o_orderdate")) * 100 + month(col("o_orderdate"))).as("mon"))
          .agg(graft.functions.GraftFunctions.bitmapSketch(col("o_custkey"))
            .as("sketch"))
        fine.groupBy(col("c_nationkey"))
          .agg(count(lit(1)).as("n_months"),
            graft.functions.GraftFunctions.bitmapMergeCount(col("sketch"))
              .as("distinct_customers"))
      },
      Some("""SELECT c.c_nationkey,
             |  CAST(count(DISTINCT year(o.o_orderdate) * 100
             |    + month(o.o_orderdate)) AS BIGINT) AS n_months,
             |  CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS distinct_customers
             |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
             |GROUP BY 1""".stripMargin)),

    // Planner-style join estimation: exact equi-join cardinality, key-overlap
    // Venn, and worst-key skew share from the two key histograms alone.
    Q("q141_join_estimate",
      (s, d) => {
        val ev = Tables.events(s, d)
        JoinStats.joinEstimate(
          ev.filter(col("event_type") === "purchase")
            .select(col("user_id").as("key")),
          ev.filter(col("event_type") === "click")
            .select(col("user_id").as("key")))
      },
      Some(JoinStats.joinEstimateSql)),

    // Zone-map data skipping over the Z-ordered (partkey, ship-day) plane:
    // chunk stats + metadata-only prune decision + residual hits per chunk.
    Q("q143_zone_map",
      (s, d) => ZoneMap.zoneMapPrune(
        Tables.lineitem(s, d).select(
          (col("l_orderkey") * 10 + col("l_linenumber")).as("id"),
          col("l_partkey").as("x"),
          graft.ops.Relational.epochUs(col("l_shipdate")).as("eus"))
          // integer DIV (not `/`, which is double division) = oracle's //
          .withColumn("y", expr("eus DIV 86400000000")).drop("eus"),
        pkLo, pkHi, dayLo, dayHi),
      Some(ZoneMap.zoneMapPruneSql(pkLo, pkHi, dayLo, dayHi))),

    // Feast-style historical retrieval: purchases pick up the latest view
    // feature (TTL 3 d) and click feature (TTL 1 d) as of the purchase ts;
    // stale/missing features are NULL, never expired or future values.
    Q("q144_pit_join",
      (s, d) => {
        val ev = Tables.events(s, d)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts_us"), col("event_id"))
        val views = ev.filter(col("event_type") === "view")
          .groupBy(col("user_id"), col("ts_us"))
          .agg(max(col("value")).as("view_value"))
        val clicks = ev.filter(col("event_type") === "click")
          .groupBy(col("user_id"), col("ts_us"))
          .agg(count(lit(1)).as("click_cnt"))
        Snapshots.pitJoin(purchases, "user_id", "ts_us", Seq(
          Snapshots.FeatureGroup(views, Seq("view_value"), 3L * 86400000000L),
          Snapshots.FeatureGroup(clicks, Seq("click_cnt"), 1L * 86400000000L)))
      },
      Some("""WITH p AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id
             |          FROM events WHERE event_type = 'purchase'),
             |v AS (SELECT user_id, epoch_us(ts) AS ts_us, max(value) AS view_value
             |      FROM events WHERE event_type = 'view' GROUP BY 1, 2),
             |c AS (SELECT user_id, epoch_us(ts) AS ts_us,
             |        CAST(count(*) AS BIGINT) AS click_cnt
             |      FROM events WHERE event_type = 'click' GROUP BY 1, 2),
             |j1 AS (
             |  SELECT p.user_id, p.ts_us, p.event_id,
             |    CASE WHEN p.ts_us - v.ts_us <= 259200000000 THEN v.view_value
             |    END AS view_value
             |  FROM p ASOF LEFT JOIN v
             |    ON p.user_id = v.user_id AND p.ts_us >= v.ts_us)
             |SELECT j1.user_id, j1.ts_us, j1.event_id, j1.view_value,
             |  CASE WHEN j1.ts_us - c.ts_us <= 86400000000 THEN c.click_cnt
             |  END AS click_cnt
             |FROM j1 ASOF LEFT JOIN c
             |  ON j1.user_id = c.user_id AND j1.ts_us >= c.ts_us""".stripMargin)),

    // Product quantization codes: 64-dim float vectors → 4 subspace codes
    // (deterministic per-subspace L2 k-means, 1 exact refit) — the
    // memory-compression ANN path (256 B → 4 codes). Full training replayed
    // by the oracle.
    Q("q142_pq_codes",
      (s, d) => {
        // persisted (plan census r9): codebook training and encoding
        // read the same vectors
        val emb = Tables.embeddings(s, d)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        Similarity.pqCodes(emb, 4, 16, 64, 2)
      },
      Some(s"""WITH $pqCtes
              |SELECT vec_id, s, cluster AS code FROM a1""".stripMargin)),

    // ADC top-5 per query from the PQ codes: per-query distance tables over
    // the codebooks, approx distance = ordered fold of 4 table lookups.
    Q("q145_pq_adc",
      (s, d) => {
        // persisted (plan census r9): codebooks, codes and query
        // distance tables all derive from the one embeddings relation
        val emb = Tables.embeddings(s, d)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        Similarity.pqAdcTopK(emb, 4, 16, 64, 2, 3, 5)
      },
      Some(s"""WITH $pqCtes,
              |qd AS (
              |  SELECT sub.vec_id AS q_id, sub.s, c.cluster,
              |    ${l2Sql("sub.v", "c.c", 16)} AS d
              |  FROM sub JOIN cent1 c ON sub.s = c.s WHERE sub.vec_id < 3),
              |pairs AS (
              |  SELECT qd.q_id, a1.vec_id AS n_id,
              |    list_reduce(list(qd.d ORDER BY qd.s), (x, y) -> x + y) AS adist
              |  FROM a1 JOIN qd ON a1.s = qd.s AND a1.cluster = qd.cluster
              |  WHERE qd.q_id != a1.vec_id
              |  GROUP BY 1, 2)
              |SELECT q_id, n_id, adist, rnk FROM (
              |  SELECT q_id, n_id, adist,
              |    CAST(row_number() OVER (PARTITION BY q_id
              |      ORDER BY adist ASC, n_id ASC) AS BIGINT) AS rnk
              |  FROM pairs)
              |WHERE rnk <= 5""".stripMargin)),

    // RFM quintile segmentation: per-customer recency/frequency/monetary
    // from integer epochs and cents, ntile(5) scores with id tie-breaks.
    Q("q146_rfm",
      (s, d) => Retail.rfmScores(Tables.orders(s, d)),
      Some(Retail.rfmScoresSql)),

    // Market-basket association rules with a-priori pruning: infrequent
    // items are removed BEFORE the per-order pair expansion; support/
    // confidence/lift from exact BIGINT counts.
    Q("q147_assoc_rules",
      (s, d) => Retail.assocRules(Tables.lineitem(s, d), 20L, 3L),
      Some(Retail.assocRulesSql(20L, 3L)))
  )
}

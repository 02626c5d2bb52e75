package graft

import org.apache.spark.sql.functions._
import graft.ExtEntries.Q

/** Round-8 batch 6: bitemporal as-of, mutual-information feature signal,
  * cardinality-estimate q-error report, KLL sketch ROLLUP (store blobs,
  * merge up the tree). */
object Entries56 {

  val all: Seq[Q] = Seq(

    // BITEMPORAL AS-OF — "what did we BELIEVE at system time S about the
    // value at valid time T": versions are a user's purchases (valid axis =
    // event time, system axis = arrival order event_id, value = cents);
    // probes are the user's views (T = their ts, S = their event_id). The
    // answer is argmax(valid_ts, sys_id) over versions with sys_id ≤ S AND
    // valid_ts ≤ T — computed as ONE per-user join + max(struct) partial
    // aggregate. Fan-out is per-user quadratic (views × purchases), the
    // honest cost of 2-D time travel; at 100 TB cap the version chain per
    // key (SCD-style) before probing. Completes the temporal-join family:
    // as-of (1-D), SCD2 lookup (intervalized 1-D), this (2-D).
    Q("q317_bitemporal_asof",
      (s, d) => {
        val ev = Tables.events(s, d)
        val versions = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts_us").as("valid_ts"),
            col("event_id").as("sys_id"),
            round(col("value") * 100).cast("long").as("cents"))
        val probes = ev.filter(col("event_type") === "view")
          .select(col("user_id"), col("ts_us").as("t"),
            col("event_id").as("probe_id"))
        // predicates live in the JOIN condition (not a post-filter): a
        // probe whose versions all fail them must SURVIVE with nulls
        probes.as("p").join(versions.as("v"),
          col("p.user_id") === col("v.user_id") &&
            col("v.valid_ts") <= col("p.t") &&
            col("v.sys_id") <= col("p.probe_id"), "left")
          .groupBy(col("p.user_id").as("user_id"), col("probe_id"))
          .agg(max(when(col("valid_ts").isNotNull,
            struct(col("valid_ts"), col("sys_id"), col("cents"))))
            .as("m"))
          .select(col("user_id"), col("probe_id"),
            col("m.valid_ts").as("believed_valid_ts"),
            col("m.cents").as("believed_cents"))
      },
      Some("""WITH v AS (
             |  SELECT user_id, epoch_us(ts) AS valid_ts, event_id AS sys_id,
             |    CAST(round(value * 100) AS BIGINT) AS cents
             |  FROM events WHERE event_type = 'purchase'),
             |p AS (
             |  SELECT user_id, epoch_us(ts) AS t, event_id AS probe_id
             |  FROM events WHERE event_type = 'view'),
             |j AS (
             |  SELECT p.user_id, p.probe_id, v.valid_ts, v.sys_id, v.cents,
             |    row_number() OVER (PARTITION BY p.user_id, p.probe_id
             |      ORDER BY v.valid_ts DESC, v.sys_id DESC) AS rn
             |  FROM p LEFT JOIN v ON v.user_id = p.user_id
             |    AND v.valid_ts <= p.t AND v.sys_id <= p.probe_id)
             |SELECT user_id, probe_id,
             |  valid_ts AS believed_valid_ts, cents AS believed_cents
             |FROM j WHERE rn = 1""".stripMargin)),

    // MUTUAL INFORMATION between customer segment and order priority — the
    // information-theoretic feature-relevance signal beside the chi-square
    // cells (q93): per cell, the exact joint/marginal counts and the MI
    // term (c_xy/N)·ln(c_xy·N / (c_x·c_y)) floored onto a 1e-8 grid (every
    // ln() input is a ratio of exact integer products ≪ 2^53). Σ terms /
    // 1e8 = the MI estimate; near-zero here IS the signal (the fixture
    // axes are independent), and the spec pins that.
    Q("q318_mutual_info",
      (s, d) => {
        val jo = Tables.orders(s, d)
          .join(broadcast(Tables.customer(s, d)
            .select(col("c_custkey"), col("c_mktsegment"))),
            col("o_custkey") === col("c_custkey"))
        // persisted joint cells (≤ 25 rows); marginals and the total all
        // derive from them — one fact pass instead of four (the total is
        // the cell sum, identical by algebra)
        val cells = jo.groupBy(col("c_mktsegment"), col("o_orderpriority"))
          .agg(count(lit(1)).as("n_xy"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val mx = cells.groupBy(col("c_mktsegment"))
          .agg(sum(col("n_xy")).as("n_x"))
        val my = cells.groupBy(col("o_orderpriority"))
          .agg(sum(col("n_xy")).as("n_y"))
        val n = cells.agg(sum(col("n_xy"))).head().getLong(0)
        cells.join(broadcast(mx), Seq("c_mktsegment"))
          .join(broadcast(my), Seq("o_orderpriority"))
          .select(col("c_mktsegment"), col("o_orderpriority"), col("n_xy"),
            floor((col("n_xy").cast("double") / lit(n.toDouble)) *
              log((col("n_xy") * lit(n)).cast("double") /
                (col("n_x") * col("n_y")).cast("double")) * 1e8)
              .cast("long").as("mi_term_q"))
      },
      Some("""WITH jo AS (
             |  SELECT c_mktsegment, o_orderpriority
             |  FROM orders JOIN customer ON o_custkey = c_custkey),
             |cells AS (
             |  SELECT c_mktsegment, o_orderpriority,
             |    CAST(count(*) AS BIGINT) AS n_xy
             |  FROM jo GROUP BY 1, 2),
             |mx AS (SELECT c_mktsegment, CAST(sum(n_xy) AS BIGINT) AS n_x
             |       FROM cells GROUP BY 1),
             |my AS (SELECT o_orderpriority, CAST(sum(n_xy) AS BIGINT) AS n_y
             |       FROM cells GROUP BY 1),
             |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM jo)
             |SELECT c.c_mktsegment, c.o_orderpriority, c.n_xy,
             |  CAST(floor((CAST(c.n_xy AS DOUBLE) / n.n) *
             |    ln(CAST(c.n_xy * n.n AS DOUBLE) /
             |       CAST(mx.n_x * my.n_y AS DOUBLE)) * 1e8) AS BIGINT)
             |    AS mi_term_q
             |FROM cells c
             |JOIN mx ON mx.c_mktsegment = c.c_mktsegment
             |JOIN my ON my.o_orderpriority = c.o_orderpriority
             |CROSS JOIN n""".stripMargin)),

    // CARDINALITY-ESTIMATE Q-ERROR report — the optimizer-feedback loop in
    // one table: for each join edge, the System-R uniform estimate
    // |A|·|B| / max(ndv_A, ndv_B) vs the ACTUAL join cardinality, and the
    // q-error as the exact rational (max, min) of the two. The measured
    // "how wrong would the planner be" gate that motivates the q309/q312
    // statistics; everything integer (estimate uses DIV).
    Q("q319_qerror_report",
      (s, d) => {
        // one lazy plan per edge, no job while building: both sides
        // reduced to per-key counts and full-outer-joined ONCE — the side
        // sums are |A| and |B|, the non-null keys per side are the NDVs,
        // and Σ ca·cb over matched keys is the actual join cardinality
        def edge(name: String, a: org.apache.spark.sql.DataFrame, ka: String,
                 b: org.apache.spark.sql.DataFrame, kb: String) = {
          val ga = a.groupBy(col(ka).as("k")).agg(count(lit(1)).as("ca"))
          val gb = b.groupBy(col(kb).as("k")).agg(count(lit(1)).as("cb"))
          ga.as("a").join(gb.as("b"), col("a.k") === col("b.k"), "full_outer")
            .agg(coalesce(sum(col("ca")), lit(0L)).as("n_left"),
              coalesce(sum(col("cb")), lit(0L)).as("n_right"),
              count(col("a.k")).as("ndva"), count(col("b.k")).as("ndvb"),
              coalesce(sum(col("ca") * col("cb")), lit(0L)).as("act_rows"))
            .withColumn("est_rows",
              expr("n_left * n_right DIV greatest(ndva, ndvb)"))
            .select(lit(name).as("edge"), col("n_left"), col("n_right"),
              col("est_rows"), col("act_rows"),
              greatest(col("est_rows"), col("act_rows")).as("qerr_num"),
              greatest(least(col("est_rows"), col("act_rows")), lit(1L))
                .as("qerr_den"))
        }
        edge("orders-customer", Tables.orders(s, d), "o_custkey",
          Tables.customer(s, d), "c_custkey")
          .unionByName(edge("lineitem-orders", Tables.lineitem(s, d),
            "l_orderkey", Tables.orders(s, d), "o_orderkey"))
          .unionByName(edge("lineitem-part", Tables.lineitem(s, d),
            "l_partkey", Tables.part(s, d), "p_partkey"))
      },
      Some("""WITH s AS (
             |  SELECT 'orders-customer' AS edge,
             |    (SELECT count(*) FROM orders) AS na,
             |    (SELECT count(DISTINCT o_custkey) FROM orders) AS ndva,
             |    (SELECT count(*) FROM customer) AS nb,
             |    (SELECT count(DISTINCT c_custkey) FROM customer) AS ndvb,
             |    (SELECT count(*) FROM orders JOIN customer
             |       ON o_custkey = c_custkey) AS act
             |  UNION ALL
             |  SELECT 'lineitem-orders',
             |    (SELECT count(*) FROM lineitem),
             |    (SELECT count(DISTINCT l_orderkey) FROM lineitem),
             |    (SELECT count(*) FROM orders),
             |    (SELECT count(DISTINCT o_orderkey) FROM orders),
             |    (SELECT count(*) FROM lineitem JOIN orders
             |       ON l_orderkey = o_orderkey)
             |  UNION ALL
             |  SELECT 'lineitem-part',
             |    (SELECT count(*) FROM lineitem),
             |    (SELECT count(DISTINCT l_partkey) FROM lineitem),
             |    (SELECT count(*) FROM part),
             |    (SELECT count(DISTINCT p_partkey) FROM part),
             |    (SELECT count(*) FROM lineitem JOIN part
             |       ON l_partkey = p_partkey))
             |SELECT edge, CAST(na AS BIGINT) AS n_left,
             |  CAST(nb AS BIGINT) AS n_right,
             |  CAST(na * nb // greatest(ndva, ndvb) AS BIGINT) AS est_rows,
             |  CAST(act AS BIGINT) AS act_rows,
             |  CAST(greatest(na * nb // greatest(ndva, ndvb), act)
             |    AS BIGINT) AS qerr_num,
             |  CAST(greatest(least(na * nb // greatest(ndva, ndvb), act), 1)
             |    AS BIGINT) AS qerr_den
             |FROM s""".stripMargin)),

    // KLL SKETCH ROLLUP — the store-and-merge pattern proven end to end:
    // one kll_sketch blob per (returnflag, linestatus) cell (the shape a
    // daily job persists), then kll_merge_quantiles re-aggregates the
    // BLOBS up to returnflag — the fact table is touched once, the rollup
    // never re-scans it (q140's bitmap discipline for order statistics).
    // Output = the q295 gate at the MERGED level: every estimate checked
    // against its exact rank, ε = 2%.
    Q("q320_kll_rollup",
      (s, d) => {
        val li = Tables.lineitem(s, d)
          .select(col("l_returnflag"), col("l_linestatus"),
            col("l_extendedprice"))
        val cells = li.groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(graft.functions.GraftFunctions
            .kllSketch(col("l_extendedprice")).as("sk"),
            count(lit(1)).as("n_cell"))
        val rolled = cells.groupBy(col("l_returnflag"))
          .agg(graft.functions.GraftFunctions
            .kllMergeQuantiles(col("sk")).as("est"),
            sum(col("n_cell")).as("n_rows"),
            count(lit(1)).as("n_cells"))
        val labels = graft.functions.KllCodec.Quantiles
          .map(q => f"p${math.round(q * 100)}%02d")
        val gates = rolled.select(col("l_returnflag"), col("n_rows"),
          col("n_cells"), posexplode(col("est")).as(Seq("qi", "est_v")))
          .withColumn("q_label",
            element_at(typedlit(labels.toSeq), col("qi").cast("int") + 1))
          .withColumn("q", element_at(
            typedlit(graft.functions.KllCodec.Quantiles.toSeq),
            col("qi").cast("int") + 1))
        broadcast(gates).as("g")
          .join(li.as("f"), col("g.l_returnflag") === col("f.l_returnflag"))
          .groupBy(col("g.l_returnflag"), col("g.q_label"), col("g.q"),
            col("g.n_rows"), col("g.n_cells"), col("g.est_v"))
          .agg(
            sum(when(col("f.l_extendedprice") < col("g.est_v"), 1L)
              .otherwise(0L)).as("rank_lt"),
            sum(when(col("f.l_extendedprice") <= col("g.est_v"), 1L)
              .otherwise(0L)).as("rank_le"))
          .select(col("l_returnflag"), col("q_label"), col("n_rows"),
            col("n_cells"),
            (col("rank_le").cast("double") / col("n_rows") >= col("q") - 0.02 &&
              col("rank_lt").cast("double") / col("n_rows") <= col("q") + 0.02)
              .as("ok"))
      },
      Some("""SELECT l_returnflag, q_label,
             |  CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(count(DISTINCT l_linestatus) AS BIGINT) AS n_cells,
             |  TRUE AS ok
             |FROM lineitem CROSS JOIN (SELECT unnest(
             |  ['p01','p05','p25','p50','p75','p95','p99']) AS q_label)
             |GROUP BY 1, 2""".stripMargin)))
}

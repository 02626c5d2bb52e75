package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops._
import graft.ExtEntries.Q

/** Driver contract — one `queries` entry + DuckDB `oracleSql` per implemented
  * operator from SURVEY.md §2. Column names/aliases are kept identical
  * between the Spark query and the oracle SQL (the driver sorts columns by
  * name before hashing).
  *
  * Determinism policy (see ops/Features.scala scaladoc): integer epoch-micros
  * for all event-time arithmetic; money integerized to cents before
  * aggregation; ratios formed from bit-identical operands so double division
  * and rounding agree bit-for-bit across engines.
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Features.featureView(Tables.events(spark, "/root/testdata/sf0.001"))

  // ---------------------------------------------------------------- helpers

  private val DayUs = 86400L * 1000000L
  private val HourUs = 3600L * 1000000L

  /** events base: shared Spark-side normalization (Features.eventFrame)
    * mirrored by this DuckDB CTE. */
  private val evBaseSql =
    """base AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
      |         props AS sku,
      |         (event_type = 'error') AS is_cancel,
      |         CAST(CASE WHEN event_type = 'error' THEN 0 ELSE 1 END AS BIGINT) AS txn,
      |         CAST(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS BIGINT) AS cancel,
      |         CASE WHEN event_type = 'error' THEN 0
      |              ELSE CAST(round(coalesce(value, 0) * 100) AS BIGINT) END AS spend_cents
      |  FROM events
      |)""".stripMargin

  /** DuckDB SQL for the 17-column feature view (mirrors Features.featureView). */
  private val featureViewSql: String = {
    val winDefs = Features.Windows.map { case (lbl, us) =>
      s"w$lbl AS (PARTITION BY user_id ORDER BY ts_us RANGE BETWEEN $us PRECEDING AND CURRENT ROW)"
    }.mkString(", ")
    val cols = Features.Windows.map { case (lbl, _) =>
      s"""  CAST(sum(txn) OVER w$lbl AS BIGINT) AS txn_count_$lbl,
         |  CAST(sum(spend_cents) OVER w$lbl AS BIGINT) / 100.0 AS spend_$lbl,
         |  CAST(count(DISTINCT sku) OVER w$lbl AS BIGINT) AS unique_skus_$lbl,
         |  (CAST(sum(spend_cents) OVER w$lbl AS BIGINT) / 100.0) /
         |    (CASE WHEN sum(txn) OVER w$lbl > 0 THEN CAST(sum(txn) OVER w$lbl AS BIGINT) ELSE 1 END) AS avg_basket_value_$lbl,
         |  least(greatest(CAST(sum(cancel) OVER w$lbl AS BIGINT) /
         |    (CASE WHEN sum(cancel) OVER w$lbl + sum(txn) OVER w$lbl > 0
         |          THEN CAST(sum(cancel) OVER w$lbl + sum(txn) OVER w$lbl AS BIGINT) ELSE 1 END), 0.0), 1.0) AS cancel_rate_$lbl""".stripMargin
    }.mkString(",\n")
    s"""WITH $evBaseSql
       |SELECT user_id, event_id, ts_us,
       |$cols,
       |  CAST(floor((ts_us - min(ts_us) OVER (PARTITION BY user_id)) / 86400000000.0) AS BIGINT) AS tenure_days
       |FROM base
       |WINDOW $winDefs""".stripMargin
  }

  // ---------------------------------------------------------------- queries

  private def lineitem(s: SparkSession, d: String) = Tables.lineitem(s, d)

  private val all: Seq[Q] = Seq(

    // S2 + pushdown: filtered projected parquet scan (SURVEY §2.1 S2, §4)
    Q("q01_pruned_scan",
      (s, d) => Relational.prunedScan(lineitem(s, d)),
      Some("""SELECT l_returnflag, count(*) AS n_rows,
             |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
             |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_price
             |FROM lineitem
             |WHERE l_returnflag = 'R' AND l_quantity >= 25.0
             |GROUP BY l_returnflag""".stripMargin)),

    // EP1 bronze normalize: O1-O8 (SURVEY §2.2)
    Q("q02_bronze_normalize",
      (s, d) => Relational.bronzeNormalize(lineitem(s, d), Tables.orders(s, d),
        Tables.customer(s, d), Tables.nation(s, d)),
      Some("""SELECT l.l_orderkey AS invoice,
             |  upper(trim('sku-' || CAST(l.l_partkey AS VARCHAR))) AS stock_code,
             |  CAST(l.l_quantity AS INT) AS quantity,
             |  epoch_us(l.l_shipdate) AS ts_us,
             |  o.o_custkey AS customer_id,
             |  coalesce(trim(n.n_name), '') AS country,
             |  l.l_linenumber AS line_number,
             |  coalesce(l.l_returnflag LIKE 'R%', false) AS is_cancel,
             |  CAST(round(l.l_extendedprice * (1.0 - l.l_discount) * 100) AS BIGINT) / 100.0 AS line_amount,
             |  CAST(NOT coalesce(l.l_returnflag LIKE 'R%', false) AS INT) AS txn,
             |  CASE WHEN NOT coalesce(l.l_returnflag LIKE 'R%', false)
             |       THEN CAST(round(l.l_extendedprice * (1.0 - l.l_discount) * 100) AS BIGINT) / 100.0
             |       ELSE 0.0 END AS spend
             |FROM lineitem l
             |JOIN orders o ON l.l_orderkey = o.o_orderkey
             |JOIN customer c ON o.o_custkey = c.c_custkey
             |JOIN nation n ON c.c_nationkey = n.n_nationkey
             |WHERE o.o_custkey IS NOT NULL AND l.l_shipdate IS NOT NULL""".stripMargin)),

    // A-family global agg, partial-agg + single shuffle (TPC-H Q1 shape)
    Q("q03_pricing_summary",
      (s, d) => Relational.pricingSummary(lineitem(s, d)),
      Some("""SELECT l_returnflag, l_linestatus,
             |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
             |  CAST(sum(base_c) AS BIGINT) / 100.0 AS sum_base_price,
             |  CAST(sum(disc_c) AS BIGINT) / 10000.0 AS sum_disc_price,
             |  CAST(sum(charge_c) AS BIGINT) / 10000.0 AS sum_charge,
             |  sum(l_quantity) / count(*) AS avg_qty,
             |  (CAST(sum(base_c) AS BIGINT) / 100.0) / count(*) AS avg_price,
             |  count(*) AS count_order,
             |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS uniq_parts
             |FROM (
             |  SELECT *,
             |    CAST(round(l_extendedprice * 100) AS BIGINT) AS base_c,
             |    CAST(round(l_extendedprice * (1.0 - l_discount) * 10000) AS BIGINT) AS disc_c,
             |    CAST(round(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) * 10000) AS BIGINT) AS charge_c
             |  FROM lineitem)
             |GROUP BY l_returnflag, l_linestatus""".stripMargin)),

    // J1 star join with broadcast dimensions
    Q("q04_revenue_by_nation",
      (s, d) => Relational.revenueByNation(Tables.orders(s, d),
        Tables.customer(s, d), Tables.nation(s, d), Tables.region(s, d)),
      Some("""SELECT r_name, n_name,
             |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0 AS revenue,
             |  count(*) AS n_orders,
             |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers
             |FROM orders
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY r_name, n_name""".stripMargin)),

    // A8 deterministic top-K by frequency
    Q("q05_topk_nations",
      (s, d) => Labels.topKByFreq(
        Tables.customer(s, d).join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey")), "n_name", 10),
      Some("""SELECT n_name, count(*) AS cnt
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |GROUP BY n_name
             |ORDER BY cnt DESC, n_name ASC
             |LIMIT 10""".stripMargin)),

    // A7 deterministic per-group mode
    Q("q06_mode_segment",
      (s, d) => Relational.modePerGroup(Tables.customer(s, d),
        "c_nationkey", "c_mktsegment"),
      Some("""SELECT c_nationkey, c_mktsegment AS c_mktsegment_mode, cnt
             |FROM (
             |  SELECT c_nationkey, c_mktsegment, count(*) AS cnt,
             |    row_number() OVER (PARTITION BY c_nationkey
             |      ORDER BY count(*) DESC, c_mktsegment ASC) AS rn
             |  FROM customer GROUP BY c_nationkey, c_mktsegment)
             |WHERE rn = 1""".stripMargin)),

    // E1 fixed-vocabulary one-hot (named columns, reference contract)
    Q("q07_onehot_segment",
      (s, d) => Labels.oneHot(
        Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment")),
        "c_mktsegment",
        Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"),
        "seg__"),
      Some("""SELECT c_custkey, c_mktsegment,
             |  CAST(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END AS INT) AS "seg__AUTOMOBILE",
             |  CAST(CASE WHEN c_mktsegment = 'BUILDING'   THEN 1 ELSE 0 END AS INT) AS "seg__BUILDING",
             |  CAST(CASE WHEN c_mktsegment = 'FURNITURE'  THEN 1 ELSE 0 END AS INT) AS "seg__FURNITURE",
             |  CAST(CASE WHEN c_mktsegment = 'HOUSEHOLD'  THEN 1 ELSE 0 END AS INT) AS "seg__HOUSEHOLD",
             |  CAST(CASE WHEN c_mktsegment = 'MACHINERY'  THEN 1 ELSE 0 END AS INT) AS "seg__MACHINERY"
             |FROM customer""".stripMargin)),

    // T1/T2 sort + limit (raw doubles, no arithmetic → bit-identical)
    Q("q08_sort_limit",
      (s, d) => Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(20),
      Some("""SELECT o_orderkey, o_custkey, o_totalprice
             |FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20""".stripMargin)),

    // U1 union + distinct set op
    Q("q09_union_distinct",
      (s, d) => {
        val c = Tables.customer(s, d)
        c.filter(col("c_mktsegment") === "BUILDING").select(col("c_nationkey"))
          .unionByName(
            c.filter(col("c_mktsegment") === "MACHINERY").select(col("c_nationkey")))
          .distinct()
      },
      Some("""SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
             |UNION
             |SELECT c_nationkey FROM customer WHERE c_mktsegment = 'MACHINERY'""".stripMargin)),

    // T3 ordered 80/20 prefix split (reference train/test split semantics)
    Q("q10_ordered_split",
      (s, d) => Labels.orderedSplit(
        Tables.events(s, d).filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id"), col("ts_us")),
        Seq("user_id", "ts_us", "event_id")),
      Some("""SELECT user_id, event_id, ts_us,
             |  CASE WHEN 5 * row_number() OVER (ORDER BY user_id, ts_us, event_id)
             |            <= 4 * (SELECT count(*) FROM events WHERE event_type = 'purchase')
             |       THEN 'train' ELSE 'test' END AS split
             |FROM (SELECT user_id, event_id, epoch_us(ts) AS ts_us
             |      FROM events WHERE event_type = 'purchase')""".stripMargin)),

    // O11-O15 scalar function battery
    Q("q11_scalar_funcs",
      (s, d) => Relational.scalarFuncs(Tables.orders(s, d)),
      Some("""SELECT o_orderkey, o_custkey,
             |  least(greatest(o_totalprice / 500000.0, 0.0), 1.0) AS price_clip01,
             |  strftime(o_orderdate, '%Y-%m-%d') AS order_date,
             |  epoch_us(o_orderdate + INTERVAL 30 DAY) AS due_us,
             |  strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S') AS iso_ts,
             |  epoch_us(o_orderdate) AS ts_us,
             |  CAST(floor((epoch_us(o_orderdate) -
             |    min(epoch_us(o_orderdate)) OVER (PARTITION BY o_custkey)) / 86400000000.0) AS BIGINT) AS tenure_days
             |FROM orders""".stripMargin)),

    // A1-A7 / O10-O14: the 17-column event-time range-window feature view
    Q("q12_feature_view",
      (s, d) => Features.featureView(Tables.events(s, d)),
      Some(featureViewSql)),

    // J4 latest-per-key snapshot
    Q("q13_latest_per_key",
      (s, d) => Snapshots.latestPerKey(
        Tables.events(s, d).select(col("user_id"), col("event_id"),
          col("ts_us"), col("event_type"), col("value")),
        "user_id", "ts_us", "event_id"),
      Some("""SELECT user_id, event_id, ts_us, event_type, value
             |FROM (SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type, value,
             |        row_number() OVER (PARTITION BY user_id
             |          ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
             |      FROM events)
             |WHERE rn = 1""".stripMargin)),

    // J3 batch backward as-of lookup (as-of 2024-01-15T00:00:00Z)
    Q("q14_asof_lookup",
      (s, d) => Snapshots.asOf(
        Tables.events(s, d).select(col("user_id"), col("event_id"),
          col("ts_us"), col("event_type"), col("value")),
        "user_id", "ts_us", "event_id", 1705276800000000L),
      Some("""SELECT user_id, event_id, ts_us, event_type, value
             |FROM (SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type, value,
             |        row_number() OVER (PARTITION BY user_id
             |          ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
             |      FROM events WHERE epoch_us(ts) <= 1705276800000000)
             |WHERE rn = 1""".stripMargin)),

    // J2 point-in-time interval existence label (churn = no purchase in (t, t+7d])
    Q("q15_churn_labels",
      (s, d) => Labels.churnLabelsWindow(
        Tables.events(s, d).filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id"), col("ts_us")),
        7 * DayUs),
      Some("""SELECT user_id, event_id, ts_us,
             |  CAST(CASE WHEN min(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us
             |         RANGE BETWEEN 1 FOLLOWING AND 604800000000 FOLLOWING) IS NULL
             |       THEN 1 ELSE 0 END AS INT) AS churn
             |FROM (SELECT user_id, event_id, epoch_us(ts) AS ts_us
             |      FROM events WHERE event_type = 'purchase')""".stripMargin)),

    // J1 training-set assembly: feature view ⋈ labels on (user, event)
    Q("q16_training_join",
      (s, d) => {
        val feats = Features.featureView(Tables.events(s, d))
          .select(col("user_id"), col("event_id"), col("ts_us"),
            col("txn_count_7d"), col("spend_7d"), col("cancel_rate_7d"))
        val labels = Labels.churnLabelsWindow(
          Tables.events(s, d).filter(col("event_type") === "purchase")
            .select(col("user_id"), col("event_id"), col("ts_us")),
          7 * DayUs).select(col("user_id"), col("event_id"), col("churn"))
        feats.join(labels, Seq("user_id", "event_id"), "inner")
      },
      Some(s"""WITH feats AS ($featureViewSql),
              |labels AS (
              |  SELECT user_id, event_id,
              |    CAST(CASE WHEN min(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us
              |           RANGE BETWEEN 1 FOLLOWING AND 604800000000 FOLLOWING) IS NULL
              |         THEN 1 ELSE 0 END AS INT) AS churn
              |  FROM (SELECT user_id, event_id, epoch_us(ts) AS ts_us
              |        FROM events WHERE event_type = 'purchase'))
              |SELECT f.user_id, f.event_id, f.ts_us,
              |       f.txn_count_7d, f.spend_7d, f.cancel_rate_7d, l.churn
              |FROM feats f JOIN labels l
              |  ON f.user_id = l.user_id AND f.event_id = l.event_id""".stripMargin)),

    // Gap-based sessionization (30-minute gap)
    Q("q17_sessionize",
      (s, d) => Sessions.sessionize(Tables.events(s, d), 30 * 60 * 1000000L),
      Some("""WITH s1 AS (
             |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             |    CAST(round(coalesce(value, 0) * 100) AS BIGINT) AS vc,
             |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
             |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
             |         THEN 1 ELSE 0 END AS is_new
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
             |s2 AS (
             |  SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id
             |    ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
             |  FROM s1)
             |SELECT user_id, session_id, count(*) AS n_events,
             |  min(ts_us) AS t_start_us, max(ts_us) AS t_end_us,
             |  CAST(sum(vc) AS BIGINT) / 100.0 AS value_sum
             |FROM s2 GROUP BY user_id, session_id""".stripMargin)),

    // Ranking/analytic window functions (beyond-reference surface, free in
    // Spark: rank, dense_rank, lag, lead over the per-user event sequence)
    Q("q37_rank_funcs",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
        Tables.events(s, d).select(
          col("user_id"), col("event_id"), col("ts_us"),
          row_number().over(w).cast("long").as("rn"),
          rank().over(w).cast("long").as("rnk"),
          dense_rank().over(w).cast("long").as("drnk"),
          lag(col("ts_us"), 1).over(w).as("prev_ts"),
          lead(col("ts_us"), 1).over(w).as("next_ts"),
          (col("ts_us") - lag(col("ts_us"), 1).over(w)).as("gap_us"))
      },
      Some("""SELECT user_id, event_id, ts_us,
             |  row_number() OVER w AS rn,
             |  rank() OVER w AS rnk,
             |  dense_rank() OVER w AS drnk,
             |  lag(ts_us) OVER w AS prev_ts,
             |  lead(ts_us) OVER w AS next_ts,
             |  ts_us - lag(ts_us) OVER w AS gap_us
             |FROM (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events)
             |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)""".stripMargin)),

    // ROLLUP grouping sets (beyond-reference; subtotal rows with NULL keys)
    Q("q38_rollup",
      (s, d) => Tables.orders(s, d)
        .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .withColumn("price_c", round(col("o_totalprice") * 100).cast("long"))
        .rollup(col("n_name"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          (sum(col("price_c")) / lit(100.0)).as("revenue")),
      Some("""SELECT n_name, o_orderstatus, count(*) AS n_orders,
             |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0 AS revenue
             |FROM orders
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |GROUP BY ROLLUP (n_name, o_orderstatus)""".stripMargin)),

    // AS-OF JOIN between two tables (union-window formulation, one shuffle);
    // oracle = DuckDB's NATIVE ASOF JOIN — an independent implementation of
    // the same semantics, so this cross-checks the operator, not the SQL
    Q("q39_asof_join",
      (s, d) => {
        val ev = Tables.events(s, d)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts_us"), col("event_id"))
        val views = ev.filter(col("event_type") === "view")
          .groupBy(col("user_id"), col("ts_us"))
          .agg(max(col("value")).as("r_value"))
        Snapshots.asOfJoin(purchases, views, "user_id", "ts_us", Seq("r_value"))
      },
      Some("""WITH p AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us
             |          FROM events WHERE event_type = 'purchase'),
             |v AS (SELECT user_id, epoch_us(ts) AS ts_us, max(value) AS r_value
             |      FROM events WHERE event_type = 'view' GROUP BY 1, 2)
             |SELECT p.user_id, p.ts_us, p.event_id, v.r_value
             |FROM p ASOF LEFT JOIN v
             |  ON p.user_id = v.user_id AND p.ts_us >= v.ts_us""".stripMargin)),

    // The same AS-OF JOIN through the CUSTOM PHYSICAL OPERATOR
    // (plans/AsOfJoin.scala: LogicalPlan + Strategy + BinaryExecNode
    // two-pointer merge) — a custom Catalyst plan node hash-matched against
    // DuckDB's independent native ASOF JOIN
    Q("q47_asof_join_native",
      (s, d) => {
        val ev = Tables.events(s, d)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts_us"), col("event_id"))
        val views = ev.filter(col("event_type") === "view")
          .groupBy(col("user_id"), col("ts_us"))
          .agg(max(col("value")).as("r_value"))
        Snapshots.asOfJoinNative(purchases, views, "user_id", "ts_us", Seq("r_value"))
      },
      Some("""WITH p AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us
             |          FROM events WHERE event_type = 'purchase'),
             |v AS (SELECT user_id, epoch_us(ts) AS ts_us, max(value) AS r_value
             |      FROM events WHERE event_type = 'view' GROUP BY 1, 2)
             |SELECT p.user_id, p.ts_us, p.event_id, v.r_value
             |FROM p ASOF LEFT JOIN v
             |  ON p.user_id = v.user_id AND p.ts_us >= v.ts_us""".stripMargin)),

    // Two-phase salted distinct count (hot-key skew mitigation shape;
    // result identical to a plain distinct count)
    Q("q40_salted_distinct",
      (s, d) => graft.ops.Skew.saltedDistinctCount(
        lineitem(s, d), "l_suppkey", "l_partkey", 8),
      Some("""SELECT l_suppkey, CAST(count(DISTINCT l_partkey) AS BIGINT) AS distinct_cnt
             |FROM lineitem GROUP BY l_suppkey""".stripMargin)),

    // Statistical aggregates from integer sufficient statistics — built-in
    // stddev/corr use different streaming algorithms per engine (Welford
    // vs naive) and won't bit-match; the sufficient-statistic formulation
    // is exact in both AND is how you'd compute them at 100 TB anyway
    // (one pass, partial-aggregable sums)
    Q("q41_stats_summary",
      (s, d) => lineitem(s, d)
        .withColumn("q", col("l_quantity").cast("long"))
        .withColumn("p", round(col("l_extendedprice")).cast("long"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), sum(col("q")).as("sq"),
          sum(col("q") * col("q")).as("sqq"), sum(col("p")).as("sp"),
          sum(col("p") * col("p")).as("spp"), sum(col("q") * col("p")).as("sqp"))
        .select(col("l_returnflag"), col("n"),
          // sums are widened to double BEFORE multiplying: sp*sp as int64
          // overflows at sf>=0.1 (caught by the sf0.1 safety check); every
          // sum is < 2^53 so the double is exact and engine-identical
          ((col("sqq") - col("sq").cast("double") * col("sq") / col("n"))
            / (col("n") - 1)).as("var_qty"),
          sqrt((col("sqq") - col("sq").cast("double") * col("sq") / col("n"))
            / (col("n") - 1)).as("std_qty"),
          ((col("sqp") - col("sq").cast("double") * col("sp") / col("n"))
            / sqrt((col("sqq") - col("sq").cast("double") * col("sq") / col("n"))
              * (col("spp") - col("sp").cast("double") * col("sp") / col("n"))))
            .as("corr_qty_price")),
      Some("""SELECT l_returnflag, n,
             |  (sqq - CAST(sq AS DOUBLE) * sq / n) / (n - 1) AS var_qty,
             |  sqrt((sqq - CAST(sq AS DOUBLE) * sq / n) / (n - 1)) AS std_qty,
             |  (sqp - CAST(sq AS DOUBLE) * sp / n) /
             |    sqrt((sqq - CAST(sq AS DOUBLE) * sq / n)
             |       * (spp - CAST(sp AS DOUBLE) * sp / n)) AS corr_qty_price
             |FROM (
             |  SELECT l_returnflag, count(*) AS n,
             |    CAST(sum(q) AS BIGINT) AS sq, CAST(sum(q * q) AS BIGINT) AS sqq,
             |    CAST(sum(p) AS BIGINT) AS sp, CAST(sum(p * p) AS BIGINT) AS spp,
             |    CAST(sum(q * p) AS BIGINT) AS sqp
             |  FROM (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q,
             |          CAST(round(l_extendedprice) AS BIGINT) AS p
             |        FROM lineitem)
             |  GROUP BY l_returnflag)""".stripMargin)),

    // Exact median via row_number (deterministic middle-pair average; the
    // scale path is approx_percentile, which has no cross-engine oracle)
    Q("q42_exact_median",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("l_returnflag")).orderBy(col("q"), col("rid"))
        val base = lineitem(s, d)
          .withColumn("q", col("l_quantity").cast("long"))
          .withColumn("rid", col("l_orderkey") * 10 + col("l_linenumber"))
          .withColumn("rn", row_number().over(w))
        val cnt = base.groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
        base.join(cnt, Seq("l_returnflag"))
          .filter(col("rn") === expr("(n + 1) DIV 2") ||
            col("rn") === expr("n DIV 2 + 1"))
          .groupBy(col("l_returnflag"))
          .agg((sum(col("q")) / count(lit(1)).cast("double")).as("median_qty"))
      },
      Some("""WITH base AS (
             |  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q,
             |    row_number() OVER (PARTITION BY l_returnflag
             |      ORDER BY CAST(l_quantity AS BIGINT),
             |               l_orderkey * 10 + l_linenumber) AS rn
             |  FROM lineitem),
             |cnt AS (SELECT l_returnflag, count(*) AS n FROM base GROUP BY 1)
             |SELECT b.l_returnflag,
             |  CAST(sum(q) AS BIGINT) / CAST(count(*) AS DOUBLE) AS median_qty
             |FROM base b JOIN cnt c ON b.l_returnflag = c.l_returnflag
             |WHERE rn = (n + 1) // 2 OR rn = n // 2 + 1
             |GROUP BY b.l_returnflag""".stripMargin)),

    // String-function battery (common engine surface beyond the reference's
    // trim/upper: pad, replace, reverse, split-index, position, repeat)
    Q("q44_string_funcs",
      (s, d) => Tables.customer(s, d).select(
        col("c_custkey"),
        lpad(col("c_custkey").cast("string"), 10, "0").as("padded"),
        regexp_replace(col("c_name"), "Customer#", "C-").as("renamed"),
        reverse(col("c_mktsegment")).as("rev_seg"),
        split(col("c_name"), "#").getItem(1).as("num_part"),
        instr(col("c_name"), "#").cast("long").as("hash_pos"),
        substring(col("c_mktsegment"), 1, 3).as("seg3"),
        concat_ws("|", col("c_mktsegment"), col("c_nationkey")).as("joined"),
        length(col("c_name")).cast("long").as("name_len"),
        translate(col("c_mktsegment"), "AEIOU", "aeiou").as("lower_vowels")),
      Some("""SELECT c_custkey,
             |  lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded,
             |  regexp_replace(c_name, 'Customer#', 'C-') AS renamed,
             |  reverse(c_mktsegment) AS rev_seg,
             |  string_split(c_name, '#')[2] AS num_part,
             |  CAST(instr(c_name, '#') AS BIGINT) AS hash_pos,
             |  substring(c_mktsegment, 1, 3) AS seg3,
             |  concat_ws('|', c_mktsegment, CAST(c_nationkey AS VARCHAR)) AS joined,
             |  CAST(length(c_name) AS BIGINT) AS name_len,
             |  translate(c_mktsegment, 'AEIOU', 'aeiou') AS lower_vowels
             |FROM customer""".stripMargin)),

    // JSON extraction from the events.props payload column
    Q("q45_json_funcs",
      (s, d) => Tables.events(s, d).select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k_val"),
        (get_json_object(col("props"), "$.k").cast("long") % 10).as("k_mod"),
        get_json_object(col("props"), "$.missing").as("absent")),
      Some("""SELECT event_id,
             |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
             |  CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod,
             |  json_extract_string(props, '$.missing') AS absent
             |FROM events""".stripMargin)),

    // SQL-text entry point: the same engine drives spark.sql() strings over
    // registered temp views (the full Catalyst SQL front-end)
    Q("q46_sql_api",
      (s, d) => {
        Tables.orders(s, d).createOrReplaceTempView("v_orders")
        Tables.customer(s, d).createOrReplaceTempView("v_customer")
        s.sql("""
          SELECT c_mktsegment,
                 count(*) AS n_orders,
                 sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS revenue_cents,
                 CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers
          FROM v_orders JOIN v_customer ON o_custkey = c_custkey
          GROUP BY c_mktsegment""")
      },
      Some("""SELECT c_mktsegment, count(*) AS n_orders,
             |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
             |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |GROUP BY c_mktsegment""".stripMargin)),

    // Explicit semi/anti joins (the reference's J2 is semantically an anti
    // join; here as first-class operators over the star schema)
    Q("q49_semi_anti_join",
      (s, d) => {
        val c = Tables.customer(s, d)
        val highOrders = Tables.orders(s, d)
          .filter(col("o_totalprice") > 300000.0)
          .select(col("o_custkey").as("c_custkey"))
        val withHigh = c.join(highOrders, Seq("c_custkey"), "left_semi")
          .select(col("c_custkey"), lit("has_high").as("bucket"))
        val withoutHigh = c.join(highOrders, Seq("c_custkey"), "left_anti")
          .select(col("c_custkey"), lit("no_high").as("bucket"))
        withHigh.unionByName(withoutHigh)
      },
      Some("""SELECT c_custkey, 'has_high' AS bucket FROM customer
             |WHERE EXISTS (SELECT 1 FROM orders
             |              WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)
             |UNION ALL
             |SELECT c_custkey, 'no_high' AS bucket FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders
             |                  WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)""".stripMargin)),

    // Pivot: event-type counts as named columns per user (dynamic pivot with
    // a pinned vocabulary, so the schema is stable and oracle-expressible)
    Q("q50_pivot",
      (s, d) => Tables.events(s, d)
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L),
      Some("""SELECT user_id,
             |  CAST(sum(CASE WHEN event_type = 'click'    THEN 1 ELSE 0 END) AS BIGINT) AS click,
             |  CAST(sum(CASE WHEN event_type = 'error'    THEN 1 ELSE 0 END) AS BIGINT) AS error,
             |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
             |  CAST(sum(CASE WHEN event_type = 'signup'   THEN 1 ELSE 0 END) AS BIGINT) AS signup,
             |  CAST(sum(CASE WHEN event_type = 'view'     THEN 1 ELSE 0 END) AS BIGINT) AS view
             |FROM events GROUP BY user_id""".stripMargin)),

    // Range join: clicks in the hour strictly before each purchase
    Q("q18_range_join",
      (s, d) => {
        val ev = Tables.events(s, d)
        val p = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id"), col("ts_us"))
        val c = ev.filter(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("ts_us").as("c_ts"))
        p.join(c,
            col("user_id") === col("c_user") &&
            col("c_ts") >= col("ts_us") - lit(HourUs) &&
            col("c_ts") < col("ts_us"), "left")
          .groupBy(col("user_id"), col("event_id"), col("ts_us"))
          .agg(count(col("c_ts")).as("n_clicks_1h"))
      },
      Some("""SELECT p.user_id, p.event_id, epoch_us(p.ts) AS ts_us,
             |  count(c.ts) AS n_clicks_1h
             |FROM events p
             |LEFT JOIN events c ON c.user_id = p.user_id AND c.event_type = 'click'
             |  AND epoch_us(c.ts) >= epoch_us(p.ts) - 3600000000
             |  AND epoch_us(c.ts) < epoch_us(p.ts)
             |WHERE p.event_type = 'purchase'
             |GROUP BY p.user_id, p.event_id, epoch_us(p.ts)""".stripMargin)),

    // RELEASE MANIFEST: the reference's whole pipeline (bronze → feature
    // view → churn labels → ordered split) compressed into one auditable
    // row per stage — row count + an ORDER-INVARIANT content hash
    // (Σ md5₄₈(keys) mod 1e9+7 — commutative, so partitioning/order can't
    // change it; only integer columns are hashed, never float reprs).
    // The lineage receipt a training-data release ships with: two releases
    // match iff every stage row matches.
    Q("q200_release_manifest",
      (s, d) => {
        val M = 1000000007L
        def h(cols: org.apache.spark.sql.Column*) =
          conv(substring(md5(concat_ws("|", cols: _*)), 1, 12), 16, 10)
            .cast("long") % M
        def stage(name: String, df: DataFrame,
                  hc: org.apache.spark.sql.Column) =
          df.select(hc.as("__h"))
            .agg(count(lit(1)).as("n_rows"), sum(col("__h")).as("content_hash"))
            .select(lit(name).as("stage"), col("n_rows"), col("content_hash"))
        val ev = Tables.events(s, d)
        // the feature view feeds its own stage AND the label join; the
        // split feeds two stages — materialize each once (uncut, the
        // events scan re-planned 8 times end-to-end)
        val feats = Features.featureView(ev)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val labels = Labels.churnLabelsWindow(
          ev.filter(col("event_type") === "purchase")
            .select(col("user_id"), col("event_id"), col("ts_us")),
          7 * DayUs).select(col("user_id"), col("event_id"), col("churn"))
        val labeled = feats
          .select(col("user_id"), col("event_id"), col("ts_us"))
          .join(labels, Seq("user_id", "event_id"), "inner")
          // three consumers since the r11 distributed split: its own
          // stage, the split's bucket-counts pass, and the split's ranked
          // pass — uncut, each replans the label join over the events scan
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val split = Labels.orderedSplit(labeled,
          Seq("user_id", "ts_us", "event_id"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        stage("bronze", ev, h(col("user_id"), col("event_id")))
          .unionByName(stage("features", feats,
            h(col("user_id"), col("event_id"), col("txn_count_30d"),
              col("unique_skus_30d"), col("tenure_days"))))
          .unionByName(stage("labeled", labeled,
            h(col("user_id"), col("event_id"), col("churn"))))
          .unionByName(stage("train", split.filter(col("split") === "train"),
            h(col("user_id"), col("event_id"))))
          .unionByName(stage("test", split.filter(col("split") === "test"),
            h(col("user_id"), col("event_id"))))
      },
      Some {
        def hSql(expr: String) =
          s"(('0x' || substr(md5($expr), 1, 12))::BIGINT % 1000000007)"
        def cat(cols: String*) = cols
          .map(c => s"CAST($c AS VARCHAR)").mkString(" || '|' || ")
        s"""WITH feats AS ($featureViewSql),
           |labels AS (
           |  SELECT user_id, event_id,
           |    CAST(CASE WHEN min(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us
           |           RANGE BETWEEN 1 FOLLOWING AND 604800000000 FOLLOWING) IS NULL
           |         THEN 1 ELSE 0 END AS INT) AS churn
           |  FROM (SELECT user_id, event_id, epoch_us(ts) AS ts_us
           |        FROM events WHERE event_type = 'purchase')),
           |lab AS (
           |  SELECT f.user_id, f.event_id, f.ts_us, l.churn
           |  FROM feats f JOIN labels l
           |    ON f.user_id = l.user_id AND f.event_id = l.event_id),
           |sp AS (
           |  SELECT user_id, event_id,
           |    CASE WHEN 5 * row_number() OVER (ORDER BY user_id, ts_us, event_id)
           |              <= 4 * (SELECT count(*) FROM lab)
           |         THEN 'train' ELSE 'test' END AS split
           |  FROM lab)
           |SELECT 'bronze' AS stage, count(*) AS n_rows,
           |  CAST(sum(${hSql(cat("user_id", "event_id"))}) AS BIGINT)
           |    AS content_hash
           |FROM events
           |UNION ALL
           |SELECT 'features', count(*),
           |  CAST(sum(${hSql(cat("user_id", "event_id", "txn_count_30d",
                "unique_skus_30d", "tenure_days"))} ) AS BIGINT)
           |FROM feats
           |UNION ALL
           |SELECT 'labeled', count(*),
           |  CAST(sum(${hSql(cat("user_id", "event_id", "churn"))}) AS BIGINT)
           |FROM lab
           |UNION ALL
           |SELECT 'train', count(*),
           |  CAST(sum(${hSql(cat("user_id", "event_id"))}) AS BIGINT)
           |FROM sp WHERE split = 'train'
           |UNION ALL
           |SELECT 'test', count(*),
           |  CAST(sum(${hSql(cat("user_id", "event_id"))}) AS BIGINT)
           |FROM sp WHERE split = 'test'""".stripMargin
      })
  )

  /** Every batch of queries, in registry order. */
  private val batches: Seq[Seq[Q]] = Seq(
    all, ExtEntries.all, Entries3.all, Entries4.all, Entries5.all,
    Entries6.all, Entries7.all, Entries8.all, Entries9.all, Entries10.all,
    Entries11.all, Entries12.all, Entries13.all, Entries14.all, Entries15.all,
    Entries16.all, Entries17.all, Entries18.all, Entries19.all, Entries20.all,
    Entries21.all, Entries22.all, Entries23.all, Entries24.all, Entries25.all,
    Entries26.all, Entries27.all, Entries28.all, Entries29.all, Entries30.all,
    Entries31.all, Entries32.all, Entries33.all, Entries34.all, Entries35.all,
    Entries36.all, Entries37.all, Entries38.all, Entries39.all, Entries40.all,
    Entries41.all, Entries42.all, Entries43.all, Entries44.all, Entries45.all,
    Entries46.all, Entries47.all, Entries48.all, Entries49.all, Entries50.all,
    Entries51.all, Entries52.all, Entries53.all, Entries54.all, Entries55.all,
    Entries56.all, Entries57.all, Entries58.all, Entries59.all, Entries60.all,
    Entries61.all, Entries62.all, Entries63.all, Entries64.all, Entries65.all,
    Entries66.all, Entries67.all, Entries68.all, Entries69.all, Entries70.all,
    Entries71.all, Entries72.all, Entries73.all, Entries74.all, Entries75.all,
    Entries76.all, Entries77.all, Entries78.all, Entries79.all, Entries80.all,
    Entries81.all, Entries82.all, Entries83.all, Entries84.all, Entries85.all,
    Entries86.all, Entries87.all, Entries88.all, Entries89.all, Entries90.all,
    Entries91.all, Entries92.all, Entries93.all, Entries94.all, Entries95.all)

  val queries: Map[String, (SparkSession, String) => DataFrame] = {
    val names = batches.flatten.map(_.name)
    val dups = names.diff(names.distinct).distinct
    require(dups.isEmpty, s"duplicate query names: ${dups.mkString(", ")}")
    batches.flatten.map(q => q.name -> q.fn).toMap
  }

  val oracleSql: Map[String, String] =
    batches.flatten.flatMap(q => q.sql.map(q.name -> _)).toMap
}

package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ExtEntries.Q

/** Round-7 batch 9: rolling distinct via sketch OR-merge, DecimalType
  * exactness lane, row-pattern matching via sequence serialization, local
  * extrema census.
  */
object Entries30 {

  val all: Seq[Q] = Seq(

    // ROLLING 7-DAY DISTINCT USERS per day, exact, from DAILY sketches:
    // one bitmap per day (built once — the stored-sketch discipline),
    // each trailing window answered by OR-merge + popcount of ≤7 blobs.
    // The sliding-window twin of the q140 cube rollup: an exact rolling
    // COUNT DISTINCT without re-touching events per window (the oracle
    // does exactly that re-scan). Day fan-out is 7× on the |days|-sized
    // sketch table, never on facts.
    Q("q237_rolling_distinct",
      (s, d) => {
        import graft.functions.GraftFunctions._
        // materialized ONCE: three consumers below (offset spine, window
        // join, anchor semi-join) would otherwise re-plan the scan +
        // sketch build three times (observed in the formatted plan)
        val daily = Tables.events(s, d)
          .select((col("ts_us") / 86400000000L).cast("long").as("day"),
            col("user_id"))
          .groupBy(col("day"))
          .agg(bitmapSketch(col("user_id")).as("bm"),
            count(lit(1)).as("n_events"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val offsets = daily.select(col("day"), explode(
          expr("sequence(0L, 6L)")).as("off"))
          .select((col("day") + col("off")).as("w_day"), col("day"))
        offsets.join(daily, Seq("day"))
          .groupBy(col("w_day").as("day"))
          .agg(bitmapMergeCount(col("bm")).as("n_distinct_7d"),
            sum(col("n_events")).as("n_events_7d"),
            count(lit(1)).as("n_days_present"))
          // only full trailing windows where the anchor day itself exists
          .join(daily.select(col("day")), Seq("day"), "left_semi")
      },
      Some("""WITH daily AS (
             |  SELECT DISTINCT epoch_us(ts) // 86400000000 AS day, user_id
             |  FROM events),
             |days AS (SELECT DISTINCT day FROM daily),
             |win AS (
             |  SELECT d.day, u.user_id, u.day AS src_day
             |  FROM days d JOIN daily u
             |    ON u.day BETWEEN d.day - 6 AND d.day),
             |ev AS (
             |  SELECT epoch_us(ts) // 86400000000 AS day, count(*) AS n
             |  FROM events GROUP BY 1)
             |SELECT d.day,
             |  (SELECT count(DISTINCT w.user_id) FROM win w
             |    WHERE w.day = d.day) AS n_distinct_7d,
             |  (SELECT CAST(sum(e.n) AS BIGINT) FROM ev e
             |    WHERE e.day BETWEEN d.day - 6 AND d.day) AS n_events_7d,
             |  (SELECT count(*) FROM ev e
             |    WHERE e.day BETWEEN d.day - 6 AND d.day) AS n_days_present
             |FROM days d""".stripMargin)),

    // DECIMAL LANE: the ANSI DecimalType alternative to the engine's
    // integer-cents discipline — exact decimal sums, products and scale
    // arithmetic (38-digit) matching DuckDB's DECIMAL semantics. The
    // coexistence proof: a user porting DECIMAL-based SQL gets bit-exact
    // money math without the cents encoding.
    // Outputs ship as scale-shifted BIGINTs (×100 / ×10000) — the DECIMAL
    // arithmetic itself stays internal on both engines, because DECIMAL
    // renderings (`Decimal('5.00')` vs `5.0`) are canonicalizer-version-
    // sensitive across driver environments while BIGINT is not.
    Q("q238_decimal_lane",
      (s, d) => Tables.lineitem(s, d)
        .select(col("l_returnflag"),
          col("l_extendedprice").cast("decimal(18,2)").as("p"),
          col("l_discount").cast("decimal(4,2)").as("disc"),
          col("l_quantity").cast("decimal(9,0)").as("q"))
        .groupBy(col("l_returnflag"))
        .agg(sum(col("p")).cast("decimal(38,2)").as("sp"),
          sum(col("p") * (lit(java.math.BigDecimal.ONE).cast("decimal(4,2)")
            - col("disc"))).cast("decimal(38,4)").as("sdp"),
          sum(col("q")).cast("decimal(38,0)").as("sq"))
        .select(col("l_returnflag"),
          (col("sp") * 100).cast("long").as("sum_price_c2"),
          (col("sdp") * 10000).cast("long").as("sum_disc_price_c4"),
          col("sq").cast("long").as("sum_qty")),
      Some("""SELECT l_returnflag,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100
             |    AS BIGINT) AS sum_price_c2,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
             |    * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
             |    * 10000 AS BIGINT) AS sum_disc_price_c4,
             |  CAST(sum(CAST(l_quantity AS DECIMAL(9,0))) AS BIGINT)
             |    AS sum_qty
             |FROM lineitem GROUP BY 1""".stripMargin)),

    // ROW-PATTERN MATCHING via sequence serialization: each user's ordered
    // event stream becomes a character string (v/c/p/e/s), and the
    // MATCH_RECOGNIZE-style pattern "view, 1+ clicks, then purchase"
    // (contiguous) is counted with one regexp per user — pattern logic as
    // data, bounded by per-user sequence length. The contiguous sibling
    // of the gapped miner (q222).
    Q("q239_event_regex",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_us").asc, col("event_id").asc)
        val seq = Tables.events(s, d)
          .withColumn("ch", expr(
            "CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c' " +
              "WHEN 'purchase' THEN 'p' WHEN 'error' THEN 'e' " +
              "ELSE 's' END"))
          .withColumn("rn", row_number().over(w))
          .groupBy(col("user_id"))
          .agg(array_join(expr(
            "transform(sort_array(collect_list(struct(rn, ch))), x -> x.ch)"),
            "").as("s"))
        seq.select(col("user_id"),
          length(col("s")).cast("long").as("seq_len"),
          expr("regexp_count(s, 'vc+p')").cast("long").as("n_funnel_runs"),
          expr("regexp_count(s, 'e')").cast("long").as("n_errors"))
      },
      Some("""WITH seq AS (
             |  SELECT user_id,
             |    string_agg(CASE event_type WHEN 'view' THEN 'v'
             |      WHEN 'click' THEN 'c' WHEN 'purchase' THEN 'p'
             |      WHEN 'error' THEN 'e' ELSE 's' END, ''
             |      ORDER BY epoch_us(ts), event_id) AS s
             |  FROM events GROUP BY 1)
             |SELECT user_id, CAST(length(s) AS BIGINT) AS seq_len,
             |  CAST(length(regexp_extract_all(s, 'vc+p')) AS BIGINT)
             |    AS n_funnel_runs,
             |  CAST(length(s) - length(regexp_replace(s, 'e', '', 'g'))
             |    AS BIGINT) AS n_errors
             |FROM seq""".stripMargin)),

    // LOCAL EXTREMA CENSUS of each nation's daily revenue: strict peaks
    // (higher than both neighbors) and valleys on CONSECUTIVE-day triples
    // only (gap-adjacent days excluded — the q172 window-validity
    // discipline). The change-point's (q187) local sibling; day grain
    // reduced before the one lag/lead window.
    Q("q240_extrema_census",
      (s, d) => {
        val daily = Tables.orders(s, d)
          .join(broadcast(Tables.customer(s, d)
            .select(col("c_custkey"), col("c_nationkey"))),
            col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_nationkey").cast("long").as("nation"),
            (graft.ops.Relational.epochUs(col("o_orderdate"))
              / 86400000000L).cast("long").as("day"))
          .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("c"))
        val w = Window.partitionBy(col("nation")).orderBy(col("day").asc)
        daily
          .withColumn("pd", lag(col("day"), 1).over(w))
          .withColumn("pc", lag(col("c"), 1).over(w))
          .withColumn("nd", lead(col("day"), 1).over(w))
          .withColumn("nc", lead(col("c"), 1).over(w))
          .filter(col("pd") === col("day") - 1 &&
            col("nd") === col("day") + 1)
          .groupBy(col("nation"))
          .agg(count(lit(1)).as("n_triples"),
            sum(when(col("c") > col("pc") && col("c") > col("nc"), 1L)
              .otherwise(0L)).as("n_peaks"),
            sum(when(col("c") < col("pc") && col("c") < col("nc"), 1L)
              .otherwise(0L)).as("n_valleys"))
      },
      Some("""WITH daily AS (
             |  SELECT CAST(c.c_nationkey AS BIGINT) AS nation,
             |    epoch_us(o.o_orderdate) // 86400000000 AS day,
             |    CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
             |      AS BIGINT) AS c
             |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
             |  GROUP BY 1, 2),
             |tri AS (
             |  SELECT nation, day, c,
             |    lag(day) OVER w AS pd, lag(c) OVER w AS pc,
             |    lead(day) OVER w AS nd, lead(c) OVER w AS nc
             |  FROM daily
             |  WINDOW w AS (PARTITION BY nation ORDER BY day))
             |SELECT nation, count(*) AS n_triples,
             |  CAST(sum(CASE WHEN c > pc AND c > nc THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_peaks,
             |  CAST(sum(CASE WHEN c < pc AND c < nc THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_valleys
             |FROM tri
             |WHERE pd = day - 1 AND nd = day + 1
             |GROUP BY 1""".stripMargin)))
}

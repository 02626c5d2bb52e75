package graft

import org.apache.spark.sql.catalyst.util.QuantileSummaries
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ExtEntries.Q

/** Round-8 batch 4: equi-depth histogram statistics, inferred dimension
  * members, conformal forecast intervals, join-key skew census — the
  * engine-statistics and late-data corners of a warehouse build, all
  * integer-exact. */
object Entries54 {

  val all: Seq[Q] = Seq(

    // EQUI-DEPTH HISTOGRAM construction — the optimizer statistic behind
    // cardinality estimation (ANALYZE ... COMPUTE STATISTICS shape): k=8
    // buckets over l_extendedprice cents with boundaries at the exact
    // ⌈i·n/k⌉ ranks, built on the groupBy(value) REDUCED domain (window
    // input = |distinct values|, never |rows| — the q132 discipline), plus
    // per-bucket row and NDV counts. Everything integer; the statistic a
    // zone-map (q143) consumer asks for next.
    Q("q309_equi_depth_hist",
      (s, d) => {
        // persisted: FOUR consumers (n scalar, the quantile summary, the
        // offsets branch, the bucketed branch) would otherwise each re-run
        // the fact scan + reduce; the cached relation is the distinct-cents
        // domain, tiny at any SF (the q271 scan-dedup discipline)
        val vals = Tables.lineitem(s, d)
          .select(round(col("l_extendedprice") * 100).cast("long").as("c"))
          .groupBy(col("c")).agg(count(lit(1)).as("cnt"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // n stays in the plan: a one-row aggregate cross-joined below
        val n = vals.agg(sum(col("cnt")).as("__n"))
        val k = 8L
        // distributed CDF (the surrogateKeys discipline): value-range
        // buckets from approx quantiles + a LOCAL running sum per bucket +
        // broadcast earlier-bucket offsets — exact global cumulative counts
        // with NO single-partition window, at any scale. The approx bounds
        // only shape the bucketing; the cumulative sums are exact.
        // The bounds are the builder's one Spark action, deliberately:
        // they become literals of the bucket expression, so they must
        // exist before the plan does. One RDD tree-aggregate computes them
        // in one job (`stat.approxQuantile` plans a grouped aggregate,
        // which adaptive execution runs as two).
        val nB = 32
        val summary = vals.select(col("c").cast("double")).rdd
          .treeAggregate(new QuantileSummaries(
            QuantileSummaries.defaultCompressThreshold, 0.001))(
            (q, r) => q.insert(r.getDouble(0)),
            (a, b) => a.compress().merge(b.compress()))
          .compress()
        val bounds = (1 until nB).flatMap(i => summary.query(i.toDouble / nB))
        val bExpr = bounds.foldLeft(lit(0)) { (acc, b) =>
          acc + when(col("c").cast("double") > lit(b), 1).otherwise(0)
        }
        val local = vals.withColumn("__b", bExpr)
          .withColumn("__cum", sum(col("cnt")).over(
            Window.partitionBy(col("__b")).orderBy(col("c").asc)
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val offs = local.groupBy(col("__b")).agg(sum(col("cnt")).as("__c"))
        val offsets = offs.alias("a")
          .join(offs.alias("b"), col("b.__b") < col("a.__b"), "left")
          .groupBy(col("a.__b"))
          .agg(coalesce(sum(col("b.__c")), lit(0L)).as("__off"))
          .select(col("a.__b").as("__b"), col("__off"))
        val bucketed = local.join(broadcast(offsets), Seq("__b"))
          .crossJoin(n)
          .withColumn("cum", col("__cum") + col("__off"))
          .withColumn("bucket",
            expr(s"least((cum * $k + __n - 1L) DIV __n, $k)"))
        bucketed.groupBy(col("bucket"))
          .agg(min(col("c")).as("lo_cents"), max(col("c")).as("hi_cents"),
            sum(col("cnt")).as("n_rows"), count(lit(1)).as("ndv"))
      },
      Some("""WITH vals AS (
             |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS c,
             |    count(*) AS cnt
             |  FROM lineitem GROUP BY 1),
             |n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM vals),
             |b AS (
             |  SELECT c, cnt,
             |    least(CAST((sum(cnt) OVER (ORDER BY c ASC) * 8 + n.n - 1)
             |      // n.n AS BIGINT), 8) AS bucket
             |  FROM vals CROSS JOIN n)
             |SELECT bucket, min(c) AS lo_cents, max(c) AS hi_cents,
             |  CAST(sum(cnt) AS BIGINT) AS n_rows,
             |  CAST(count(*) AS BIGINT) AS ndv
             |FROM b GROUP BY 1""".stripMargin)),

    // INFERRED DIMENSION MEMBERS (early-arriving facts): order rows whose
    // customer key is missing from the dimension get a placeholder member
    // (the Kimball late-arriving-dimension pattern) so the star join never
    // drops revenue. Output = the augmented dimension: real members tagged
    // 'loaded', inferred ones 'inferred' with fact-derived first-seen info.
    // Anti-join on the key — partial-aggregable, broadcast-friendly.
    Q("q310_inferred_members",
      (s, d) => {
        // simulate a late dim: members with c_custkey % 97 == 0 missing
        val dim = Tables.customer(s, d)
          .filter(pmod(col("c_custkey"), lit(97L)) =!= 0L)
          .select(col("c_custkey"), col("c_mktsegment"),
            lit("loaded").as("member_status"))
        val inferred = Tables.orders(s, d)
          .join(dim.select(col("c_custkey")),
            col("o_custkey") === col("c_custkey"), "left_anti")
          .groupBy(col("o_custkey").as("c_custkey"))
          .agg(count(lit(1)).as("n_pending_facts"))
          .select(col("c_custkey"), lit("UNKNOWN").as("c_mktsegment"),
            lit("inferred").as("member_status"),
            col("n_pending_facts"))
        dim.withColumn("n_pending_facts", lit(null).cast("long"))
          .unionByName(inferred)
      },
      Some("""WITH dim AS (
             |  SELECT c_custkey, c_mktsegment, 'loaded' AS member_status
             |  FROM customer WHERE c_custkey % 97 <> 0),
             |inf AS (
             |  SELECT o_custkey AS c_custkey, 'UNKNOWN' AS c_mktsegment,
             |    'inferred' AS member_status,
             |    CAST(count(*) AS BIGINT) AS n_pending_facts
             |  FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM dim)
             |  GROUP BY 1)
             |SELECT c_custkey, c_mktsegment, member_status,
             |  CAST(NULL AS BIGINT) AS n_pending_facts
             |FROM dim
             |UNION ALL
             |SELECT c_custkey, c_mktsegment, member_status, n_pending_facts
             |FROM inf""".stripMargin)),

    // CONFORMAL PREDICTION INTERVAL for the seasonal-naive forecaster
    // (q227's baseline): calibration = 1996 daily revenue residuals
    // |actual − value 7 days prior| in exact cents; the conformal quantile
    // is the ⌈0.9·(n+1)⌉-th smallest calibration residual (exact rank on
    // integers — distribution-free coverage ≥ 90%); the gate then MEASURES
    // held-out 1997 coverage. Per nation: q_hat, n_test, n_covered — the
    // honest-uncertainty report (Vovk; Angelopoulos & Bates 2022) with
    // zero float quantiles.
    Q("q311_conformal_naive",
      (s, d) => {
        val daily = Tables.orders(s, d)
          .join(broadcast(Tables.customer(s, d)
            .select(col("c_custkey"), col("c_nationkey"))),
            col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_nationkey").cast("long").as("nation"),
            (graft.ops.Relational.epochUs(col("o_orderdate"))
              / 86400000000L).cast("long").as("day"))
          .agg(sum(round(col("o_totalprice") * 100).cast("long"))
            .as("cents"))
        val w = Window.partitionBy(col("nation")).orderBy(col("day"))
          .rangeBetween(-7L, -7L)
        val withPrev = daily
          .withColumn("prev7", max(col("cents")).over(w))
          .filter(col("prev7").isNotNull)
          .withColumn("resid", abs(col("cents") - col("prev7")))
          .withColumn("year", (col("day") / 365.2425).cast("long") + 1970L)
          // persisted: calib feeds the count AND rank passes, test the
          // final join — three replays of the orders join + window without
          // the cache (the relation is the nation×day domain)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val calib = withPrev.filter(col("year") === 1996L)
        val test = withPrev.filter(col("year") === 1997L)
        val rw = Window.partitionBy(col("nation"))
          .orderBy(col("resid").asc, col("day").asc)
        val counts = calib.groupBy(col("nation"))
          .agg(count(lit(1)).as("n_cal"))
        val qhat = calib
          .withColumn("rn", row_number().over(rw))
          .join(counts, Seq("nation"))
          // conformal rank ⌈0.9·(n+1)⌉, capped at n
          .filter(col("rn") === expr(
            "least(((n_cal + 1) * 9) DIV 10 + " +
              "CASE WHEN ((n_cal + 1) * 9) % 10 > 0 THEN 1 ELSE 0 END, " +
              "n_cal)"))
          .select(col("nation"), col("resid").as("q_hat"), col("n_cal"))
        test.join(qhat, Seq("nation"))
          .groupBy(col("nation"), col("q_hat"), col("n_cal"))
          .agg(count(lit(1)).as("n_test"),
            sum(when(col("resid") <= col("q_hat"), 1L).otherwise(0L))
              .as("n_covered"))
      },
      Some("""WITH daily AS (
             |  SELECT CAST(c_nationkey AS BIGINT) AS nation,
             |    CAST(epoch_us(o_orderdate) / 86400000000 AS BIGINT) AS day,
             |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
             |      AS BIGINT) AS cents
             |  FROM orders JOIN customer ON o_custkey = c_custkey
             |  GROUP BY 1, 2),
             |wp AS (
             |  SELECT *, abs(cents - prev7) AS resid,
             |    CAST(floor(day / 365.2425) AS BIGINT) + 1970 AS year
             |  FROM (
             |    SELECT *, max(cents) OVER (PARTITION BY nation ORDER BY day
             |      RANGE BETWEEN 7 PRECEDING AND 7 PRECEDING) AS prev7
             |    FROM daily)
             |  WHERE prev7 IS NOT NULL),
             |calib AS (SELECT * FROM wp WHERE year = 1996),
             |test AS (SELECT * FROM wp WHERE year = 1997),
             |cnt AS (SELECT nation, CAST(count(*) AS BIGINT) AS n_cal
             |        FROM calib GROUP BY 1),
             |qh AS (
             |  SELECT c.nation, c.resid AS q_hat, cnt.n_cal FROM (
             |    SELECT nation, resid, day, row_number() OVER (
             |      PARTITION BY nation ORDER BY resid ASC, day ASC) AS rn
             |    FROM calib) c
             |  JOIN cnt ON cnt.nation = c.nation
             |  WHERE c.rn = least((cnt.n_cal + 1) * 9 // 10 +
             |    CASE WHEN ((cnt.n_cal + 1) * 9) % 10 > 0 THEN 1 ELSE 0 END,
             |    cnt.n_cal))
             |SELECT t.nation, q.q_hat, q.n_cal,
             |  CAST(count(*) AS BIGINT) AS n_test,
             |  CAST(sum(CASE WHEN t.resid <= q.q_hat THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_covered
             |FROM test t JOIN qh q ON q.nation = t.nation
             |GROUP BY 1, 2, 3""".stripMargin)),

    // JOIN-KEY SKEW CENSUS — the report that decides between a plain
    // shuffle join, a broadcast, and the q90 salted join: per candidate
    // key, rows at the heaviest key value, the p99-rank key's count (exact,
    // on the count-of-counts REDUCED domain), and the max/avg skew factor
    // as an exact cross-multiplied pair (max·ndv, total). AQE handles skew
    // reactively; this measures it proactively for layout decisions.
    Q("q312_skew_census",
      (s, d) => {
        // one lazy plan per edge, no job while building: the totals ride
        // the p99 window as whole-frame sums over the same reduced domain,
        // so every number comes from ONE count-of-counts pass
        def census(name: String, df: org.apache.spark.sql.DataFrame,
                   key: String) = {
          val counts = df.groupBy(col(key).as("k"))
            .agg(count(lit(1)).as("cnt"))
          val cc = counts.groupBy(col("cnt")).agg(count(lit(1)).as("nkeys"))
          // p99 key count: largest cnt with ≥1% of keys at-or-above it
          val byCnt = Window.orderBy(col("cnt").desc)
          val w = byCnt
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
          val all = byCnt
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
          cc.select(col("cnt"), sum(col("nkeys")).over(w).as("keys_ge"),
              sum(col("cnt") * col("nkeys")).over(all).as("n_rows"),
              sum(col("nkeys")).over(all).as("ndv"),
              max(col("cnt")).over(all).as("max_key_rows"))
            .filter(col("keys_ge") * 100L >= col("ndv"))
            .groupBy(col("n_rows"), col("ndv"), col("max_key_rows"))
            .agg(max(col("cnt")).as("p99_key_rows"))
            .select(lit(name).as("edge"), col("n_rows"), col("ndv"),
              col("max_key_rows"), col("p99_key_rows"))
        }
        census("lineitem.l_suppkey", Tables.lineitem(s, d), "l_suppkey")
          .unionByName(census("lineitem.l_partkey",
            Tables.lineitem(s, d), "l_partkey"))
          .unionByName(census("orders.o_custkey",
            Tables.orders(s, d), "o_custkey"))
          .select(col("*"),
            (col("max_key_rows") * col("ndv")).as("skew_num"),
            col("n_rows").as("skew_den"))
      },
      Some("""WITH e AS (
             |  SELECT 'lineitem.l_suppkey' AS edge, l_suppkey AS k
             |  FROM lineitem
             |  UNION ALL
             |  SELECT 'lineitem.l_partkey', l_partkey FROM lineitem
             |  UNION ALL
             |  SELECT 'orders.o_custkey', o_custkey FROM orders),
             |counts AS (
             |  SELECT edge, k, count(*) AS cnt FROM e GROUP BY 1, 2),
             |cc AS (
             |  SELECT edge, cnt, count(*) AS nkeys
             |  FROM counts GROUP BY 1, 2),
             |tot AS (
             |  SELECT edge, CAST(sum(cnt * nkeys) AS BIGINT) AS n_rows,
             |    CAST(sum(nkeys) AS BIGINT) AS ndv,
             |    CAST(max(cnt) AS BIGINT) AS max_key_rows
             |  FROM cc GROUP BY 1),
             |p99 AS (
             |  SELECT c.edge, CAST(max(c.cnt) AS BIGINT) AS p99_key_rows
             |  FROM (
             |    SELECT edge, cnt,
             |      sum(nkeys) OVER (PARTITION BY edge ORDER BY cnt DESC
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |        AS keys_ge
             |    FROM cc) c
             |  JOIN tot ON tot.edge = c.edge
             |  WHERE c.keys_ge * 100 >= tot.ndv
             |  GROUP BY 1)
             |SELECT tot.edge, tot.n_rows, tot.ndv, tot.max_key_rows,
             |  p99.p99_key_rows,
             |  CAST(tot.max_key_rows * tot.ndv AS BIGINT) AS skew_num,
             |  tot.n_rows AS skew_den
             |FROM tot JOIN p99 ON p99.edge = tot.edge""".stripMargin)))
}

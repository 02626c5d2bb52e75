package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ExtEntries.Q

/** Round-7 batch 5: ordered string aggregation, interpolated percentile as
  * a scaled exact integer, week-over-week audience overlap on the bitmap
  * sketch algebra, quantified (ANY/ALL) predicate decorrelation.
  */
object Entries26 {

  val all: Seq[Q] = Seq(

    // ORDERED STRING AGGREGATION: top-3 customers by balance per nation as
    // ONE comma-joined string, in pinned (balance desc, name) order.
    // listagg/string_agg is order-sensitive — the arrival-order trap of
    // collect_list — so the rank both CAPS the group (WindowGroupLimit
    // bounds mapper output at 3/group) and PINS the order (sort_array on
    // (rn, name) structs ignores arrival order entirely).
    Q("q223_top_names_concat",
      (s, d) => {
        val w = Window.partitionBy(col("c_nationkey"))
          .orderBy(col("c_acctbal").desc, col("c_name").asc,
            col("c_custkey").asc)
        Tables.customer(s, d)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .groupBy(col("c_nationkey").cast("long").as("nation"))
          .agg(array_join(expr(
            "transform(sort_array(collect_list(struct(rn, c_name))), x -> x.c_name)"),
            ",").as("top_names"),
            count(lit(1)).as("n"))
      },
      Some("""WITH ranked AS (
             |  SELECT CAST(c_nationkey AS BIGINT) AS nation, c_name,
             |    row_number() OVER (PARTITION BY c_nationkey
             |      ORDER BY c_acctbal DESC, c_name, c_custkey) AS rn
             |  FROM customer)
             |SELECT nation,
             |  string_agg(c_name, ',' ORDER BY rn) AS top_names,
             |  count(*) AS n
             |FROM ranked WHERE rn <= 3 GROUP BY 1""".stripMargin)),

    // INTERPOLATED P90 per nation over customer balances, exact: with
    // 0-based position (n−1)·9/10 = k rem r, the linearly-interpolated
    // percentile ×10 is (10−r)·x_k + r·x_{k+1} — an INTEGER (cents×10), no
    // division anywhere (the PERCENTILE_CONT twin of the exact lower
    // medians used everywhere else). One rank window + one aggregate.
    Q("q224_interp_p90",
      (s, d) => {
        val w = Window.partitionBy(col("nation"))
          .orderBy(col("bal_c").asc, col("c_custkey").asc)
        Tables.customer(s, d)
          .select(col("c_nationkey").cast("long").as("nation"),
            expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("bal_c"),
            col("c_custkey"))
          .withColumn("rn", row_number().over(w).cast("long"))
          .withColumn("cnt", count(lit(1)).over(
            Window.partitionBy(col("nation"))))
          .withColumn("k1", expr("(cnt - 1) * 9 DIV 10 + 1"))
          .withColumn("r", expr("(cnt - 1) * 9 % 10"))
          .groupBy(col("nation"))
          .agg(count(lit(1)).as("n"),
            ((lit(10L) - max(col("r"))) *
              max(when(col("rn") === col("k1"), col("bal_c"))) +
              max(col("r")) *
                coalesce(max(when(col("rn") === col("k1") + 1,
                  col("bal_c"))), lit(0L))).as("p90_x10"))
      },
      Some("""WITH b AS (
             |  SELECT CAST(c_nationkey AS BIGINT) AS nation,
             |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c, c_custkey
             |  FROM customer),
             |r AS (
             |  SELECT nation, bal_c,
             |    row_number() OVER (PARTITION BY nation
             |      ORDER BY bal_c, c_custkey) AS rn,
             |    count(*) OVER (PARTITION BY nation) AS cnt
             |  FROM b)
             |SELECT nation, count(*) AS n,
             |  CAST((10 - max((cnt - 1) * 9 % 10))
             |    * max(CASE WHEN rn = (cnt - 1) * 9 // 10 + 1
             |        THEN bal_c END)
             |    + max((cnt - 1) * 9 % 10)
             |      * coalesce(max(CASE WHEN rn = (cnt - 1) * 9 // 10 + 2
             |        THEN bal_c END), 0) AS BIGINT) AS p90_x10
             |FROM r GROUP BY 1""".stripMargin)),

    // WEEK-OVER-WEEK AUDIENCE OVERLAP on the exact bitmap-sketch algebra:
    // per week one user-id bitmap (built ONCE, the store-sketches pattern
    // of q140), consecutive weeks answered by AND-popcount — intersection,
    // union and both sizes exact, no re-scan of events and no count-
    // distinct self-join (which is what the oracle runs). The retention
    // KPI surface of the sketch family.
    Q("q225_weekly_overlap",
      (s, d) => {
        import graft.functions.GraftFunctions._
        val wk = Tables.events(s, d)
          .select((col("ts_us") / 604800000000L).cast("long").as("week"),
            col("user_id"))
          .groupBy(col("week"))
          .agg(bitmapSketch(col("user_id")).as("bm"))
        val prev = wk.select((col("week") + 1).as("week"),
          col("bm").as("bm_prev"))
        wk.join(prev, Seq("week"))
          .select(col("week"),
            bitmapCount(col("bm_prev")).as("n_prev"),
            bitmapCount(col("bm")).as("n_curr"),
            bitmapAndCount(col("bm_prev"), col("bm")).as("n_inter"))
          .withColumn("n_union",
            col("n_prev") + col("n_curr") - col("n_inter"))
      },
      Some("""WITH wu AS (
             |  SELECT DISTINCT epoch_us(ts) // 604800000000 AS week, user_id
             |  FROM events),
             |cnt AS (SELECT week, count(*) AS n FROM wu GROUP BY 1),
             |inter AS (
             |  SELECT b.week, count(*) AS n_inter
             |  FROM wu a JOIN wu b
             |    ON b.week = a.week + 1 AND b.user_id = a.user_id
             |  GROUP BY 1)
             |SELECT c2.week, c1.n AS n_prev, c2.n AS n_curr,
             |  coalesce(i.n_inter, 0) AS n_inter,
             |  c1.n + c2.n - coalesce(i.n_inter, 0) AS n_union
             |FROM cnt c2
             |JOIN cnt c1 ON c1.week = c2.week - 1
             |LEFT JOIN inter i ON i.week = c2.week""".stripMargin)),

    // QUANTIFIED PREDICATES (> ALL / > ANY) decorrelated: customers whose
    // balance beats ALL supplier balances of their own nation, and whether
    // they beat ANY. The classic nested quantifier re-scans suppliers per
    // customer; the rewrite is one |nations|-row (max, min) aggregate
    // broadcast onto customers — the oracle runs the literal ALL/ANY
    // subqueries. Nations with NO suppliers: ALL is vacuously true, ANY
    // false (pinned — the null-handling trap of quantified comparisons).
    Q("q226_quantified_balance",
      (s, d) => {
        val supStats = Tables.supplier(s, d)
          .groupBy(col("s_nationkey").as("nk"))
          .agg(max(col("s_acctbal")).as("s_max"), min(col("s_acctbal")).as("s_min"))
        Tables.customer(s, d)
          .join(broadcast(supStats), col("c_nationkey") === col("nk"), "left")
          .select(col("c_custkey"),
            coalesce(col("c_acctbal") > col("s_max"), lit(true))
              .as("beats_all"),
            coalesce(col("c_acctbal") > col("s_min"), lit(false))
              .as("beats_any"))
      },
      Some("""SELECT c.c_custkey,
             |  c.c_acctbal > ALL (SELECT s.s_acctbal FROM supplier s
             |    WHERE s.s_nationkey = c.c_nationkey) AS beats_all,
             |  c.c_acctbal > ANY (SELECT s.s_acctbal FROM supplier s
             |    WHERE s.s_nationkey = c.c_nationkey) AS beats_any
             |FROM customer c""".stripMargin)))
}

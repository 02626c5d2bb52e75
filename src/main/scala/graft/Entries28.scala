package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ExtEntries.Q

/** Round-7 batch 7: 3-set Venn on the completed bitmap algebra,
  * leaderboard drift, hierarchical share-of-parent.
  */
object Entries28 {

  val all: Seq[Q] = Seq(

    // 3-SET VENN over viewer/clicker/purchaser audiences, one row, exact:
    // each set is built ONCE as a bitmap sketch; every cell — three
    // singles, three pairwise, the triple — is answered by AND/popcount
    // on the blobs. The new `bitmap_and` (binary→binary) composes the
    // triple intersection pairwise counts alone cannot express,
    // completing the sketch algebra (build/OR/AND/count/contains). The
    // oracle re-joins distinct user sets per cell.
    Q("q231_event_venn3",
      (s, d) => {
        import graft.functions.GraftFunctions._
        val ev = Tables.events(s, d)
        def bm(t: String) = ev.filter(col("event_type") === t)
          .agg(bitmapSketch(col("user_id")).as(s"bm_$t"))
        bm("view").crossJoin(bm("click")).crossJoin(bm("purchase"))
          .select(
            bitmapCount(col("bm_view")).as("n_a"),
            bitmapCount(col("bm_click")).as("n_b"),
            bitmapCount(col("bm_purchase")).as("n_c"),
            bitmapAndCount(col("bm_view"), col("bm_click")).as("n_ab"),
            bitmapAndCount(col("bm_view"), col("bm_purchase")).as("n_ac"),
            bitmapAndCount(col("bm_click"), col("bm_purchase")).as("n_bc"),
            bitmapAndCount(bitmapAnd(col("bm_view"), col("bm_click")),
              col("bm_purchase")).as("n_abc"))
      },
      Some("""WITH a AS (SELECT DISTINCT user_id FROM events
             |  WHERE event_type = 'view'),
             |b AS (SELECT DISTINCT user_id FROM events
             |  WHERE event_type = 'click'),
             |c AS (SELECT DISTINCT user_id FROM events
             |  WHERE event_type = 'purchase')
             |SELECT (SELECT count(*) FROM a) AS n_a,
             |  (SELECT count(*) FROM b) AS n_b,
             |  (SELECT count(*) FROM c) AS n_c,
             |  (SELECT count(*) FROM a JOIN b USING (user_id)) AS n_ab,
             |  (SELECT count(*) FROM a JOIN c USING (user_id)) AS n_ac,
             |  (SELECT count(*) FROM b JOIN c USING (user_id)) AS n_bc,
             |  (SELECT count(*) FROM a JOIN b USING (user_id)
             |    JOIN c USING (user_id)) AS n_abc""".stripMargin)),

    // LEADERBOARD DRIFT: the top-20 parts by revenue in ship-year 1996 vs
    // 1997, full-outer joined — rank moves, entries and exits in one
    // table (rank NULL = not in that year's top-20). Ranks run over the
    // |parts|-sized reduced aggregate (domain-bounded window), ties
    // pinned by partkey; the year-over-year KPI behind "what changed".
    Q("q232_leaderboard_drift",
      (s, d) => {
        val pr = Tables.lineitem(s, d)
          .groupBy(col("l_partkey"),
            year(col("l_shipdate")).cast("long").as("y"))
          .agg(sum(round(col("l_extendedprice") * 100).cast("long") *
            (lit(100L) - round(col("l_discount") * 100).cast("long")))
            .as("rev"))
          .filter(col("y").isin(1996L, 1997L))
        def top(yr: Long, suffix: String) = pr.filter(col("y") === yr)
          .withColumn("rn", row_number().over(
            Window.orderBy(col("rev").desc, col("l_partkey").asc))
            .cast("long"))
          .filter(col("rn") <= 20)
          .select(col("l_partkey"), col("rn").as(s"rank_$suffix"),
            col("rev").as(s"rev_${suffix}_c100"))
        top(1996L, "96").join(top(1997L, "97"), Seq("l_partkey"),
          "full_outer")
      },
      Some("""WITH pr AS (
             |  SELECT l_partkey, CAST(year(l_shipdate) AS BIGINT) AS y,
             |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
             |      * (100 - CAST(round(l_discount * 100) AS BIGINT)))
             |      AS BIGINT) AS rev
             |  FROM lineitem WHERE year(l_shipdate) IN (1996, 1997)
             |  GROUP BY 1, 2),
             |r96 AS (
             |  SELECT l_partkey, rev,
             |    row_number() OVER (ORDER BY rev DESC, l_partkey) AS rn
             |  FROM pr WHERE y = 1996),
             |r97 AS (
             |  SELECT l_partkey, rev,
             |    row_number() OVER (ORDER BY rev DESC, l_partkey) AS rn
             |  FROM pr WHERE y = 1997)
             |SELECT coalesce(a.l_partkey, b.l_partkey) AS l_partkey,
             |  a.rn AS rank_96, a.rev AS rev_96_c100,
             |  b.rn AS rank_97, b.rev AS rev_97_c100
             |FROM (SELECT * FROM r96 WHERE rn <= 20) a
             |FULL JOIN (SELECT * FROM r97 WHERE rn <= 20) b
             |  ON a.l_partkey = b.l_partkey""".stripMargin)),

    // SHARE-OF-PARENT hierarchy rollup: revenue at (region, nation,
    // segment) with the nation, region and grand totals ON THE SAME ROW —
    // every share is an exact (child, parent) integer pair, division left
    // to the consumer. One fact reduce to the ≤|regions·nations·segments|
    // grain, then three window sums over the REDUCED table (never the
    // fact rows).
    Q("q233_share_of_parent",
      (s, d) => {
        val base = Tables.orders(s, d)
          .join(Tables.customer(s, d)
            .select(col("c_custkey"), col("c_nationkey"),
              col("c_mktsegment")),
            col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables.nation(s, d)
            .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))),
            col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables.region(s, d)),
            col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"), col("n_name"),
            col("c_mktsegment").as("segment"))
          .agg(sum(round(col("o_totalprice") * 100).cast("long"))
            .as("seg_c"))
        base
          .withColumn("nation_c", sum(col("seg_c")).over(
            Window.partitionBy(col("r_name"), col("n_name"))))
          .withColumn("region_c", sum(col("seg_c")).over(
            Window.partitionBy(col("r_name"))))
          .withColumn("total_c", sum(col("seg_c")).over(Window.partitionBy()))
      },
      Some("""WITH base AS (
             |  SELECT r.r_name, n.n_name, c.c_mktsegment AS segment,
             |    CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
             |      AS BIGINT) AS seg_c
             |  FROM orders o
             |  JOIN customer c ON o.o_custkey = c.c_custkey
             |  JOIN nation n ON c.c_nationkey = n.n_nationkey
             |  JOIN region r ON n.n_regionkey = r.r_regionkey
             |  GROUP BY 1, 2, 3)
             |SELECT r_name, n_name, segment, seg_c,
             |  CAST(sum(seg_c) OVER (PARTITION BY r_name, n_name)
             |    AS BIGINT) AS nation_c,
             |  CAST(sum(seg_c) OVER (PARTITION BY r_name) AS BIGINT)
             |    AS region_c,
             |  CAST(sum(seg_c) OVER () AS BIGINT) AS total_c
             |FROM base""".stripMargin)))
}

package graft

import org.apache.spark.sql.functions._
import graft.ops.{History, Tpch}
import graft.ext.{Dedup, Similarity}
import graft.ExtEntries.Q

/** Round-5 batch 1: temporal-history operators around the point-in-time
  * core (SCD2, attribution, interpolation, compaction planning), exact
  * duplicated-substring spans, the mutual-kNN graph, and the two classic
  * TPC-H correlated-subquery shapes run as their decorrelated rewrites
  * against literal EXISTS / scalar-subquery oracles.
  */
object Entries8 {

  private val week7Us = 7L * 86400000000L

  val all: Seq[Q] = Seq(

    // SCD Type-2 dimension build: change-suppressed validity intervals
    // [valid_from, valid_to) + version + is_current per user from the
    // purchase-cents change log — the write-side twin of the as-of join.
    Q("q148_scd2",
      (s, d) => History.scd2Build(
        Tables.events(s, d).filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts_us"),
            round(col("value") * 100).cast("long").as("cents")),
        "user_id", "ts_us", "cents"),
      Some(History.scd2Sql)),

    // First/last-touch revenue attribution: per purchase, the earliest and
    // latest non-purchase touch in a 7-day event-time range frame
    // (arg-min/max as ONE integer min/max over a ts*8+channel encoding),
    // revenue rolled up per channel pair.
    Q("q149_attribution",
      (s, d) => History.attribution(
        Tables.events(s, d)
          .select(col("user_id"), col("ts_us"), col("event_type"),
            col("value")),
        week7Us),
      Some(History.attributionSql(week7Us))),

    // Linear-interpolation gap fill as an exact rational (num, den):
    // neighbor-straight-line estimate per purchase point, no float division.
    Q("q150_interpolate",
      (s, d) => History.interpolate(
        Tables.events(s, d).filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts_us"),
            round(col("value") * 100).cast("long").as("cents")),
        "user_id", "ts_us", "cents"),
      Some(History.interpolateSql)),

    // Compaction bin-packing (the OPTIMIZE planner): per-month file
    // inventory (one simulated file per order date) packed into ~1e6-cent
    // target bins by exclusive-prefix-sum DIV, biggest files first.
    Q("q151_compaction",
      (s, d) => History.compactionBins(
        Tables.orders(s, d)
          .groupBy((year(col("o_orderdate")) * 100
            + month(col("o_orderdate"))).as("mon"),
            to_date(col("o_orderdate")).as("file_date"))
          .agg(sum(round(col("o_totalprice") * 100).cast("long"))
            .as("bytes")),
        "mon", "file_date", "bytes", 1000000L),
      Some(History.compactionBinsSql(1000000L))),

    // Exact duplicated-substring spans (Lee et al. exact-substring dedup,
    // relational form): 16-gram collisions across >=2 docs, coalesced into
    // maximal per-doc spans by the q116 interval sweep.
    Q("q152_dup_spans",
      (s, d) => Dedup.dupSpans(Tables.documents(s, d), 16),
      Some(Dedup.dupSpansSql(16))),

    // Mutual k-NN graph over the full embedding corpus (k=3): symmetric
    // top-k pairs with both directed ranks — the SemDeDup-adjacent
    // neighborhood structure.
    Q("q153_mutual_knn",
      (s, d) => {
        Similarity.mutualKnn(Tables.embeddings(s, d), 3)
      },
      Some {
        val cos = ExtEntries.cosSql("q.embedding", "c.embedding")
        s"""WITH knn AS (
           |  SELECT q_id, n_id, rnk, cos FROM (
           |    SELECT q.vec_id AS q_id, c.vec_id AS n_id, $cos AS cos,
           |      row_number() OVER (PARTITION BY q.vec_id
           |        ORDER BY $cos DESC, c.vec_id ASC) AS rnk
           |    FROM embeddings q JOIN embeddings c
           |      ON q.vec_id <> c.vec_id)
           |  WHERE rnk <= 3)
           |SELECT a.q_id AS v1, a.n_id AS v2,
           |  CAST(a.rnk AS BIGINT) AS rank12, CAST(b.rnk AS BIGINT) AS rank21,
           |  a.cos AS cos
           |FROM knn a JOIN knn b
           |  ON a.q_id = b.n_id AND a.n_id = b.q_id AND a.q_id < a.n_id""".stripMargin
      }),

    // TPC-H Q21 shape: the only late supplier in multi-supplier orders
    // (ship > 90 d after order date), decorrelated to two aggregates + a
    // semi-join; oracle runs the literal EXISTS / NOT EXISTS.
    Q("q154_only_late_supplier",
      (s, d) => Tpch.onlyLateSupplier(Tables.lineitem(s, d),
        Tables.orders(s, d), Tables.supplier(s, d), 90),
      Some(Tpch.onlyLateSupplierSql(90))),

    // TPC-H Q17 shape: small-quantity revenue for one brand under the
    // exact integer cross-multiplied 20%-of-avg predicate; oracle runs the
    // literal correlated scalar subqueries.
    Q("q155_small_qty_revenue",
      (s, d) => Tpch.smallQtyRevenue(Tables.lineitem(s, d),
        Tables.part(s, d), "Brand#13"),
      Some(Tpch.smallQtyRevenueSql("Brand#13")))
  )
}

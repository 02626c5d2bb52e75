package graft

import org.apache.spark.sql.functions._
import graft.ops.Relational
import graft.ext.Similarity
import graft.ExtEntries.Q

/** Round-6 batch 2: referential-integrity audit, k-center greedy coreset
  * selection, reciprocal-rank fusion of heterogeneous retrievers.
  */
object Entries12 {

  // ---------------------------------------------------------- oracle helpers

  /** One FK edge of the audit in DuckDB (mirror of Relational.fkAudit). */
  private def fkEdgeSql(name: String, child: String, ck: String,
                        parent: String, pk: String): String =
    s"""SELECT '$name' AS rel, count(*) AS child_rows,
       |  CAST(sum(CASE WHEN p.__ck IS NULL AND c.__ck IS NOT NULL
       |    THEN 1 ELSE 0 END) AS BIGINT) AS orphan_rows,
       |  count(DISTINCT CASE WHEN p.__ck IS NULL AND c.__ck IS NOT NULL
       |    THEN c.__ck END) AS orphan_keys,
       |  CAST(sum(CASE WHEN c.__ck IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS null_keys
       |FROM (SELECT $ck AS __ck FROM $child) c
       |LEFT JOIN (SELECT DISTINCT $pk AS __ck FROM $parent) p
       |  ON c.__ck = p.__ck""".stripMargin

  /** Sequential-fold squared L2 over 64-dim embeddings, diff in DOUBLE
    * (mirror of Similarity.kCenterGreedy's pre-cast + l2sq). */
  private def l2Sql(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, 65), " +
      s"i -> (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)) * " +
      s"(CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))), (x, y) -> x + y)"

  /** Full k-round greedy replay: each round re-derives the argmax the Spark
    * driver loop collects (farthest point, ties by min id, excluding the
    * already-selected set). */
  private def kCenterSql(k: Int): String = {
    val sb = new StringBuilder
    sb ++= "WITH e AS (SELECT vec_id, embedding FROM embeddings),\n"
    sb ++= "c0 AS (SELECT vec_id, embedding FROM e " +
      "WHERE vec_id = (SELECT min(vec_id) FROM e)),\n"
    sb ++= s"d1 AS (SELECT e.vec_id, ${l2Sql("e.embedding", "c.embedding")} AS d2 " +
      "FROM e, c0 c),\n"
    sb ++= "s1 AS (SELECT vec_id, d2 FROM d1 " +
      "WHERE vec_id NOT IN (SELECT vec_id FROM c0) " +
      "ORDER BY d2 DESC, vec_id ASC LIMIT 1),\n"
    for (i <- 2 until k) {
      sb ++= s"c${i - 1} AS (SELECT e.vec_id, e.embedding FROM e, s${i - 1} s " +
        "WHERE e.vec_id = s.vec_id),\n"
      sb ++= s"d$i AS (SELECT d.vec_id, " +
        s"least(d.d2, ${l2Sql("e.embedding", "c.embedding")}) AS d2 " +
        s"FROM d${i - 1} d JOIN e ON d.vec_id = e.vec_id, c${i - 1} c),\n"
      val excl = "SELECT vec_id FROM c0" +
        (1 until i).map(j => s" UNION ALL SELECT vec_id FROM s$j").mkString
      sb ++= s"s$i AS (SELECT vec_id, d2 FROM d$i " +
        s"WHERE vec_id NOT IN ($excl) ORDER BY d2 DESC, vec_id ASC LIMIT 1),\n"
    }
    sb.setLength(sb.length - 2) // drop trailing ",\n"
    sb ++= "\nSELECT CAST(0 AS BIGINT) AS sel_order, vec_id, " +
      "CAST(NULL AS DOUBLE) AS d2 FROM c0"
    for (i <- 1 until k)
      sb ++= s" UNION ALL SELECT CAST($i AS BIGINT), vec_id, d2 FROM s$i"
    sb.toString
  }

  /** 64-dim and 16-dim ranked lists + RRF fusion (mirror of rrfFuse). */
  private val rrfSql: String = {
    val cos = ExtEntries.cosSql("q.embedding", "e.embedding")
    def dot16(a: String, b: String) =
      s"list_reduce(list_transform(range(1, 17), " +
        s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), " +
        "(x, y) -> x + y)"
    val cos16 =
      s"(${dot16("q.emb", "e.emb")} / (sqrt(${dot16("q.emb", "q.emb")}) * " +
        s"sqrt(${dot16("e.emb", "e.emb")})))"
    s"""WITH fullr AS (
       |  SELECT q_id, n_id, CAST(rank AS INT) AS rank FROM (
       |    SELECT q.vec_id AS q_id, e.vec_id AS n_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY $cos DESC, e.vec_id ASC) AS rank
       |    FROM embeddings q JOIN embeddings e ON q.vec_id <> e.vec_id
       |    WHERE q.vec_id < 20)
       |  WHERE rank <= 10),
       |t AS (SELECT vec_id, embedding[1:16] AS emb FROM embeddings),
       |truncr AS (
       |  SELECT q_id, n_id, CAST(rank AS INT) AS rank FROM (
       |    SELECT q.vec_id AS q_id, e.vec_id AS n_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY $cos16 DESC, e.vec_id ASC) AS rank
       |    FROM t q JOIN t e ON q.vec_id <> e.vec_id
       |    WHERE q.vec_id < 20)
       |  WHERE rank <= 10),
       |fused AS (
       |  SELECT coalesce(f.q_id, tr.q_id) AS q_id,
       |    coalesce(f.n_id, tr.n_id) AS n_id,
       |    f.rank AS rank_a, tr.rank AS rank_b,
       |    coalesce(CAST(1 AS DOUBLE) / (60 + f.rank), CAST(0 AS DOUBLE)) +
       |    coalesce(CAST(1 AS DOUBLE) / (60 + tr.rank), CAST(0 AS DOUBLE))
       |      AS rrf
       |  FROM fullr f FULL OUTER JOIN truncr tr
       |    ON f.q_id = tr.q_id AND f.n_id = tr.n_id)
       |SELECT q_id, CAST(fused_rank AS INT) AS fused_rank, n_id, rrf,
       |  rank_a, rank_b
       |FROM (SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY rrf DESC, n_id ASC) AS fused_rank FROM fused)
       |WHERE fused_rank <= 5""".stripMargin
  }

  val all: Seq[Q] = Seq(

    // Referential-integrity audit over every FK edge of the star schema —
    // the promote-gate DQ op: orphan rows/keys and null keys per edge,
    // each edge one pruned key-column scan + pre-distinct'd parent join.
    Q("q179_fk_audit",
      (s, d) => Relational.fkAudit(Seq(
        Relational.FkEdge("lineitem.l_orderkey->orders",
          Tables.lineitem(s, d), "l_orderkey", Tables.orders(s, d), "o_orderkey"),
        Relational.FkEdge("lineitem.l_partkey->part",
          Tables.lineitem(s, d), "l_partkey", Tables.part(s, d), "p_partkey"),
        Relational.FkEdge("lineitem.l_suppkey->supplier",
          Tables.lineitem(s, d), "l_suppkey", Tables.supplier(s, d), "s_suppkey"),
        Relational.FkEdge("orders.o_custkey->customer",
          Tables.orders(s, d), "o_custkey", Tables.customer(s, d), "c_custkey"),
        Relational.FkEdge("customer.c_nationkey->nation",
          Tables.customer(s, d), "c_nationkey", Tables.nation(s, d), "n_nationkey"),
        Relational.FkEdge("supplier.s_nationkey->nation",
          Tables.supplier(s, d), "s_nationkey", Tables.nation(s, d), "n_nationkey"),
        Relational.FkEdge("nation.n_regionkey->region",
          Tables.nation(s, d), "n_regionkey", Tables.region(s, d), "r_regionkey"))),
      Some(Seq(
        fkEdgeSql("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
          "orders", "o_orderkey"),
        fkEdgeSql("lineitem.l_partkey->part", "lineitem", "l_partkey",
          "part", "p_partkey"),
        fkEdgeSql("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey",
          "supplier", "s_suppkey"),
        fkEdgeSql("orders.o_custkey->customer", "orders", "o_custkey",
          "customer", "c_custkey"),
        fkEdgeSql("customer.c_nationkey->nation", "customer", "c_nationkey",
          "nation", "n_nationkey"),
        fkEdgeSql("supplier.s_nationkey->nation", "supplier", "s_nationkey",
          "nation", "n_nationkey"),
        fkEdgeSql("nation.n_regionkey->region", "nation", "n_regionkey",
          "region", "r_regionkey")).mkString("\nUNION ALL\n"))),

    // k-center greedy coreset (k=8): farthest-point traversal over the
    // embedding corpus — diverse-subsample selection with the full greedy
    // replayed round-by-round in the oracle.
    Q("q180_kcenter_coreset",
      (s, d) => {
        Similarity.kCenterGreedy(Tables.embeddings(s, d), 8)
      },
      Some(kCenterSql(8))),

    // Reciprocal-rank fusion (c=60) of the full-dim exact top-10 with the
    // 16-dim truncated top-10 — the zero-training retriever ensemble,
    // re-ranked to a fused top-5 per query.
    Q("q181_rrf_fusion",
      (s, d) => {
        // persisted (plan census r9): both fused rankers read the same
        // vectors
        val emb = Tables.embeddings(s, d)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val full = Similarity.bruteForceTopK(emb, 20, 10)
        val trunc = Similarity.bruteForceTopK(
          emb.withColumn("embedding", slice(col("embedding"), 1, 16)), 20, 10)
        Similarity.rrfFuse(full, trunc, 60, 5)
      },
      Some(rrfSql)))
}

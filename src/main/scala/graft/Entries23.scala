package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ExtEntries.Q

/** Round-7 batch 2: clamped running balance (recurrence → window algebra),
  * Bloom pre-filtered membership join, Allen interval algebra, systematic
  * sampling, inter-purchase gap stats.
  */
object Entries23 {

  val all: Seq[Q] = Seq(

    // CLAMPED RUNNING INVENTORY per part: returns restock (+qty), sales
    // deplete (−qty), balance floors at 0. The sequential recurrence
    // S_i = max(0, S_{i−1}+Δ) distributes via its closed form over prefix
    // sums (S = P − min(0, running-min P)) — see ops/Running.scala. One
    // key exchange; the oracle replays the same two running frames.
    Q("q212_clamped_inventory",
      (s, d) => graft.ops.Running.clampedBalance(
        Tables.lineitem(s, d).select(col("l_partkey"),
          graft.ops.Relational.epochUs(col("l_shipdate")).as("ts"),
          col("l_orderkey"), col("l_linenumber"),
          when(col("l_returnflag") === "R",
            round(col("l_quantity")).cast("long"))
            .otherwise(-round(col("l_quantity")).cast("long")).as("delta")),
        "l_partkey", "delta", Seq("ts", "l_orderkey", "l_linenumber")),
      Some("""WITH d AS (
             |  SELECT l_partkey, epoch_us(l_shipdate) AS ts, l_orderkey,
             |    l_linenumber,
             |    CASE WHEN l_returnflag = 'R'
             |      THEN CAST(round(l_quantity) AS BIGINT)
             |      ELSE -CAST(round(l_quantity) AS BIGINT) END AS delta
             |  FROM lineitem),
             |w1 AS (
             |  SELECT l_partkey,
             |    sum(delta) OVER (PARTITION BY l_partkey
             |      ORDER BY ts, l_orderkey, l_linenumber
             |      ROWS UNBOUNDED PRECEDING) AS p,
             |    row_number() OVER (PARTITION BY l_partkey
             |      ORDER BY ts, l_orderkey, l_linenumber) AS rn
             |  FROM d),
             |w2 AS (
             |  SELECT l_partkey, rn,
             |    p - least(min(p) OVER (PARTITION BY l_partkey ORDER BY rn
             |      ROWS UNBOUNDED PRECEDING), 0) AS s
             |  FROM w1)
             |SELECT l_partkey, count(*) AS n_lines,
             |  CAST(arg_max(s, rn) AS BIGINT) AS final_balance,
             |  CAST(max(s) AS BIGINT) AS peak_balance,
             |  CAST(sum(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS floor_hits
             |FROM w2 GROUP BY 1""".stripMargin)),

    // BLOOM PRE-FILTERED membership join: which src7 documents share their
    // 40-char boilerplate prefix (by 48-bit hash) with a document from any
    // OTHER source? The 128 KiB broadcast filter rejects novel prefixes
    // before the exact semi-join; no false negatives ⇒ output IDENTICAL to
    // the plain semi-join the oracle runs (ext/Bloom.scala).
    Q("q213_bloom_member",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val probe = docs.filter(col("source") === "src7")
          .select(col("doc_id"),
            graft.ext.Bloom.h48(substring(col("text"), 1, 40)).as("h"))
        val base = docs.filter(col("source") =!= "src7")
          .select(graft.ext.Bloom.h48(substring(col("text"), 1, 40)).as("h"))
        graft.ext.Bloom.memberJoin(probe, base).select(col("doc_id"))
      },
      Some("""SELECT p.doc_id
             |FROM documents p
             |WHERE p.source = 'src7' AND EXISTS (
             |  SELECT 1 FROM documents b
             |  WHERE b.source <> 'src7'
             |    AND ('0x' || substr(md5(substr(b.text, 1, 40)), 1, 12))::BIGINT
             |      = ('0x' || substr(md5(substr(p.text, 1, 40)), 1, 12))::BIGINT)""".stripMargin)),

    // ALLEN INTERVAL ALGEBRA census over each customer's consecutive order
    // fulfillment spans [order date, last ship]: pairs ordered by
    // (start, end, orderkey) — so only the 7 forward relations can occur
    // (inverses are normalized away by the ordering) — classified by the
    // exact 13-relation case split and counted. The temporal-logic
    // complement of the overlap JOIN (q189): same intervals, relation
    // TAXONOMY instead of pair recovery.
    Q("q214_allen_census",
      (s, d) => {
        val spans = Tables.lineitem(s, d)
          .groupBy(col("l_orderkey"))
          .agg(max(graft.ops.Relational.epochUs(col("l_shipdate"))).as("e"))
          .join(Tables.orders(s, d).select(col("o_orderkey"),
            col("o_custkey"),
            graft.ops.Relational.epochUs(col("o_orderdate")).as("s")),
            col("l_orderkey") === col("o_orderkey"))
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("s").asc, col("e").asc, col("o_orderkey").asc)
        spans
          .withColumn("s2", lead(col("s"), 1).over(w))
          .withColumn("e2", lead(col("e"), 1).over(w))
          .filter(col("s2").isNotNull)
          .withColumn("rel",
            when(col("s") === col("s2") && col("e") === col("e2"), "equals")
              .when(col("s") === col("s2"), "starts")
              .when(col("e") < col("s2"), "precedes")
              .when(col("e") === col("s2"), "meets")
              .when(col("e") < col("e2"), "overlaps")
              .when(col("e") === col("e2"), "finished_by")
              .otherwise("contains"))
          .groupBy(col("rel")).agg(count(lit(1)).as("n_pairs"))
      },
      Some("""WITH spans AS (
             |  SELECT o.o_custkey, o.o_orderkey,
             |    epoch_us(o.o_orderdate) AS s, le.e
             |  FROM orders o JOIN (
             |    SELECT l_orderkey, max(epoch_us(l_shipdate)) AS e
             |    FROM lineitem GROUP BY 1) le
             |    ON le.l_orderkey = o.o_orderkey),
             |pairs AS (
             |  SELECT s, e,
             |    lead(s) OVER w AS s2, lead(e) OVER w AS e2
             |  FROM spans
             |  WINDOW w AS (PARTITION BY o_custkey ORDER BY s, e, o_orderkey)),
             |rel AS (
             |  SELECT CASE
             |    WHEN s = s2 AND e = e2 THEN 'equals'
             |    WHEN s = s2 THEN 'starts'
             |    WHEN e < s2 THEN 'precedes'
             |    WHEN e = s2 THEN 'meets'
             |    WHEN e < e2 THEN 'overlaps'
             |    WHEN e = e2 THEN 'finished_by'
             |    ELSE 'contains' END AS rel
             |  FROM pairs WHERE s2 IS NOT NULL)
             |SELECT rel, count(*) AS n_pairs FROM rel GROUP BY 1""".stripMargin)),

    // SYSTEMATIC SAMPLE per source: every 20th document (offset 7) in the
    // pinned pseudo-random order md5(doc_id) — the equal-spacing design
    // completing the sampling family (Bernoulli-hash q54, stratified q55,
    // weighted q129, largest-remainder q186, negative q185). Partitioned
    // windows — no global row_number — so it shards by stratum at scale.
    Q("q215_systematic_sample",
      (s, d) => {
        val w = Window.partitionBy(col("source"))
          .orderBy(md5(col("doc_id").cast("string")).asc)
        Tables.documents(s, d)
          .select(col("doc_id"), col("source"))
          .withColumn("rn", row_number().over(w).cast("long"))
          .filter(col("rn") % 20 === 7)
          .select(col("doc_id"), col("source"), col("rn"))
      },
      Some("""SELECT doc_id, source, rn FROM (
             |  SELECT doc_id, source,
             |    row_number() OVER (PARTITION BY source
             |      ORDER BY md5(CAST(doc_id AS VARCHAR))) AS rn
             |  FROM documents)
             |WHERE rn % 20 = 7""".stripMargin)),

    // INTER-PURCHASE GAP profile per user: count, min, max, and the exact
    // lower-median inter-arrival gap — the recency/frequency texture
    // beneath the RFM segmentation (q139), computed from two window passes
    // on the same user partition.
    Q("q216_purchase_gaps",
      (s, d) => {
        val pur = Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id"), col("ts_us"))
        val wu = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_us").asc, col("event_id").asc)
        val gaps = pur
          .withColumn("prev", lag(col("ts_us"), 1).over(wu))
          .filter(col("prev").isNotNull)
          .withColumn("gap", col("ts_us") - col("prev"))
        val wg = Window.partitionBy(col("user_id"))
          .orderBy(col("gap").asc, col("event_id").asc)
        gaps
          .withColumn("rn", row_number().over(wg).cast("long"))
          .withColumn("cnt", count(lit(1)).over(
            Window.partitionBy(col("user_id"))))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_gaps"),
            min(col("gap")).as("min_gap_us"),
            max(col("gap")).as("max_gap_us"),
            max(when(col("rn") === expr("(cnt + 1) DIV 2"), col("gap")))
              .as("median_gap_us"))
      },
      Some("""WITH pur AS (
             |  SELECT user_id, event_id, epoch_us(ts) AS ts_us
             |  FROM events WHERE event_type = 'purchase'),
             |gaps AS (
             |  SELECT user_id, event_id,
             |    ts_us - lag(ts_us) OVER (PARTITION BY user_id
             |      ORDER BY ts_us, event_id) AS gap
             |  FROM pur),
             |ranked AS (
             |  SELECT user_id, gap,
             |    row_number() OVER (PARTITION BY user_id
             |      ORDER BY gap, event_id) AS rn,
             |    count(*) OVER (PARTITION BY user_id) AS cnt
             |  FROM gaps WHERE gap IS NOT NULL)
             |SELECT user_id, count(*) AS n_gaps,
             |  CAST(min(gap) AS BIGINT) AS min_gap_us,
             |  CAST(max(gap) AS BIGINT) AS max_gap_us,
             |  CAST(max(CASE WHEN rn = (cnt + 1) // 2 THEN gap END)
             |    AS BIGINT) AS median_gap_us
             |FROM ranked GROUP BY 1""".stripMargin)))
}

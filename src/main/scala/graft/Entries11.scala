package graft

import org.apache.spark.sql.functions._
import graft.ops.{Relational, Snapshots}
import graft.ext.Eval
import graft.functions.GraftFunctions
import graft.ExtEntries.Q

/** Round-6 batch 1: nearest-tolerance temporal join, Count-Min frequency
  * sketch algebra, the MinHash-LSH banding recall gate, and survivorship
  * (golden-record) merge.
  */
object Entries11 {

  private val HourUs = 3600L * 1000000L

  val all: Seq[Q] = Seq(

    // NEAREST-within-tolerance as-of join (±6 h): each purchase matched to
    // the closest view reading by |Δts|, backward winning ties — the
    // sensor/price-alignment sibling of the backward (q39) and forward
    // (q118) as-of joins, built from both (two key-shuffles, no range
    // explosion). Oracle = independent LATERAL argmin formulation.
    Q("q175_nearest_join",
      (s, d) => {
        val ev = Tables.events(s, d)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts_us"), col("event_id"))
        val views = ev.filter(col("event_type") === "view")
          .groupBy(col("user_id"), col("ts_us"))
          .agg(max(col("value")).as("r_value"))
        Snapshots.nearestJoin(purchases, views, "user_id", "ts_us",
          "ts_us", 6L * HourUs, Seq("r_value"))
      },
      Some(s"""WITH p AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us
              |          FROM events WHERE event_type = 'purchase'),
              |v AS (SELECT user_id, epoch_us(ts) AS ts_us, max(value) AS r_value
              |      FROM events WHERE event_type = 'view' GROUP BY 1, 2)
              |SELECT p.user_id, p.ts_us, p.event_id,
              |  n.r_value, n.r_ts, n.delta_us
              |FROM p LEFT JOIN LATERAL (
              |  SELECT v.r_value, v.ts_us AS r_ts,
              |    abs(v.ts_us - p.ts_us) AS delta_us
              |  FROM v
              |  WHERE v.user_id = p.user_id
              |    AND abs(v.ts_us - p.ts_us) <= ${6L * HourUs}
              |  ORDER BY abs(v.ts_us - p.ts_us), v.ts_us LIMIT 1
              |) n ON true""".stripMargin)),

    // Count-Min sketch: ONE 4×1024 mergeable counter matrix over every
    // lineitem part key (TypedImperativeAggregate, map-side partial
    // combine), probed declaratively for the low-key sample — estimate ≥
    // exact always; the oracle replays the identical md5-prefix
    // double-hashing integer arithmetic, so even the collision error
    // hash-matches.
    Q("q176_cms_estimate",
      (s, d) => {
        val keys = Tables.lineitem(s, d)
          .select(col("l_partkey"), col("l_partkey").cast("string").as("k"))
        val sketch = keys.agg(GraftFunctions.cmsSketch(col("k")).as("sk"))
        val probes = keys.filter(col("l_partkey") <= 30)
          .groupBy(col("l_partkey"), col("k"))
          .agg(count(lit(1)).as("exact_cnt"))
        probes.join(broadcast(sketch))
          .select(col("l_partkey").cast("long").as("l_partkey"),
            col("exact_cnt"),
            GraftFunctions.cmsEstimate(col("sk"), col("k")).as("cms_est"))
      },
      Some("""WITH keys AS (
             |  SELECT l_partkey, CAST(l_partkey AS VARCHAR) AS k
             |  FROM lineitem),
             |hashed AS (
             |  SELECT ('0x' || substr(md5(k), 1, 12))::BIGINT AS hv FROM keys),
             |cells AS (
             |  SELECT t.j,
             |    ((hv % 16777216) + t.j * ((hv // 16777216) | 1)) % 1024 AS bucket,
             |    count(*) AS c
             |  FROM hashed, (SELECT unnest(range(0, 4)) AS j) t
             |  GROUP BY 1, 2),
             |probes AS (
             |  SELECT l_partkey, k, count(*) AS exact_cnt
             |  FROM keys WHERE l_partkey <= 30 GROUP BY 1, 2),
             |ph AS (
             |  SELECT l_partkey, exact_cnt,
             |    ('0x' || substr(md5(k), 1, 12))::BIGINT AS hv
             |  FROM probes),
             |pj AS (
             |  SELECT l_partkey, exact_cnt, t.j,
             |    ((hv % 16777216) + t.j * ((hv // 16777216) | 1)) % 1024 AS bucket
             |  FROM ph, (SELECT unnest(range(0, 4)) AS j) t)
             |SELECT CAST(pj.l_partkey AS BIGINT) AS l_partkey,
             |  pj.exact_cnt, min(c.c) AS cms_est
             |FROM pj JOIN cells c ON pj.j = c.j AND pj.bucket = c.bucket
             |GROUP BY 1, 2""".stripMargin)),

    // MinHash-LSH banding S-curve: ground truth = EVERY co-shingle pair
    // with its exact Jaccard, candidates = the banding stage ALONE, hit
    // rate grouped per similarity decile — the measured curve the band
    // geometry (4 bands × 4 rows) delivers on THIS corpus: ~0 firing rate
    // in the low deciles (the quadratic work LSH avoids) and full recall
    // in the near-dup decile. Numbers instead of the textbook formula.
    Q("q177_lsh_recall",
      (s, d) => Eval.lshRecall(Tables.documents(s, d), 3, 0.0),
      Some(s"""WITH ${ExtEntries.shinglesCte}, ${ExtEntries.shingleIdCte},
              |${ExtEntries.minhashLongCte}, ${ExtEntries.shingleCountCte},
              |${ExtEntries.shingleInterCte},
              |truth AS (
              |  SELECT d1, d2,
              |    CAST(ix AS DOUBLE) / (ca.n + cb.n - ix) AS jaccard
              |  FROM shint
              |  JOIN shcnt ca ON d1 = ca.doc_id
              |  JOIN shcnt cb ON d2 = cb.doc_id
              |  WHERE CAST(ix AS DOUBLE) / (ca.n + cb.n - ix) >= 0.0),
              |wide AS (
              |  SELECT doc_id,
              |    ${(0 until 16).map(j => s"min(CASE WHEN j = $j THEN minh END) AS h$j").mkString(", ")}
              |  FROM sigs GROUP BY doc_id),
              |bands AS (
              |  ${(0 until 4).map(b =>
                   s"SELECT doc_id, $b AS band, " +
                   (0 until 4).map(r => s"CAST(h${b * 4 + r} AS VARCHAR)").mkString(" || ',' || ") +
                   " AS sig FROM wide").mkString(" UNION ALL ")}),
              |cands AS (
              |  SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
              |  FROM bands x JOIN bands y
              |    ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id)
              |SELECT CAST(floor(t.jaccard * 10) AS BIGINT) AS bucket,
              |  count(*) AS n_truth,
              |  CAST(sum(CASE WHEN c.d1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
              |  CAST(sum(CASE WHEN c.d1 IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
              |    / count(*) AS recall
              |FROM truth t LEFT JOIN cands c ON t.d1 = c.d1 AND t.d2 = c.d2
              |GROUP BY 1""".stripMargin)),

    // Survivorship / golden-record merge: per-entity profile assembled by
    // deterministic per-field rules (recency argmax skipping nulls, modal
    // with lexicographic ties, plain min/max) — the step that turns
    // resolved entity clusters into ONE row each.
    Q("q178_golden_record",
      (s, d) => Relational.goldenRecord(Tables.events(s, d)),
      Some("""WITH ev AS (
             |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
             |    props, value
             |  FROM events),
             |aggs AS (
             |  SELECT user_id, min(ts_us) AS first_seen_us,
             |    max(ts_us) AS last_seen_us, count(*) AS n_events,
             |    max(CAST(round(value * 100) AS BIGINT)) AS max_value_cents
             |  FROM ev GROUP BY 1),
             |sku_rn AS (
             |  SELECT user_id, props,
             |    row_number() OVER (PARTITION BY user_id
             |      ORDER BY (props IS NOT NULL) DESC, ts_us DESC,
             |        event_id DESC) AS rn
             |  FROM ev),
             |last_sku AS (
             |  SELECT user_id, props AS last_sku FROM sku_rn WHERE rn = 1),
             |tc AS (
             |  SELECT user_id, event_type, count(*) AS cnt
             |  FROM ev GROUP BY 1, 2),
             |mode_rn AS (
             |  SELECT user_id, event_type,
             |    row_number() OVER (PARTITION BY user_id
             |      ORDER BY cnt DESC, event_type ASC) AS rn
             |  FROM tc),
             |top_type AS (
             |  SELECT user_id, event_type AS top_event_type
             |  FROM mode_rn WHERE rn = 1)
             |SELECT a.user_id, a.first_seen_us, a.last_seen_us, a.n_events,
             |  a.max_value_cents, s.last_sku, t.top_event_type
             |FROM aggs a
             |JOIN last_sku s ON a.user_id = s.user_id
             |JOIN top_type t ON a.user_id = t.user_id""".stripMargin)))
}

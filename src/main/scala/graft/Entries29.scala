package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ExtEntries.Q

/** Round-7 batch 8: largest-remainder multi-touch attribution, strict
  * (error-excluded) funnel, kNN leave-one-out accuracy gate.
  */
object Entries29 {

  val all: Seq[Q] = Seq(

    // MULTI-TOUCH LINEAR ATTRIBUTION, integer-exact: every view/click in
    // the 24 h before a purchase shares the conversion's 1000‰ credit by
    // the Hamilton largest-remainder rule (1000 DIV n each, the 1000 % n
    // leftover per-mille to the EARLIEST touches) — credits sum to
    // exactly 1000 per conversion, no 1/n float anywhere (the q186
    // allocation discipline applied to attribution; first/last-touch q149
    // is the degenerate case). Channel = props.k mod 5. The touch join is
    // a user-key equi join with a row-local range filter — per-user
    // fan-out bounded; the as-of/binned forms are the hot-user scale path.
    Q("q234_linear_attribution",
      (s, d) => {
        val ev = Tables.events(s, d)
        val conv = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("p_id"),
            col("ts_us").as("p_ts"))
        val touches = ev.filter(col("event_type").isin("view", "click"))
          .select(col("user_id"),
            (get_json_object(col("props"), "$.k").cast("long") % 5)
              .as("channel"),
            col("ts_us").as("t_ts"), col("event_id").as("t_id"))
        val joined = conv.join(touches, Seq("user_id"))
          .filter(col("t_ts") > col("p_ts") - 86400000000L &&
            col("t_ts") < col("p_ts"))
        val w = Window.partitionBy(col("p_id"))
        val ranked = joined
          .withColumn("rn", row_number().over(
            w.orderBy(col("t_ts").asc, col("t_id").asc)).cast("long"))
          .withColumn("n", count(lit(1)).over(w))
        ranked
          .withColumn("credit_pm", expr("1000 DIV n") +
            when(col("rn") <= expr("1000 % n"), 1L).otherwise(0L))
          .groupBy(col("channel"))
          .agg(sum(col("credit_pm")).as("credit_pm"),
            count(lit(1)).as("n_touches"),
            countDistinct(col("p_id")).as("n_conversions"))
      },
      Some("""WITH conv AS (
             |  SELECT user_id, event_id AS p_id, epoch_us(ts) AS p_ts
             |  FROM events WHERE event_type = 'purchase'),
             |touches AS (
             |  SELECT user_id,
             |    CAST(json_extract_string(props, '$.k') AS BIGINT) % 5
             |      AS channel,
             |    epoch_us(ts) AS t_ts, event_id AS t_id
             |  FROM events WHERE event_type IN ('view', 'click')),
             |ranked AS (
             |  SELECT c.p_id, t.channel,
             |    row_number() OVER (PARTITION BY c.p_id
             |      ORDER BY t.t_ts, t.t_id) AS rn,
             |    count(*) OVER (PARTITION BY c.p_id) AS n
             |  FROM conv c JOIN touches t ON c.user_id = t.user_id
             |    AND t.t_ts > c.p_ts - 86400000000
             |    AND t.t_ts < c.p_ts)
             |SELECT channel,
             |  CAST(sum(1000 // n + CASE WHEN rn <= 1000 % n THEN 1
             |    ELSE 0 END) AS BIGINT) AS credit_pm,
             |  count(*) AS n_touches,
             |  CAST(count(DISTINCT p_id) AS BIGINT) AS n_conversions
             |FROM ranked GROUP BY 1""".stripMargin)),

    // STRICT FUNNEL: deepest view→click→purchase prefix within 24 h of
    // the view, where an 'error' event BETWEEN consecutive stages voids
    // the chain (the windowFunnel 'strict' mode q193 lacks). Four forward
    // as-of joins — clicks from t1, purchases from t2, errors from t1+1
    // and t2+1 (strictly-after semantics on integer µs) — each one key
    // shuffle; per-user best is a partial-aggregable max. Oracle runs the
    // literal correlated min-subqueries + NOT EXISTS.
    Q("q235_strict_funnel",
      (s, d) => {
        import graft.ops.Snapshots.asOfJoinForward
        val ev = Tables.events(s, d)
        def stage(t: String) = ev.filter(col("event_type") === t)
          .select(col("user_id"), col("ts_us"), col("ts_us").as(s"${t}_ts"),
            col("event_id"))
        val starts = ev.filter(col("event_type") === "view")
          .select(col("user_id"), col("ts_us"), col("ts_us").as("t1"))
        val withT2 = asOfJoinForward(starts, stage("click"), "user_id",
          "ts_us", "event_id", Seq("click_ts"))
          .withColumnRenamed("click_ts", "t2")
        val withE1 = asOfJoinForward(
          withT2.withColumn("ts_us", col("t1") + 1), stage("error"),
          "user_id", "ts_us", "event_id", Seq("error_ts"))
          .withColumnRenamed("error_ts", "e1")
        val withT3 = asOfJoinForward(
          withE1.withColumn("ts_us", coalesce(col("t2"), lit(Long.MaxValue))),
          stage("purchase"), "user_id", "ts_us", "event_id",
          Seq("purchase_ts"))
          .withColumnRenamed("purchase_ts", "t3")
        val withE2 = asOfJoinForward(
          withT3.withColumn("ts_us",
            coalesce(col("t2") + 1, lit(Long.MaxValue))),
          stage("error"), "user_id", "ts_us", "event_id", Seq("error_ts"))
          .withColumnRenamed("error_ts", "e2")
        val staged = withE2
          .withColumn("ok2", col("t2").isNotNull &&
            col("t2") <= col("t1") + 86400000000L &&
            !(col("e1").isNotNull && col("e1") <= col("t2")))
          .withColumn("ok3", col("ok2") && col("t3").isNotNull &&
            col("t3") <= col("t1") + 86400000000L &&
            !(col("e2").isNotNull && col("e2") <= col("t3")))
          .withColumn("stage",
            when(col("ok3"), 3L).when(col("ok2"), 2L).otherwise(1L))
        staged.groupBy(col("user_id"))
          .agg(max(col("stage")).as("best_stage"))
          .groupBy(col("best_stage"))
          .agg(count(lit(1)).as("n_users"))
      },
      Some("""WITH v AS (
             |  SELECT user_id, epoch_us(ts) AS t1 FROM events
             |  WHERE event_type = 'view'),
             |st AS (
             |  SELECT user_id, t1,
             |    (SELECT min(epoch_us(c.ts)) FROM events c
             |      WHERE c.event_type = 'click' AND c.user_id = v.user_id
             |        AND epoch_us(c.ts) >= v.t1) AS t2
             |  FROM v),
             |st2 AS (
             |  SELECT user_id, t1, t2,
             |    (SELECT min(epoch_us(p.ts)) FROM events p
             |      WHERE p.event_type = 'purchase' AND p.user_id = st.user_id
             |        AND epoch_us(p.ts) >= st.t2) AS t3,
             |    (SELECT min(epoch_us(e.ts)) FROM events e
             |      WHERE e.event_type = 'error' AND e.user_id = st.user_id
             |        AND epoch_us(e.ts) > st.t1) AS e1,
             |    (SELECT min(epoch_us(e.ts)) FROM events e
             |      WHERE e.event_type = 'error' AND e.user_id = st.user_id
             |        AND epoch_us(e.ts) > st.t2) AS e2
             |  FROM st),
             |staged AS (
             |  SELECT user_id,
             |    CASE WHEN ok2 AND t3 IS NOT NULL
             |           AND t3 <= t1 + 86400000000
             |           AND NOT (e2 IS NOT NULL AND e2 <= t3) THEN 3
             |         WHEN ok2 THEN 2 ELSE 1 END AS stage
             |  FROM (
             |    SELECT *, t2 IS NOT NULL AND t2 <= t1 + 86400000000
             |      AND NOT (e1 IS NOT NULL AND e1 <= t2) AS ok2
             |    FROM st2)),
             |best AS (
             |  SELECT user_id, max(stage) AS best_stage
             |  FROM staged GROUP BY 1)
             |SELECT best_stage, count(*) AS n_users
             |FROM best GROUP BY 1""".stripMargin)),

    // kNN LEAVE-ONE-OUT ACCURACY: every one of the first 500 vectors
    // classified by the majority label of its 5 cosine-nearest neighbors
    // (ties → smaller label; neighbor rank ties → smaller vec_id), scored
    // against its own label, reported per true label. The measured
    // "do embeddings predict the label" gate beside recall@k (q168) —
    // brute-force here; the IVF/PQ indexes are the scale path and evaluate
    // through the same operator.
    Q("q236_knn_accuracy",
      (s, d) => {
        import graft.ext.TopK
        val e = Tables.embeddings(s, d)
        val votes = TopK.exact(TopK.allPairs(
            TopK.vectors(e.filter(col("vec_id") < 500), "q",
              col("label").as("q_label")),
            TopK.vectors(e, "n", col("label").as("n_label"))), 5)
          .groupBy(col("q_id"), col("q_label"), col("n_label"))
          .agg(count(lit(1)).as("v"))
        TopK.rank(votes, Seq("q_id"), "v", "n_label", 1)
          .groupBy(col("q_label").cast("long").as("label"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("n_label") === col("q_label"), 1L).otherwise(0L))
              .as("n_correct"))
      },
      Some(s"""WITH q AS (
              |  SELECT vec_id AS q_id, embedding AS q_emb, label AS q_label
              |  FROM embeddings WHERE vec_id < 500),
              |c AS (
              |  SELECT vec_id AS n_id, embedding AS n_emb, label AS n_label
              |  FROM embeddings),
              |scored AS (
              |  SELECT q.q_id, q.q_label, c.n_id, c.n_label,
              |    ${ExtEntries.cosSql("q.q_emb", "c.n_emb")} AS cos
              |  FROM c JOIN q ON q.q_id <> c.n_id),
              |top5 AS (
              |  SELECT q_id, q_label, n_label FROM (
              |    SELECT *, row_number() OVER (PARTITION BY q_id
              |      ORDER BY cos DESC, n_id) AS rk
              |    FROM scored)
              |  WHERE rk <= 5),
              |votes AS (
              |  SELECT q_id, q_label, n_label, count(*) AS v
              |  FROM top5 GROUP BY 1, 2, 3),
              |pred AS (
              |  SELECT q_id, q_label, n_label FROM (
              |    SELECT *, row_number() OVER (PARTITION BY q_id
              |      ORDER BY v DESC, n_label) AS vr
              |    FROM votes)
              |  WHERE vr = 1)
              |SELECT CAST(q_label AS BIGINT) AS label, count(*) AS n,
              |  CAST(sum(CASE WHEN n_label = q_label THEN 1 ELSE 0 END)
              |    AS BIGINT) AS n_correct
              |FROM pred GROUP BY 1""".stripMargin)))
}

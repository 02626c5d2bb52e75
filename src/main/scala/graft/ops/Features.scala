package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** EP2 — the reference's feature view (SURVEY.md §2.4, A1–A7), rebuilt as a
  * single declarative pass of event-time range-frame window aggregates.
  *
  * Reference semantics (reference: jobs/build_feature_views.py:19-72):
  * per customer, per event row, rolling windows `[t − w, t]` INCLUSIVE on
  * both ends (pandas `rolling(w, closed="both")`, build_feature_views.py:35),
  * five feature families × {1d, 7d, 30d}:
  *   txn_count  = Σ non-cancel flag                  (A1, :41)
  *   spend      = Σ amount; cancel rows contribute 0 via the O7 conditional (A2, :42)
  *   unique_skus= exact distinct count of sku        (A3, :45-47)
  *   avg_basket = spend_w / max(txn_count_w, 1)      (A4, :49-50 — guard, NOT null)
  *   cancel_rate= clip(cancels_w/max(cancels_w+txn_w,1), 0, 1) (A5, :52-54)
  * plus per-customer profile features:
  *   first_ts   = min event time                     (A6, :57)
  *   tenure_days= floor of elapsed 86400s periods — NOT calendar datediff (O14, :57-58)
  *
  * Where the reference loops over customers in Python (build_feature_views.py:24),
  * we declare ONE window-spec family; Spark executes it as a single
  * hash-partition exchange on the customer key + one in-partition sort, with
  * all same-spec window functions fused into shared WindowExec nodes —
  * exactly the distribution the per-customer loop implies, minus the loop.
  *
  * Determinism/oracle notes:
  *  - All time arithmetic is integer epoch-microseconds (`ts_us` BIGINT), so
  *    DuckDB (`epoch_us(ts)` + RANGE frames over BIGINT) matches bit-exactly.
  *  - Money is integerized to cents (BIGINT) before summing: floating-point
  *    summation ORDER differs between engines (sliding-frame re-aggregation vs
  *    segment trees), so double sums can drift in the last ulp; integer sums
  *    cannot. Ratios divide two bit-identical values → bit-identical doubles.
  *
  * Scale posture (100 TB): the only shuffle is the window exchange on
  * `user_id`; AQE skew-split handles hot customers. `unique_skus` uses
  * `collect_set` over the frame — exact, fine while per-customer-per-30d
  * cardinality is bounded (here ≤ a few hundred); for unbounded cardinality
  * swap in `approx_count_distinct` over the same frame (SURVEY.md §4).
  */
object Features {
  val DayUs: Long = 86400L * 1000000L
  /** window label → width in microseconds; mirrors WINDOWS = ["1D","7D","30D"]
    * (reference: jobs/build_feature_views.py:7) */
  val Windows: Seq[(String, Long)] =
    Seq("1d" -> DayUs, "7d" -> 7 * DayUs, "30d" -> 30 * DayUs)

  /** Normalize raw events into the bronze-like event frame the feature view
    * consumes. Maps fixture columns onto reference bronze semantics
    * (FIXTURES.md §A): user_id→customer_id, ts→event time,
    * event_type='error'→is_cancel, value→amount, props→sku. */
  def eventFrame(events: DataFrame): DataFrame =
    events.select(
      col("user_id"), col("event_id"), col("ts_us"),
      col("event_type"), col("props").as("sku"),
      (col("event_type") === lit("error")).as("is_cancel"),
      round(coalesce(col("value"), lit(0.0)) * 100).cast("long").as("value_cents"))
      .withColumn("txn", (!col("is_cancel")).cast("long"))
      .withColumn("cancel", col("is_cancel").cast("long"))
      .withColumn("spend_cents",
        when(!col("is_cancel"), col("value_cents")).otherwise(lit(0L)))

  /** The full 17-column feature view; one output row per input event row
    * (reference grain — duplicate (customer, t) rows are preserved, SURVEY §7.6). */
  def featureView(events: DataFrame): DataFrame = {
    val base = eventFrame(events)
    val byUser = Window.partitionBy(col("user_id"))
    def frame(us: Long) =
      Window.partitionBy(col("user_id")).orderBy(col("ts_us")).rangeBetween(-us, 0)
    // Sliding integer sums as CUMSUM DIFFERENCES: Spark re-aggregates a
    // sliding range frame from scratch for every output row (no retraction),
    // i.e. O(rows × frame-width) per partition — at 100 TB a hot customer's
    // 30 d frame is thousands of events. A growing frame
    // [unboundedPreceding, offset] is evaluated INCREMENTALLY, so
    //   Σ[t−w, t] = Σ(−∞, t] − Σ(−∞, t−w−1]
    // turns each sliding sum into two O(n) passes. Exact because the
    // operands are INTEGERS (cents/flags — no FP cancellation), and the
    // inclusive-both-ends frame maps to the integer-micros offset −(w+1).
    // The distinct counts below are not invertible and keep the true frame.
    val cum = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
      .rangeBetween(Window.unboundedPreceding, 0)
    def cumBefore(us: Long) =
      Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
        .rangeBetween(Window.unboundedPreceding, -(us + 1))
    def slidingSum(c: Column, us: Long): Column =
      sum(c).over(cum) - coalesce(sum(c).over(cumBefore(us)), lit(0L))

    // ONE window expression per DISTINCT aggregate (r13, optimization
    // guide §1.2 "don't compute things you throw away"): WindowExec does
    // not common-subexpression-eliminate window functions, so inlining
    // slidingSum per output column made the fused Window node evaluate 63
    // aggregates where only 16 are distinct — sum(txn) over the growing
    // frame ran SIX times per label (measured in the formatted plan,
    // plans/r13/q12_feature_view_before.txt: _we0/_we7/_we9/_we15/_we19/
    // _we21 identical). Step 1 computes the 3 cumulative sums, the 9
    // before-window sums, the 3 exact distinct counts and first_ts once
    // each; step 2 derives all 17 output columns by plain arithmetic over
    // the named results — the SAME expressions on the SAME integer
    // operands, so every double is bit-identical to the inlined form.
    val cumCols: Seq[Column] =
      Seq(sum(col("txn")).over(cum).as("__ct"),
        sum(col("spend_cents")).over(cum).as("__cs"),
        sum(col("cancel")).over(cum).as("__cc")) ++
      Windows.flatMap { case (lbl, us) =>
        Seq(
          coalesce(sum(col("txn")).over(cumBefore(us)), lit(0L))
            .as(s"__bt_$lbl"),
          coalesce(sum(col("spend_cents")).over(cumBefore(us)), lit(0L))
            .as(s"__bs_$lbl"),
          coalesce(sum(col("cancel")).over(cumBefore(us)), lit(0L))
            .as(s"__bc_$lbl"),
          // imperative exact-distinct aggregate: counts without
          // materializing a per-row set array the way size(collect_set())
          // would; not invertible, keeps the true sliding frame
          graft.functions.GraftFunctions.distinctCountExact(col("sku"))
            .over(frame(us)).as(s"unique_skus_$lbl"))
      } :+ min(col("ts_us")).over(byUser).as("__mints")

    val withCums = base.select(
      Seq(col("user_id"), col("event_id"), col("ts_us")) ++ cumCols: _*)

    val featCols: Seq[Column] = Windows.flatMap { case (lbl, _) =>
      val txnCnt = col("__ct") - col(s"__bt_$lbl")
      val cancels = col("__cc") - col(s"__bc_$lbl")
      val spendW = (col("__cs") - col(s"__bs_$lbl")) / lit(100.0)
      Seq(
        txnCnt.as(s"txn_count_$lbl"),
        spendW.as(s"spend_$lbl"),
        col(s"unique_skus_$lbl"),
        // No round(): numerator/denominator are bit-identical integers in
        // both engines, so the double quotient is bit-identical — rounding
        // would only INTRODUCE divergence on exact .5 decimal boundaries
        // (Spark rounds the shortest decimal repr, DuckDB the binary value).
        (spendW / when(txnCnt > 0, txnCnt).otherwise(lit(1L)))
          .as(s"avg_basket_value_$lbl"),
        least(greatest(cancels / when(cancels + txnCnt > 0, cancels + txnCnt)
          .otherwise(lit(1L)), lit(0.0)), lit(1.0))
          .as(s"cancel_rate_$lbl"))
    }

    withCums.select(
      Seq(col("user_id"), col("event_id"), col("ts_us")) ++ featCols ++ Seq(
        floor((col("ts_us") - col("__mints")) / lit(DayUs.toDouble))
          .cast("long").as("tenure_days")): _*)
  }
}

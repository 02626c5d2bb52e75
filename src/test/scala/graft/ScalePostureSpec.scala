package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FormattedMode

/** Proof points for the 100 TB posture claims (README / SURVEY §4): bucketed
  * co-located joins eliminate the join exchange; date-partitioned gold reads
  * prune partitions at the scan. */
class ScalePostureSpec extends SparkSpec {

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(FormattedMode)

  /** FormattedMode lists each operator once in the detail section as
    * "(n) Exchange" — count those, not tree-drawing duplicates. */
  private def countExchanges(plan: String): Int =
    plan.linesIterator.count(_.matches("""\(\d+\) Exchange.*"""))

  test("salting measurably balances a 95%-hot key at 2M rows") {
    // The Skew scaladoc claims "no single reducer ever holds a hot key's
    // full distinct set" — measure it, don't assume it, at a skew larger
    // than any fixture: 2M rows, 95% of them on one key, all values
    // distinct. The balance property IS the (key, salt) grouping: the hot
    // key must spread evenly over all 16 salts, and the salted aggregate
    // must still equal the plain one.
    val salts = 16
    val df = spark.range(2000000L).select(
      when(col("id") % 20 =!= 0L, lit(0L)).otherwise(col("id")).as("k"),
      col("id").as("v"))
    val hotGroups = df.filter(col("k") === 0L)
      .withColumn("__salt", pmod(hash(col("v")), lit(salts)))
      .groupBy(col("__salt")).count()
      .collect().map(_.getAs[Long]("count"))
    assert(hotGroups.length === salts,
      s"hot key spread over ${hotGroups.length} salts, expected $salts")
    val (mx, mn) = (hotGroups.max, hotGroups.min)
    assert(mx.toDouble / mn < 1.1,
      s"salt imbalance on the hot key: max=$mx min=$mn (uniform hash " +
        "should land within 10% at this size)")
    // and the two-phase result is the exact distinct count
    val salted = graft.ops.Skew.saltedDistinctCount(df, "k", "v", salts)
      .filter(col("k") === 0L).head().getAs[Long]("distinct_cnt")
    val plain = df.filter(col("k") === 0L)
      .agg(countDistinct(col("v"))).head().getLong(0)
    assert(salted === plain)
  }

  test("bucketed tables join without a shuffle exchange") {
    val spark0 = spark
    import spark0.implicits._
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val ev = Tables.events(spark, sf)
        .select($"user_id", $"event_id", $"ts_us", $"value")
      ev.write.mode("overwrite")
        .bucketBy(8, "user_id").sortBy("user_id")
        .saveAsTable("ev_bucketed_a")
      ev.groupBy($"user_id").agg(count(lit(1)).as("n"))
        .write.mode("overwrite")
        .bucketBy(8, "user_id").sortBy("user_id")
        .saveAsTable("ev_bucketed_b")
      val joined = spark.table("ev_bucketed_a")
        .join(spark.table("ev_bucketed_b"), "user_id")
      val plan = planOf(joined)
      // co-located: SortMergeJoin directly over the bucketed scans — the
      // only acceptable Exchange would be none at all
      assert(plan.contains("SortMergeJoin"), plan.take(500))
      assert(!plan.contains("Exchange"), "bucketed join must not shuffle:\n" +
        plan.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
      assert(joined.count() == Tables.events(spark, sf).count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS ev_bucketed_a")
      spark.sql("DROP TABLE IF EXISTS ev_bucketed_b")
    }
  }

  test("date-partitioned gold read prunes partitions at the scan") {
    val dir = java.nio.file.Files.createTempDirectory("gold_prune").toString
    val gold = graft.store.FeatureStore.buildGold(spark, sf)
    graft.store.FeatureStore.writeGold(gold, dir)
    val oneDay = spark.read.parquet(dir)
      .filter(col("date") === lit(java.sql.Date.valueOf("2024-01-05")))
    val plan = planOf(oneDay)
    assert(plan.contains("PartitionFilters"), plan.take(800))
    assert(plan.linesIterator.exists(l =>
      l.contains("PartitionFilters") && l.contains("date")),
      "date filter must reach PartitionFilters")
    // and the pruned read touches far fewer rows than the full table
    assert(oneDay.count() < gold.count() / 5)
  }

  test("hashSplit is a pure projection: zero exchanges") {
    val plan = planOf(graft.ext.TrainPrep.hashSplit(
      Tables.customer(spark, sf), "c_custkey"))
    assert(!plan.contains("Exchange"),
      "hash split must not shuffle:\n" + plan.take(600))
  }

  test("group top-k plans a WindowGroupLimit below the shuffle") {
    // Spark's InsertWindowGroupLimit turns rank()<=k filters into a
    // per-partition top-k pushed below the exchange — each mapper emits at
    // most k rows per group instead of its whole partition. This is the
    // plan property that makes q56 viable at 100 TB.
    val plan = planOf(graft.ext.TopK.rank(
      Tables.orders(spark, sf).select(col("o_custkey"), col("o_orderkey"),
        col("o_totalprice")),
      Seq("o_custkey"), "o_totalprice", "o_orderkey", 3))
    assert(plan.contains("WindowGroupLimit"),
      "expected WindowGroupLimit in:\n" +
        plan.linesIterator.take(30).mkString("\n"))
    // and the limit must appear on BOTH sides of the exchange (partial on
    // the map side, final after) — FormattedMode's detail section lists one
    // "(n) WindowGroupLimit" per operator instance
    assert(plan.linesIterator
      .count(_.matches("""\(\d+\) WindowGroupLimit.*""")) == 2, plan.take(900))
  }

  test("coalesceIntervals is one shuffle end-to-end") {
    // the final groupBy(key, grp) must NOT re-shuffle: HashPartitioning(key)
    // from the window satisfies ClusteredDistribution((key, grp)), so
    // EnsureRequirements reuses the exchange and the whole sweep is one
    // shuffle + one sort
    val plan = planOf(graft.ops.Relational.coalesceIntervals(
      Tables.events(spark, sf).select(col("user_id"),
        col("ts_us").as("s"), (col("ts_us") + 1000L).as("e"), col("event_id")),
      "user_id", "s", "e", "event_id"))
    assert(countExchanges(plan) == 1,
      plan.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
  }

  test("corrMatrix aggregates map-side: exactly one exchange") {
    val plan = planOf(graft.ext.TrainPrep.corrMatrix(Tables.lineitem(spark, sf)))
    assert(countExchanges(plan) == 1,
      plan.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    // partial aggregation BELOW the exchange (map-side combine): in the TREE
    // section the child renders on the line after its parent with deeper
    // indentation — find the Exchange tree line and require a HashAggregate
    // beneath it before the Scan
    val tree = plan.linesIterator.takeWhile(l => !l.matches("""\(\d+\) .*""")).toSeq
    val exIdx = tree.indexWhere(_.contains("Exchange"))
    assert(exIdx >= 0, tree.mkString("\n"))
    val below = tree.drop(exIdx + 1)
    assert(below.exists(_.contains("HashAggregate")),
      "expected partial aggregation under the exchange:\n" + tree.mkString("\n"))
  }

  test("packSequences shuffles once, on the shard key") {
    val plan = planOf(graft.ext.TrainPrep.packSequences(
      Tables.documents(spark, sf), 2048L, 8))
    assert(countExchanges(plan) == 1,
      "packing must repartition exactly once (per-shard window):\n" +
        plan.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
  }

  test("simhash is one shuffle end-to-end (fused occurrence aggregation)") {
    val plan = planOf(graft.ext.Dedup.simhash(Tables.documents(spark, sf)))
    assert(countExchanges(plan) == 1,
      plan.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
  }

  test("eventSequences is a single hash aggregation: one exchange") {
    val plan = planOf(graft.ext.TrainPrep.eventSequences(
      Tables.events(spark, sf)
        .select(col("user_id"), col("event_id"), col("ts_us"), col("event_type"))))
    assert(countExchanges(plan) == 1,
      plan.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
  }

  test("z-order layout: one range exchange + in-partition sort, and the key clusters both dims") {
    val ev = Tables.events(spark, sf).select(col("event_id"),
      pmod(col("user_id"), lit(65536L)).as("zx"),
      pmod(expr("ts_us DIV 3600000000"), lit(65536L)).as("zy"))
    val laid = graft.ops.ZOrder.layoutByZ(ev,
      graft.ops.ZOrder.zValue(col("zx"), col("zy")), 8)
    val plan = planOf(laid)
    assert(plan.contains("rangepartitioning"), plan.take(400))
    assert(countExchanges(plan) == 1,
      plan.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    // interleave must be invertible: de-interleaving the z-value recovers
    // both dimensions exactly (so min/max stats on z bound both columns)
    val bad = ev.withColumn("z",
      graft.ops.ZOrder.zValue(col("zx"), col("zy")))
      .withColumn("rx", (0 until 16).map(i =>
        shiftleft(shiftright(col("z"), 2 * i).bitwiseAND(lit(1L)), i))
        .reduce(_ + _))
      .withColumn("ry", (0 until 16).map(i =>
        shiftleft(shiftright(col("z"), 2 * i + 1).bitwiseAND(lit(1L)), i))
        .reduce(_ + _))
      .filter(col("rx") =!= col("zx") || col("ry") =!= col("zy"))
    assert(bad.count() == 0)
  }

  test("incremental state merge equals full recompute (any split point)") {
    import graft.ops.Incremental
    val ev = Tables.events(spark, sf).select(col("user_id"), col("ts_us"), col("value"))
    val cutoff = ev.agg(expr("percentile_approx(ts_us, 0.5)")).collect()(0).getLong(0)
    val merged = Incremental.mergeUserAggStates(
      Incremental.userAggState(ev.filter(col("ts_us") < cutoff)),
      Incremental.userAggState(ev.filter(col("ts_us") >= cutoff)))
    val full = Incremental.userAggState(ev)
    assert(merged.count() == full.count() && full.count() > 0)
    assert(merged.except(full).count() == 0 && full.except(merged).count() == 0)
  }

  test("binned interval join is an equi join, never a nested loop") {
    val ev = Tables.events(spark, sf)
    val out = graft.ops.Relational.binnedIntervalCount(
      ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("ts_us")),
      ev.filter(col("event_type") === "click").select(col("ts_us")),
      3600000000L)
    val plan = planOf(out)
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      plan.linesIterator.filter(_.contains("Join")).mkString("\n"))
    // and it equals the direct theta-join formulation
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("ts_us"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("ts_us").as("c_ts"))
    val direct = p.join(c,
        col("c_ts") >= col("ts_us") - 3600000000L &&
          col("c_ts") < col("ts_us"), "left")
      .groupBy(col("event_id"), col("ts_us"))
      .agg(count(col("c_ts")).as("n_before"))
    assert(out.except(direct).count() == 0 && direct.except(out).count() == 0)
  }

  test("dynamic partition pruning reaches the partitioned fact scan") {
    // DPP: a selective dim filter becomes a runtime subquery in the fact
    // scan's PartitionFilters — only matching date partitions are read.
    // The 100 TB complement: static pruning handles literal predicates,
    // DPP handles predicates that only exist through a join.
    val base = java.nio.file.Files.createTempDirectory("dpp")
    val factDir = base.resolve("fact").toString
    val dimDir = base.resolve("dim").toString
    val ev = Tables.events(spark, sf)
      .withColumn("date", to_date(timestamp_micros(col("ts_us"))))
    ev.write.mode("overwrite").partitionBy("date").parquet(factDir)
    ev.select(col("date")).distinct().write.mode("overwrite").parquet(dimDir)
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
    val fact = spark.read.parquet(factDir)
    // the dim-side predicate must survive optimization (a constant-foldable
    // filter is removed and DPP then sees no selective predicate)
    val dim = spark.read.parquet(dimDir).filter(dayofmonth(col("date")) <= 2)
    val joined = fact.join(dim, Seq("date"))
    val plan = planOf(joined)
    assert(plan.contains("dynamicpruning"),
      plan.linesIterator.filter(_.contains("PartitionFilters")).mkString("\n"))
  }

  test("AQE splits a skewed join partition at runtime") {
    // the no-code-change answer to key skew (complement of ops/Skew's
    // explicit salting): AQE detects an oversized shuffle partition after
    // the map stage and splits it into parallel reducer tasks, marking the
    // join "skew=true". Thresholds floored so detection fires at fixture
    // scale.
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "512b",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // ~87% of left rows land on one key → one reducer partition dwarfs
      // the rest. Two shape constraints for OptimizeSkewedJoin to fire:
      // the skewed partition is split along MAPPER boundaries, so the left
      // input needs multiple map tasks (repartition(8); a single-file scan
      // is one mapper and unsplittable) — and both join children must be
      // Sort-over-shuffle directly (an aggregate between sort and shuffle,
      // e.g. a distinct, breaks the rule's pattern match). sf0.01: at
      // sf0.001 the skewed partition compresses under any byte threshold.
      val sfDir = "/root/testdata/sf0.01"
      val left = Tables.events(spark, sfDir).repartition(8)
        .select(when(col("user_id") % 8 =!= 0, lit(0L))
          .otherwise(col("user_id")).as("k"), col("value"))
      val right = Tables.customer(spark, sfDir)
        .select(col("c_custkey").as("k"))
      val joined = left.join(right, "k")
      joined.collect() // collect on THIS df: a write would execute a clone
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        "expected a skew-split join in the final adaptive plan:\n" +
          plan.linesIterator.filter(_.contains("Join")).mkString("\n"))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("AQE skew-split fires on the NATURAL detection path at a 90%-hot " +
    "4M-row skew (no force flag, megabyte-scale thresholds)") {
    // The forced-threshold test above proves the plan rewrite exists; this
    // one proves DETECTION works at a skew magnitude representative of a
    // real hot key: 4M rows, 90% on one key (~55 MB in one reducer
    // partition vs ~KB medians), thresholds at realistic megabyte scale
    // and NO forceOptimizeSkewedJoin. If AQE's size accounting or the
    // factor/threshold interplay regressed, this fails while the forced
    // variant stays green.
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8MB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4MB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val left = spark.range(4000000L).repartition(8)
        .select(when(col("id") % 10 =!= 0L, lit(0L)).otherwise(col("id"))
          .as("k"), col("id").as("v"))
      val right = spark.range(1000L).select(col("id").as("k"))
      val joined = left.join(right, "k")
      // execute THIS df's physical plan (a .count() would plan a separate
      // aggregate query and leave `joined`'s adaptive plan unfinalized);
      // k=0 carries 3.6M (id%10!=0) + 1 (id=0) rows; ids {10,...,990} add 99
      assert(joined.queryExecution.toRdd.count() === 3600100L)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        "natural-path skew detection did not fire at 90%/4M skew:\n" +
          plan.linesIterator.filter(_.contains("Join")).mkString("\n"))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("runtime bloom filter prunes the probe side of a selective join") {
    // InjectRuntimeFilter: a selective filter on the build side becomes a
    // bloom-filter semi-filter pushed into the probe-side scan — row-level
    // pruning BEFORE the join shuffle, the 100 TB complement to partition
    // pruning. Thresholds floored so the rule fires at fixture scale.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val li = Tables.lineitem(spark, sf)
        .select(col("l_orderkey"), col("l_suppkey"), col("l_quantity"))
      val supp = Tables.supplier(spark, sf)
        .filter(col("s_acctbal") > 9000.0) // selective build-side predicate
        .select(col("s_suppkey"), col("s_nationkey"))
      val joined = li.join(supp, col("l_suppkey") === col("s_suppkey"))
      val plan = planOf(joined)
      assert(plan.contains("might_contain"),
        "expected an injected bloom-filter probe in:\n" +
          plan.linesIterator.filter(_.contains("Filter")).take(10).mkString("\n"))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q124 regression: sufficient stats combine map-side below one exchange") {
    val df = SparkEntry.queries("q124_group_regression")(spark, sf)
    val plan = planOf(df)
    assert(countExchanges(plan) == 1, plan.take(600))
    // partial HashAggregate BELOW the exchange: first listed aggregate
    // precedes the first exchange in the formatted operator list
    val lines = plan.linesIterator.toSeq
    val firstAgg = lines.indexWhere(_.matches("""\(\d+\) HashAggregate.*"""))
    val firstEx = lines.indexWhere(_.matches("""\(\d+\) Exchange.*"""))
    assert(firstAgg >= 0 && firstEx > firstAgg,
      s"partial aggregate must sit below the exchange (agg@$firstAgg ex@$firstEx)")
  }

  test("q125 rank-AUC: rows collapse to distinct scores before the global window") {
    val df = SparkEntry.queries("q125_rank_auc")(spark, sf)
    val plan = planOf(df)
    val lines = plan.linesIterator.toSeq
    val winIdx = lines.indexWhere(_.matches("""\(\d+\) Window.*"""))
    val aggBelow = lines.drop(winIdx)
      .exists(_.matches("""\(\d+\) HashAggregate.*"""))
    assert(winIdx >= 0 && aggBelow,
      "the single-partition window must read the per-score aggregate, " +
        "not raw rows:\n" + plan.take(800))
  }

  test("q128 heavy hitters: candidate semi-join filters map-side before the recount") {
    val df = SparkEntry.queries("q128_heavy_hitters")(spark, sf)
    val plan = planOf(df)
    assert(plan.contains("BroadcastHashJoin LeftSemi"),
      "candidates must reach the big side as a broadcast semi-join:\n" +
        plan.linesIterator.filter(_.contains("Join")).mkString("\n"))
    // operator ids grow leaf->root (tree section renders "Name (id)"): the
    // semi-join (map-side filter) must carry a LOWER id than the recount
    // exchange, with a partial HashAggregate in between (combine AFTER the
    // filter, BEFORE the wire)
    def ids(pat: String): Seq[Int] =
      (pat + """ \((\d+)\)""").r.findAllMatchIn(plan).map(_.group(1).toInt).toSeq
    val semis = ids("BroadcastHashJoin LeftSemi BuildRight")
    assert(semis.nonEmpty, "no broadcast semi-join in plan:\n" + plan)
    val semiId = semis.min
    val exAbove = ids("""(?<![A-Za-z])Exchange""").filter(_ > semiId)
    assert(exAbove.nonEmpty, "no shuffle exchange above the semi-join")
    assert(ids("HashAggregate").exists(a => a > semiId && a < exAbove.max),
      s"partial aggregate must sit between semi-join ($semiId) and the " +
        s"recount exchange (${exAbove.max})")
  }

  test("q359 ring resize: row-local successor probe plans zero joins and " +
    "one exchange (the final scalar aggregate)") {
    val df = SparkEntry.queries("q359_ring_resize")(spark, sf)
    val plan = planOf(df)
    assert(!plan.contains("Join"),
      "ring assignment must be a scalar projection, not a join:\n" +
        plan.linesIterator.filter(_.contains("Join")).mkString("\n"))
    assert(countExchanges(plan) == 1,
      s"expected exactly the final-aggregate exchange, got " +
        s"${countExchanges(plan)}:\n" +
        plan.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
  }

  test("q128 heavy hitters: degraded-pigeonhole fallbacks plan NO broadcast " +
    "and keep the two-phase (partial+final) aggregate") {
    val toks = Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("tok"))
    // candidate cap exceeded → the unbounded broadcast(candidates) must NOT
    // appear; the plan is the plain map-side-combine aggregate
    val capped = graft.ext.Sketches
      .heavyHitters(toks, "tok", 50L, maxBroadcastCandidates = 0L)
    val planCapped = planOf(capped)
    assert(!planCapped.contains("BroadcastHashJoin") &&
      !planCapped.contains("BroadcastExchange"),
      "cap-exceeded fallback must not broadcast:\n" +
        planCapped.linesIterator.filter(_.contains("Broadcast")).mkString("\n"))
    assert(planCapped.linesIterator
      .count(_.matches("""\(\d+\) HashAggregate.*""")) >= 2,
      "fallback must keep partial+final aggregation:\n" + planCapped.take(800))
    // localThr = 1 (T <= P) → pass 1 skipped, same broadcast-free shape
    val p = toks.rdd.getNumPartitions.toLong
    val low = graft.ext.Sketches.heavyHitters(toks, "tok", p)
    val planLow = planOf(low)
    assert(!planLow.contains("BroadcastHashJoin") &&
      !planLow.contains("BroadcastExchange"),
      "pigeonhole-floor fallback must not broadcast")
  }

  test("q129 weighted sample: per-group top-k plans a partial WindowGroupLimit") {
    val df = SparkEntry.queries("q129_weighted_sample")(spark, sf)
    val plan = planOf(df)
    assert(plan.linesIterator
      .count(_.matches("""\(\d+\) WindowGroupLimit.*""")) == 2,
      "expected partial+final WindowGroupLimit (each mapper emits <= k " +
        "rows per group):\n" +
        plan.linesIterator.filter(_.contains("WindowGroupLimit")).mkString("\n"))
  }

  test("q139 decayed features: events collapse to weekly rows before the fan-out") {
    val df = SparkEntry.queries("q139_decayed_features")(spark, sf)
    val plan = planOf(df)
    // exactly two shuffles: raw→(user,week) partial-agg, fan-out→(user,week+k)
    assert(countExchanges(plan) == 2,
      "decayed features must shuffle exactly twice:\n" +
        plan.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    // the explode (fan-out ×9) must sit ABOVE the first aggregation — i.e.
    // it multiplies user-weeks, never raw events. ids grow leaf→root.
    def firstId(pat: String): Int =
      (pat + """ \((\d+)\)""").r.findAllMatchIn(plan).map(_.group(1).toInt).min
    assert(firstId("Generate") > firstId("HashAggregate"),
      "explode must run after the weekly pre-aggregation")
  }

  test("q140 sketch rollup: dim broadcast + two object-aggregate shuffles") {
    val df = SparkEntry.queries("q140_sketch_rollup")(spark, sf)
    val plan = planOf(df)
    assert(plan.contains("BroadcastHashJoin"),
      "customer dim must broadcast:\n" +
        plan.linesIterator.filter(_.contains("Join")).mkString("\n"))
    assert(!plan.contains("SortMergeJoin"), "no shuffle join for the dim")
    // fine-cell sketch agg + nation rollup agg: two shuffles, both partial-
    // aggregated map-side (TypedImperativeAggregate → ObjectHashAggregate)
    assert(countExchanges(plan) == 2,
      plan.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    assert(plan.contains("ObjectHashAggregate"),
      "bitmap sketches must run in ObjectHashAggregate")
  }

  test("q141 join estimate: histograms aggregate before the full-outer join") {
    val df = SparkEntry.queries("q141_join_estimate")(spark, sf)
    val plan = planOf(df)
    def ids(pat: String): Seq[Int] =
      (pat + """ \((\d+)\)""").r.findAllMatchIn(plan).map(_.group(1).toInt).toSeq
    val joinIds = ids("SortMergeJoin FullOuter")
    assert(joinIds.nonEmpty, "expected a full-outer merge of the histograms:\n" +
      plan.linesIterator.filter(_.contains("Join")).mkString("\n"))
    // both histogram aggregations run BELOW the join (on the reduced keys),
    // and the single-row summary is the only thing above it
    assert(ids("HashAggregate").count(_ < joinIds.min) >= 4,
      "per-key histograms (partial+final × 2 sides) must precede the join")
  }

  test("q143 zone map: one shuffle builds the whole stats table") {
    val df = SparkEntry.queries("q143_zone_map")(spark, sf)
    val plan = planOf(df)
    assert(countExchanges(plan) == 1,
      "zone map must be a single aggregation pass:\n" +
        plan.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
  }

  test("q144 PIT join: no range-join explosion — only key shuffles + windows") {
    val df = SparkEntry.queries("q144_pit_join")(spark, sf)
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "PIT join must not plan a nested-loop/cartesian range join")
    // two chained as-of joins = two Window passes over key-partitioned data
    assert(plan.linesIterator.count(_.matches("""\(\d+\) Window.*""")) == 2,
      plan.linesIterator.filter(_.contains("Window")).mkString("\n"))
  }

  test("q148 SCD2: one key exchange feeds every window pass") {
    val plan = planOf(SparkEntry.queries("q148_scd2")(spark, sf))
    assert(countExchanges(plan) == 1,
      plan.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
  }

  test("q150 interpolate: lag and lead fuse into ONE window over one exchange") {
    val plan = planOf(SparkEntry.queries("q150_interpolate")(spark, sf))
    assert(countExchanges(plan) == 1,
      plan.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    assert(plan.linesIterator.count(_.matches("""\(\d+\) Window.*""")) == 1,
      plan.linesIterator.filter(_.contains("Window")).mkString("\n"))
  }

  test("q157 CDC apply: latest-per-key is WindowGroupLimit-capped, one exchange") {
    val plan = planOf(SparkEntry.queries("q157_cdc_apply")(spark, sf))
    assert(countExchanges(plan) == 1,
      plan.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    assert(plan.contains("WindowGroupLimit"),
      "mappers must cap candidate rows per key:\n" + plan.take(600))
  }

  test("q162 merkle diff: digests aggregate below the join; drill is a broadcast semi") {
    val plan = planOf(SparkEntry.queries("q162_merkle_diff")(spark, sf))
    // both drill sides semi-join on the broadcast divergent-bucket list
    // (tree section renders "BroadcastHashJoin LeftSemi BuildRight (id)")
    assert(plan.linesIterator
      .count(_.matches(""".*BroadcastHashJoin LeftSemi.*\(\d+\)""")) == 2,
      plan.linesIterator.filter(_.contains("Join")).mkString("\n"))
    // digest passes partial-aggregate before their exchange
    val lines = plan.linesIterator.toSeq
    val firstAgg = lines.indexWhere(_.matches("""\(\d+\) HashAggregate.*"""))
    val firstEx = lines.indexWhere(_.matches("""\(\d+\) Exchange.*"""))
    assert(firstAgg >= 0 && firstEx > firstAgg,
      s"digest must combine map-side (agg@$firstAgg ex@$firstEx)")
  }

  test("q169 curation funnel: one scan of documents, no re-evaluation per stage") {
    val plan = planOf(SparkEntry.queries("q169_curation_funnel")(spark, sf))
    assert(plan.linesIterator
      .count(_.matches("""\(\d+\) Scan parquet.*""")) == 1,
      plan.linesIterator.filter(_.contains("Scan")).mkString("\n"))
  }

  test("q175 nearest join: two window passes, zero range-join explosion") {
    val plan = planOf(SparkEntry.queries("q175_nearest_join")(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      plan.linesIterator.filter(l => l.contains("Cartesian") ||
        l.contains("NestedLoop")).mkString("\n"))
    // one Window per as-of direction, nothing more
    assert(plan.linesIterator.count(_.matches("""\(\d+\) Window.*""")) == 2,
      plan.linesIterator.filter(_.contains("Window")).mkString("\n"))
  }

  test("q176 CMS: sketch builds map-side partials through an object aggregate") {
    val plan = planOf(SparkEntry.queries("q176_cms_estimate")(spark, sf))
    assert(plan.contains("ObjectHashAggregate"), plan.take(800))
    assert(plan.contains("partial_cms_sketch"),
      "map-side partial sketch expected:\n" +
        plan.linesIterator.filter(_.contains("cms_sketch")).mkString("\n"))
    // the probe never falls back to an interpreted path
    assert(!plan.contains("BatchEvalPython"))
  }

  test("q189 interval overlap: bin equi join, never a nested loop") {
    val plan = planOf(SparkEntry.queries("q189_interval_overlap")(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      plan.linesIterator.filter(l => l.contains("Cartesian") ||
        l.contains("NestedLoop")).mkString("\n"))
  }

  test("q179 FK audit: every child scan reads only its key column") {
    val plan = planOf(SparkEntry.queries("q179_fk_audit")(spark, sf))
    val schemas = plan.linesIterator
      .filter(_.trim.startsWith("ReadSchema:")).toSeq
    assert(schemas.nonEmpty)
    // single-column ReadSchema on every scan: pruning reached parquet
    schemas.foreach(s => assert(!s.contains(","), s))
  }

  test("q203 Q3: top-10 is TakeOrderedAndProject, never a global sort") {
    val plan = planOf(SparkEntry.queries("q203_shipping_priority")(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(800))
    // the only Sort allowed is none — per-partition heaps + driver merge
    assert(!plan.linesIterator.exists(_.matches("""\(\d+\) Sort.*""")),
      plan.linesIterator.filter(_.contains("Sort")).mkString("\n"))
  }

  test("q205 Q6: every predicate reaches the parquet scan") {
    val plan = planOf(SparkEntry.queries("q205_forecast_revenue")(spark, sf))
    val pushed = plan.linesIterator
      .filter(_.trim.startsWith("PushedFilters:")).mkString
    // all three predicates run on RAW columns (the derived-integer forms
    // are opaque to parquet) — shipdate range, discount band, quantity cap
    // must ALL appear in PushedFilters
    assert(pushed.contains("GreaterThanOrEqual(l_shipdate") &&
      pushed.contains("LessThan(l_shipdate"), pushed)
    assert(pushed.contains("GreaterThanOrEqual(l_discount") &&
      pushed.contains("LessThanOrEqual(l_discount"), pushed)
    assert(pushed.contains("LessThan(l_quantity"), pushed)
  }

  test("q217 rendezvous argmax is a pure projection: zero exchanges " +
    "before the shard-count aggregate") {
    val plan = planOf(SparkEntry.queries("q217_rendezvous_shards")(spark, sf))
    // no Window, no explode-side shuffle: the per-doc argmax is greatest()
    // in a Project; the only exchanges serve the ≤16-row count aggregates
    // and their joins
    assert(!plan.contains("Window"), "argmax must not use a window")
    assert(!plan.contains("Generate"), "argmax must not explode shards")
  }

  test("bucketed table: an equality filter prunes to ONE bucket at the scan") {
    val spark0 = spark
    import spark0.implicits._
    // a bare filter query has no exchange to avoid, so the planner's
    // auto-bucketed-scan heuristic would fall back to a plain scan and
    // skip pruning — pin the bucketed read on for the probe
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled",
      "false")
    try {
      Tables.events(spark, sf)
        .select($"user_id", $"event_id", $"value")
        .write.mode("overwrite")
        .bucketBy(8, "user_id").sortBy("user_id")
        .saveAsTable("ev_bucket_prune")
      val q = spark.table("ev_bucket_prune").filter($"user_id" === 42L)
      val plan = planOf(q)
      // bucket pruning: only the bucket containing user 42 is read —
      // the file-skipping a bucketed layout buys on top of the
      // shuffle-free join (first posture test)
      val sel = plan.linesIterator
        .find(_.contains("SelectedBucketsCount")).getOrElse("")
      assert(sel.contains("1 out of 8"),
        s"bucket pruning missing: $sel\n" +
          plan.linesIterator.filter(l => l.contains("Scan") ||
            l.contains("Bucket") || l.contains("Location"))
            .mkString("\n"))
    } finally {
      spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled",
        "true")
      spark.sql("DROP TABLE IF EXISTS ev_bucket_prune")
    }
  }

  test("q237 rolling distinct: daily sketches materialize once — no " +
    "re-planned events scan per consumer") {
    val plan = planOf(SparkEntry.queries("q237_rolling_distinct")(spark, sf))
    // daily is checkpointed: the three consumers read the materialized
    // RDD; without it the scan+sketch subtree planned three times
    val scans = plan.linesIterator
      .count(_.matches("""\(\d+\) Scan parquet.*"""))
    assert(scans <= 1, s"events subtree re-planned: $scans scans")
  }

  test("q255 lag features: all four RANGE frames share ONE window pass") {
    val plan = planOf(SparkEntry.queries("q255_lag_features")(spark, sf))
    val windows = plan.linesIterator
      .count(_.matches("""\(\d+\) Window.*"""))
    assert(windows == 1, s"expected one fused Window node, got $windows")
  }

  test("q185 negative sampling: hash-threshold filter prunes candidates " +
    "inside the generating join, below the positives anti-join") {
    import spark.implicits._
    val users = Tables.customer(spark, sf).filter($"c_custkey" <= 50)
      .select($"c_custkey".as("uid"))
    val items = Tables.part(spark, sf).select($"p_partkey".as("item"))
    val pos = Tables.orders(spark, sf)
      .join(Tables.lineitem(spark, sf), $"o_orderkey" === $"l_orderkey")
      .select($"o_custkey".as("uid"), $"l_partkey".as("item"))
    val thr = 123456789L
    val plan = planOf(graft.ext.TrainPrep.negCandidates(
      users, "uid", items, "item", pos, Some(thr)))
    // the executed scale path: generate→hash→filter pipelined in the
    // mappers, so only ~m·c rows per user reach the anti-join shuffle —
    // NOT |users|×|items| (operator ids grow leaf→root: the threshold
    // filter must carry a LOWER id than the anti join)
    assert(plan.contains(s"< $thr"),
      "threshold predicate missing from the candidate plan:\n" + plan.take(800))
    // Catalyst pushes the threshold predicate INTO the generating
    // cross join as its join condition ("(n) BroadcastNestedLoopJoin …
    // Join condition: (… < thr)") — rows are dropped as they are
    // generated, before the anti-join shuffle. Pin that the node
    // carrying the predicate sits below every LeftAnti join id
    // (formatted-plan ids grow leaf→root).
    val thrNodeIds =
      ("""\((\d+)\) (?:Filter|BroadcastNestedLoopJoin)""" +
        """[\s\S]{0,600}?(?:Condition|Join condition)[^\n]*< %d""").format(thr)
        .r.findAllMatchIn(plan).map(_.group(1).toInt).toSeq
    val antiIds = plan.linesIterator
      .filter(l => l.matches("""\(\d+\) [A-Za-z]*Join.*""") ||
        (l.contains("Join") && l.contains("LeftAnti")))
      .filter(_.contains("LeftAnti"))
      .flatMap(l => """\((\d+)\)""".r.findFirstMatchIn(l).map(_.group(1).toInt))
      .toSeq
    assert(thrNodeIds.nonEmpty,
      "no node carries the threshold predicate:\n" + plan)
    assert(antiIds.nonEmpty, "no LeftAnti join in candidate plan:\n" + plan)
    assert(thrNodeIds.min < antiIds.max,
      s"threshold predicate (${thrNodeIds.min}) must sit below the anti " +
        s"join (${antiIds.max})")

    // exactness: the thresholded path (with short-user fallback) is
    // bit-identical to the unfiltered top-m formulation
    val m = 5
    val viaThreshold = graft.ext.TrainPrep.negativeSample(
      users, "uid", items, "item", pos, m)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"uid").orderBy($"h".asc)
    val unfiltered = graft.ext.TrainPrep.negCandidates(
      users, "uid", items, "item", pos, None)
      .withColumn("neg_rank", row_number().over(w).cast("long"))
      .filter($"neg_rank" <= m)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    assert(viaThreshold == unfiltered,
      "threshold path diverged from the unfiltered formulation")
  }

  test("q213 bloom probe is a Filter BELOW the semi-join, not a reordered " +
    "join above it") {
    val plan = planOf(SparkEntry.queries("q213_bloom_member")(spark, sf))
    // the blob is a literal, so the probe is a plain Filter on the probe
    // branch; a BroadcastNestedLoopJoin would mean ReorderJoin put the
    // bloom check ABOVE the exact semi-join (the observed failure mode)
    assert(plan.contains("bitmap_contains"), plan.take(400))
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "bloom probe must not be a join condition")
    val filterIdx = plan.indexOf("bitmap_contains")
    val semiIdx = plan.indexOf("LeftSemi")
    assert(semiIdx >= 0 && filterIdx > semiIdx, // formatted: parents first
      s"probe filter must sit below the semi join (filter@$filterIdx, " +
        s"semi@$semiIdx)")
  }

  /** Every WindowExec in the physical plan, with an empty partitionSpec
    * meaning "all rows to one task" — the scale-killer shape. Checked on
    * the pre-AQE sparkPlan so the tree is fully materialized. */
  private def windows(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.execution.window.WindowExec] =
    df.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }

  test("q250 surrogate-key mint plans NO single-partition window") {
    val df = SparkEntry.queries("q250_snowflake_build")(spark, sf)
    // r13: the surrogate dims are persisted, so the rank windows live in
    // the CACHED dim plans — recurse through InMemoryRelation the way
    // Explain.windowAudit does, or the collect sees an empty list
    def all(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.window.WindowExec] =
      p.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => Seq(w)
        case i: org.apache.spark.sql.execution.columnar
                  .InMemoryTableScanExec => all(i.relation.cachedPlan)
        // cached plans are AQE-wrapped in Spark 4 and AQE nodes are
        // leaf-like (children = Nil) — unwrap explicitly, as boundLabel does
        case a: org.apache.spark.sql.execution.adaptive
                  .AdaptiveSparkPlanExec => all(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          all(q.plan)
      }.flatten
    val ws = all(df.queryExecution.sparkPlan)
    // the distributed rank still uses windows — but every one of them is
    // partitioned (by spark_partition_id), so parallelism scales with the
    // range partitioning, not with 1
    assert(ws.nonEmpty, "expected the partition-local rank windows")
    ws.foreach(w => assert(w.partitionSpec.nonEmpty,
      "unpartitioned Window (all data to one task):\n" + w.treeString))
    assert(df.collect().length == 1) // and the query still runs
  }

  test("q132 winsorize bounds window runs over the REDUCED value domain") {
    val df = SparkEntry.queries("q132_winsorize")(spark, sf)
    val ws = windows(df)
    assert(ws.nonEmpty, "expected the running-count windows")
    ws.foreach { w =>
      assert(w.partitionSpec.nonEmpty,
        "unpartitioned Window:\n" + w.treeString)
      // the window's input must be the groupBy(g, c) distinct-value
      // relation, not the raw fact rows: an aggregate sits beneath it
      val aggBelow = w.child.collectFirst {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
      }
      assert(aggBelow.isDefined,
        "winsorize window consumes raw rows (no aggregate below):\n" +
          w.treeString)
    }
  }

  test("q309 equi-depth histogram plans NO single-partition window") {
    val df = SparkEntry.queries("q309_equi_depth_hist")(spark, sf)
    val ws = windows(df)
    // the distributed CDF keeps a window only for the bucket-local running
    // sum — partitioned by the value bucket, never global
    assert(ws.nonEmpty, "expected the bucket-local running-sum window")
    ws.foreach(w => assert(w.partitionSpec.nonEmpty,
      "unpartitioned Window (all data to one task):\n" + w.treeString))
    assert(df.collect().length === 8)
  }

  test("q295 KLL gate: sketch partial-aggregates map-side; gate join " +
    "broadcasts the 21-row side") {
    val df = SparkEntry.queries("q295_kll_gate")(spark, sf)
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    // TypedImperativeAggregate => ObjectHashAggregate with a partial pass
    assert(plan.contains("ObjectHashAggregate"), plan.take(800))
    assert(plan.contains("partial_kll_quantiles"),
      "kll sketch must partial-aggregate before the shuffle")
    // exact-rank verification joins the tiny gate relation by broadcast
    assert(plan.contains("BroadcastHashJoin"),
      "gate join must broadcast, got:\n" +
        plan.linesIterator.filter(_.contains("Join")).mkString("\n"))
    assert(df.collect().forall(_.getBoolean(3)))
  }

  test("q293 Adamic-Adar: the per-user recency cap is a WindowGroupLimit") {
    val df = SparkEntry.queries("q293_adamic_adar")(spark, sf)
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    // rn <= 10 must prune inside the window sort, not after materializing
    // every (user, item) row through the full window
    assert(plan.contains("WindowGroupLimit"), "cap must push into the window")
    assert(df.collect().nonEmpty)
  }

  test("q296 bootstrap: all 32 replicates ride one partial aggregation " +
    "(no per-replicate shuffle)") {
    val df = SparkEntry.queries("q296_bootstrap_ci")(spark, sf)
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    val exchanges = plan.linesIterator
      .count(_.matches("""\(\d+\) Exchange.*"""))
    // one shuffle to (priority, b) cells, one for the rank window on the
    // 160-row replicate relation, one for the final per-priority collapse
    assert(exchanges <= 3, s"expected <=3 exchanges, got $exchanges:\n" +
      plan.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    assert(plan.contains("partial_sum") || plan.contains("HashAggregate"),
      "replicate sums must partial-aggregate map-side")
  }

  test("q321 Spearman rank windows consume the REDUCED value domain " +
    "(aggregate below every window)") {
    val df = SparkEntry.queries("q321_spearman_corr")(spark, sf)
    val ws = windows(df)
    assert(ws.nonEmpty, "expected the cumulative-rank windows")
    ws.foreach { w =>
      assert(w.partitionSpec.nonEmpty,
        "unpartitioned Window:\n" + w.treeString)
      val aggBelow = w.child.collectFirst {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
      }
      assert(aggBelow.isDefined,
        "rank window consumes raw rows (no aggregate below):\n" +
          w.treeString)
    }
  }

  test("q335/q337: every window in the privacy/eval curves sits above " +
    "an aggregate (bucket/score domain, never raw rows)") {
    for (name <- Seq("q335_tcloseness", "q337_pr_points")) {
      val df = SparkEntry.queries(name)(spark, sf)
      val ws = windows(df)
      assert(ws.nonEmpty, s"$name: expected cumulative-CDF windows")
      ws.foreach { w =>
        // the reduced domain may sit either directly below the window or
        // inside a persisted InMemoryRelation (r8: q337's score-level
        // table is cached so totals derive from it) — the IMR's cached
        // plan carries the aggregate, so scan both shapes
        val aggBelow = w.child.collect {
          case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
            true
          // the cached plan may wrap in AdaptiveSparkPlanExec, which hides
          // its input from collect (children = Nil) — check its rendered
          // tree instead
          case imr: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
            if imr.relation.cachedPlan.treeString.contains("HashAggregate") =>
            true
        }
        assert(aggBelow.nonEmpty,
          s"$name window consumes raw rows (no aggregate below):\n" +
            w.treeString)
      }
    }
  }

  test("q327 SQ8: probe side broadcasts; the corpus is never shuffled " +
    "for the distance join") {
    val df = SparkEntry.queries("q327_sq8_recall")(spark, sf)
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"),
      "probe set must broadcast:\n" +
        plan.linesIterator.filter(_.contains("Join")).mkString("\n"))
  }

  test("q338 Hilbert key is one whole-stage-codegen map pass (no " +
    "exchange, no window)") {
    val df = SparkEntry.queries("q338_hilbert_key")(spark, sf)
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    val exchanges = plan.linesIterator
      .count(_.matches("""\(\d+\) Exchange.*"""))
    assert(exchanges === 0, s"layout keying must not shuffle:\n$plan")
    assert(windows(df).isEmpty, "layout keying must not window")
    // formatted mode prefixes codegen'd operators with '*'
    assert(plan.linesIterator.exists(_.matches("""\s*\*+\s*Project.*""")),
      s"the unrolled walk must stay inside codegen:\n$plan")
  }

  test("q393 corpus divergence never builds the lang x vocab grid: no " +
    "CartesianProduct, and the only nested-loop join carries one scalar row") {
    val df = SparkEntry.queries("q393_corpus_divergence")(spark, sf)
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct"),
      s"vocab grid cross product found:\n$plan")
    val bnlj = plan.linesIterator
      .count(_.matches("""\(\d+\) BroadcastNestedLoopJoin.*"""))
    assert(bnlj <= 1, s"expected at most the 1-row total join:\n$plan")
  }

  test("q413 split-gain windows consume the bucket domain (aggregate " +
    "below every window) and q404's quantile rides the value domain") {
    for (name <- Seq("q413_split_gain", "q404_newsvendor")) {
      val df = SparkEntry.queries(name)(spark, sf)
      val ws = windows(df)
      assert(ws.nonEmpty, s"$name: expected bucket-domain windows")
      ws.foreach { w =>
        assert(w.partitionSpec.nonEmpty,
          s"$name has an unpartitioned window:\n" + w.treeString)
        val aggBelow = w.child.collectFirst {
          case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
            a
        }
        assert(aggBelow.isDefined,
          s"$name window consumes raw rows (no aggregate below):\n" +
            w.treeString)
      }
    }
  }

  test("q411 Holt unroll plans zero windows and exactly one aggregation " +
    "exchange — the 46-step chain is a pure Project stack") {
    val df = SparkEntry.queries("q411_holt_unroll")(spark, sf)
    assert(windows(df).isEmpty, "the unrolled recursion must not window")
    val plan = df.queryExecution.sparkPlan
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.length <= 1,
      s"only the pivot aggregation may shuffle:\n${plan.treeString}")
    val projects = plan.collect {
      case p: org.apache.spark.sql.execution.ProjectExec => p
    }
    assert(projects.nonEmpty, "expected the unrolled Project chain")
  }

  test("scan-dedup sweep pins: shared intermediates materialize once — " +
    "bounded parquet scans and a single tokenize-explode per plan") {
    // The round-7 formatted-plan audit found shared subtrees replayed once
    // per downstream consumer (tokenize-explodes three times, fact
    // self-joins twice, day-grain reduces per branch). The fix — persist
    // the shared relation, derive marginals from the cached cells — is a
    // plan property: the parquet scan count and Generate (explode) count
    // are now scale-invariant constants. Pin them so a refactor that drops
    // a persist() or re-derives a marginal from the fact table fails here,
    // not in a 100 TB bill. Bounds are the audited post-sweep values.
    //
    // The counts are only deterministic against an EMPTY cache: suites
    // share one session, and a cached subtree left by an earlier suite
    // substitutes into these plans as an extra InMemoryRelation (whose
    // definition carries its own Generate), shifting the counts with suite
    // order. Clear the cache so the pin measures the audited fresh-session
    // shape; suites run sequentially in the forked test JVM, and every
    // persist() in this repo is a performance hint, never a correctness
    // dependency, so later suites just recompute.
    spark.sharedState.cacheManager.clearCache()
    val pins: Seq[(String, Int, Int)] = Seq(
      // (query, max parquet scans, exact Generate count)
      ("q346_haar_energy", 1, 1),       // single-pass pyramid: one explode
      ("q393_corpus_divergence", 2, 1), // tokenize-explode plans ONCE
      ("q394_source_marginal", 3, 1),   // explode once; +1 skinny nd scan
      ("q398_mixture_reweight", 2, 1),  // explode once; global = Σ per-src
      ("q343_theil_sen", 1, 0),         // pair self-join rides the cache
      ("q318_mutual_info", 2, 0),       // marginals from cached cells
      ("q309_equi_depth_hist", 1, 0),   // reduced domain cached, reused
      ("q333_backtest_mae", 2, 0),      // day-grain reduce cached per branch
      ("q348_cramers_v", 2, 0),         // contingency totals = cell sums
      ("q371_ljung_box", 2, 0),         // daily residual series cached
      ("q407_fairness_census", 4, 0))   // label pipeline cached per feature
    for ((name, maxScans, generates) <- pins) {
      val plan = planOf(SparkEntry.queries(name)(spark, sf))
      val scans = plan.linesIterator
        .count(_.matches("""\(\d+\) Scan parquet.*"""))
      assert(scans <= maxScans,
        s"$name: shared subtree re-planned — $scans parquet scans " +
          s"(audited bound $maxScans)")
      val gens = plan.linesIterator
        .count(_.matches("""\(\d+\) Generate.*"""))
      assert(gens == generates,
        s"$name: expected $generates Generate nodes (one per explode " +
          s"pass), got $gens")
    }
  }

  test("r8 bench-tail pins: q107/q109/q230 loop invariants and pair " +
    "fan-outs materialize once") {
    // Round-8 idle-box audit of the three slowest driver-bench entries.
    // Each fix is a plan property — pin it like the scan-dedup sweep
    // above (cache cleared first for deterministic counts):
    // - q107 pageRank: the symmetrized edge list is cached, so the
    //   orders⋈lineitem build appears ONCE (inside the cache definition),
    //   not once per consumer (outdeg + withDeg + initial mass = 3
    //   replays before the fix; 7.5 s -> 1.9 s at sf0.1).
    // - q109 containment: both directions of each unordered pair fan out
    //   row-locally through ONE Generate (explode over a 2-struct array);
    //   the union form re-planned the shingle self-join per direction.
    // - q230 IVM: both fact sides repartition on the join key once and
    //   persist, so the four delta-term joins add NO further exchanges on
    //   the fact tables (8 exchange legs -> 2).
    // NOTE on counting: FormattedMode reprints a nested cache's FULL
    // definition at every reference, so raw "Scan parquet" counts in a
    // multi-cache plan overstate runtime scans (each cache fills once).
    // The pinned property is therefore the CACHE STRUCTURE — how many
    // distinct relations are marked InMemoryRelation — plus a printed-scan
    // ceiling that would still catch a dropped persist.
    val pins: Seq[(String, Int, Int, Int)] = Seq(
      // (query, min InMemoryRelation refs, max printed scans, max Exchanges)
      ("q107_pagerank", 2, 4, Int.MaxValue),   // undirected AND withDeg cached
      ("q109_containment_pairs", 1, 2, Int.MaxValue), // shingle ids cached
      ("q230_ivm_join", 2, 2, 9),              // both fact sides cached
      // r8 plan-census additions (Explain --census): shared aggregates /
      // corpus-wide explodes persisted instead of replanned per consumer
      ("q299_holdout_leakage", 2, 3, Int.MaxValue), // split table + shingle index
      ("q351_weighted_jaccard", 2, 2, Int.MaxValue), // sh (8 gens -> 1) + shw
      ("q386_minhash_error", 2, 2, Int.MaxValue),   // sh + minhash sigs
      ("q389_cmh_pooled", 1, 4, Int.MaxValue),      // 5-row stratum table
      ("q408_simpson_reversal", 1, 4, Int.MaxValue),// 5-row contingency table
      ("q102_semantic_dedup", 1, 2, Int.MaxValue),  // centroid assignment
      ("q264_join_guard", 2, 3, Int.MaxValue),      // dirty dim + fact keys
      ("q322_hhi_concentration", 1, 3, Int.MaxValue), // per-supplier revenue
      ("q395_kaplan_meier", 2, 1, Int.MaxValue),    // (cust,day) grid + byT
      ("q396_catalog_coverage", 1, 2, Int.MaxValue))// distinct (order,part)
    for ((name, minImr, maxScans, maxExch) <- pins) {
      spark.sharedState.cacheManager.clearCache()
      val plan = planOf(SparkEntry.queries(name)(spark, sf))
      val scans = plan.linesIterator
        .count(_.matches("""\(\d+\) Scan parquet.*"""))
      val imr = plan.linesIterator.count(_.contains("InMemoryRelation"))
      val exch = countExchanges(plan)
      info(s"$name: scans=$scans imr=$imr exchanges=$exch")
      assert(imr >= minImr,
        s"$name: only $imr InMemoryRelation refs (audited $minImr) — a " +
          "loop-invariant persist was dropped and the base build replays " +
          "once per consumer")
      assert(scans <= maxScans,
        s"$name: $scans printed parquet scans (audited bound $maxScans)")
      assert(exch <= maxExch,
        s"$name: $exch exchanges (audited bound $maxExch) — a persisted " +
          "co-partitioning stopped being reused")
    }
    // q109's direction fan-out must stay a single Generate (explode),
    // never a union of two replayed aggregation branches
    spark.sharedState.cacheManager.clearCache()
    val p109 = planOf(SparkEntry.queries("q109_containment_pairs")(spark, sf))
    // 2 = the shingle explode (inside the cached shingleIds definition,
    // reprinted by FormattedMode) + the one direction fan-out explode
    assert(p109.linesIterator.count(_.matches("""\(\d+\) Generate.*""")) == 2,
      "q109: expected exactly two Generates (cached shingle explode + " +
        "the single two-direction fan-out)")
    // r8 interpreted-lambda sweep regression guard: the n-gram generators
    // (q106 bigram counts, q114 collocation pairs, q128 bigram input)
    // explode a POSITION sequence and slice per row — whole-stage codegen.
    // A reintroduced explode(transform(...)) shows up in the plan as a
    // lambdafunction inside the Generate and drops the pass to the
    // interpreter (one materialized gram array per row at corpus scale).
    for (name <- Seq("q106_ngram_counts", "q114_triangle_count",
        "q128_heavy_hitters")) {
      spark.sharedState.cacheManager.clearCache()
      val p = planOf(SparkEntry.queries(name)(spark, sf))
      assert(!p.contains("lambdafunction"),
        s"$name: a higher-order lambda re-entered the plan — the n-gram " +
          "explode left whole-stage codegen")
    }
    assert(!p109.contains(") Union"),
      "q109: a Union re-appeared — the pair subtree is being replayed " +
        "once per containment direction")
  }

  test("r12 posture: q427 theta k-smallest is a PARTITIONED group limit; " +
    "q430's SQL-text IVF plan broadcasts and never CartesianProducts") {
    // q427: rank ≤ k+1 per set must compile to WindowGroupLimit with a
    // NON-empty partitionSpec — each input partition forwards at most k+1
    // rows map-side (the 100 TB shape for an order statistic); the only
    // global group limits are the ≤2(k+1)-row union-merge ranks, which
    // sit above distinct-aggregates (census no-RAW machine-checks that)
    spark.sharedState.cacheManager.clearCache()
    val th = SparkEntry.queries("q427_theta_sketch")(spark, sf)
    // the k-smallest relation is persisted, so its WindowGroupLimit lives
    // INSIDE the InMemoryRelation — recurse through cache/AQE boundaries
    // the same way Explain.boundLabel does
    def allPlans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] =
      p +: p.collect {
        case i: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          allPlans(i.relation.cachedPlan)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          allPlans(a.executedPlan)
        // an ALREADY-MATERIALIZED cache's executedPlan is finalized into
        // leaf query stages (q427's eager checkpoint materializes its
        // caches at build time) — recurse like Explain.boundLabel does
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          allPlans(q.plan)
      }.flatten
    val wgls = allPlans(th.queryExecution.sparkPlan).flatMap(_.collect {
      case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec => w
    })
    assert(wgls.exists(_.partitionSpec.nonEmpty),
      "q427: the per-set k-smallest must be a partitioned WindowGroupLimit")
    // q430: the SQL-text consumer of the IVF view must get the SAME
    // bucketed physical shape as the DataFrame pipeline — centroids
    // broadcast (BroadcastNestedLoopJoin against the corpus is the
    // intended 1×N broadcast cross), no CartesianProduct anywhere
    spark.sharedState.cacheManager.clearCache()
    val p430 = planOf(SparkEntry.queries("q430_sql_ivf_recall")(spark, sf))
    assert(!p430.contains("CartesianProduct"),
      "q430: SQL text fell off the broadcast plan into a cartesian join")
    assert(p430.contains("BroadcastNestedLoopJoin") ||
      p430.contains("BroadcastExchange"),
      "q430: centroids must broadcast in the SQL-text plan")
    spark.sharedState.cacheManager.clearCache()
  }
}

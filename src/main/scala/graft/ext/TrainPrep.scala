package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data preparation operators — the sampling / splitting / weighting
  * / statistics surface a large-scale training pipeline needs on top of the
  * reference's feature engineering (BASELINE.json north-star; the reference's
  * own split is the ordered 80/20 prefix, SURVEY §2.5 T3).
  *
  * Determinism contract: every "random" choice is a deterministic function of
  * the data — md5-prefix content ids ([[Dedup.contentId]]) for hash splits
  * and sample ordering — so the DuckDB oracle replays the identical pipeline
  * and results hash-match bit-for-bit. At 100 TB every operator here is
  * per-row arithmetic + one shuffle (or zero): no global sorts except where
  * the semantics require one (deciles), and those are flagged.
  */
object TrainPrep {

  /** Deterministic train/val/test assignment: bucket = content-hash of the
    * key mod 10 → 0-7 train, 8 val, 9 test. The assignment is a pure
    * function of the key — stable across runs, machines, and engines; rows
    * with the same key always land in the same split (no leakage between
    * splits when the key is the entity id). Zero shuffles: a projection. */
  def hashSplit(df: DataFrame, keyCol: String): DataFrame = {
    val bucket = pmod(Dedup.contentId(col(keyCol).cast("string")), lit(10L))
    df.withColumn("bucket", bucket)
      .withColumn("split",
        when(col("bucket") < 8, lit("train"))
          .when(col("bucket") === 8, lit("val"))
          .otherwise(lit("test")))
  }

  /** Deterministic stratified sample: the first `n` rows per stratum in
    * content-hash order (md5 of the key = a fixed random permutation).
    * One shuffle on the stratum key; the per-stratum sort is bounded by
    * stratum size (at 100 TB: top-n per group via partial top-k in AQE,
    * not a global sort). */
  /** PURGED temporal k-fold with EMBARGO (López de Prado 2018, ch. 7) — the
    * leakage discipline for time-ordered training data: rows are cut into k
    * contiguous time folds, and every row whose timestamp falls within
    * `embargoUs` BEFORE the next fold's start is flagged `embargoed` (a
    * label whose horizon crosses the boundary would leak the validation
    * fold into training; embargoed rows are dropped from the train side of
    * the adjacent fold pair). The last fold has no successor and is never
    * embargoed. Complements the hash split (q54: entity-leakage-free) and
    * the reference's ordered prefix split (q10 / SURVEY T3).
    *
    * Fold assignment is ntile(k) over (ts, tie) — the semantics REQUIRE a
    * total order — computed as [[graft.ops.Ranks.withGlobalRank]] (weekly
    * time buckets + offsets + bucket-partitioned ranks) +
    * [[graft.ops.Ranks.ntileFromRank]], so no fact-sized single-partition
    * window exists in the plan and the cut is still EXACT (bit-identical
    * to the oracle's ntile window).
    */
  def purgedTimeFolds(df: DataFrame, tsCol: String, tieCol: String,
                      k: Int, embargoUs: Long): DataFrame = {
    import graft.ops.Ranks
    val folded = Ranks.withGlobalRank(df,
        expr(s"$tsCol DIV 604800000000"), // weekly buckets, monotone in ts
        Seq(col(tsCol).asc, col(tieCol).asc), "__rn", "__n")
      .withColumn("fold", Ranks.ntileFromRank(col("__rn"), col("__n"), k))
      .drop("__rn", "__n")
    val starts = folded.groupBy(col("fold"))
      .agg(min(col(tsCol)).as("fold_start"))
      .withColumn("next_start",
        lead(col("fold_start"), 1).over(Window.orderBy(col("fold"))))
      .select(col("fold"), col("next_start"))
    folded.join(broadcast(starts), Seq("fold"))
      .withColumn("embargoed",
        col("next_start").isNotNull &&
          (col("next_start") - col(tsCol)) <= embargoUs)
      .drop("next_start")
  }

  /** QUANTILE NORMALIZATION — map every group's score distribution onto the
    * GLOBAL distribution (the batch-effect correction of bioinformatics,
    * and the cross-cohort score-alignment step before pooling training
    * data): a row at within-group rank r of n_g takes the global value at
    * index ((r−1)·(N−1)) DIV (n_g−1) + 1 — extremes map to extremes, and
    * everything is integer arithmetic on ranks (a singleton group maps to
    * the global median index (N+1) DIV 2). Ties are pinned by id, so the
    * result is deterministic and oracle-exact.
    *
    * Scale shape: one within-group window, one DISTRIBUTED global rank
    * ([[graft.ops.Ranks.withGlobalRank]] over score-range buckets — no
    * fact-sized unpartitioned window), then an equi join on the computed
    * index against the |N|-row (idx, value) reference — no per-row search,
    * no interpolation floats, no driver-side count().
    */
  def quantileNormalize(df: DataFrame, grpCol: String, idCol: String,
                        scoreCol: String): DataFrame = {
    import graft.ops.Ranks
    val gw = Window.partitionBy(col(grpCol))
      .orderBy(col(scoreCol).asc, col(idCol).asc)
    val ranked = df
      .withColumn("__rn", row_number().over(gw).cast("long"))
      .withColumn("__ng", count(lit(1))
        .over(Window.partitionBy(col(grpCol))))
    val ref = Ranks.withGlobalRank(df,
        expr(s"$scoreCol DIV 100000"), // score-range buckets, monotone
        Seq(col(scoreCol).asc, col(idCol).asc), "__idx", "__n")
      .select(col("__idx"), col(scoreCol).as("norm_score"))
    val tot = df.agg(count(lit(1)).as("__nt"))
    ranked
      .crossJoin(broadcast(tot))
      .withColumn("__idx",
        when(col("__ng") === 1L, Ranks.idiv(col("__nt") + 1L, lit(2L)))
          .otherwise(Ranks.idiv((col("__rn") - 1L) * (col("__nt") - 1L),
            col("__ng") - 1L) + 1L))
      .join(ref, Seq("__idx"))
      .select(col(idCol), col(grpCol), col(scoreCol), col("norm_score"))
  }

  /** DETERMINISTIC NEGATIVE SAMPLING for implicit-feedback training: per
    * user, the m non-interacted items with the smallest 48-bit md5 of
    * (user, item) — a uniform-at-random-by-hash draw that is reproducible
    * across runs/engines (the requirement that `rand()` negatives can never
    * meet), excludes positives exactly (anti join), and ties/order are
    * pinned by the hash itself.
    *
    * Scale shape: the scored candidate space is users × items, but the
    * executed path applies a THRESHOLD pre-filter h < T with
    * T = m·c·2⁴⁸/|items| (safety factor c = 8) INSIDE the candidate
    * generation — the broadcast-nested-loop join pipelines generate→hash→
    * filter in the mappers, so only ~m·c rows per user (not |items|) ever
    * reach the shuffle feeding the anti join and the
    * WindowGroupLimit-capped top-m window.
    *
    * The filter is EXACT, not approximate: it keeps ALL candidates with
    * h < T, so any user retaining ≥ m non-positive candidates below T has
    * their true top-m entirely inside the kept set (everything cut had
    * h ≥ T, above all m kept). Users left short (< m survivors — e.g.
    * nearly all their sub-threshold items were positives) are detected by
    * a per-user count and re-scanned against the FULL item space; with
    * c = 8 the expected survivor count is 8m, so the fallback set is
    * empty or tiny. Output is bit-identical to the unfiltered formulation
    * (the oracle runs the unfiltered one).
    */
  def negativeSample(users: DataFrame, userCol: String, items: DataFrame,
                     itemCol: String, positives: DataFrame,
                     m: Int): DataFrame = {
    // |items| is a one-scalar metadata action (same class as the bounded
    // convergence checks elsewhere); T caps at 2⁴⁸ = filter disabled.
    val nItems = items.count().max(1L)
    val thr = (BigInt(m) * 8 * (BigInt(1) << 48) / nItems)
      .min(BigInt(1) << 48).toLong
    def candidates(us: DataFrame, pre: Option[Long]): DataFrame =
      negCandidates(us, userCol, items, itemCol, positives, pre)
    val kept = candidates(users, Some(thr)).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val short = kept.groupBy(col(userCol))
      .agg(count(lit(1)).as("__k")).filter(col("__k") < m)
      .select(col(userCol))
    val scored = kept.join(broadcast(short), Seq(userCol), "left_anti")
      .unionByName(candidates(users.join(broadcast(short), Seq(userCol),
        "left_semi"), None))
    val w = Window.partitionBy(col(userCol)).orderBy(col("h").asc)
    scored.withColumn("neg_rank", row_number().over(w).cast("long"))
      .filter(col("neg_rank") <= m)
  }

  /** [[negativeSample]]'s candidate stage, exposed for plan-posture
    * pinning: generate (user, item, h) and anti-join out the positives,
    * with the optional h < thr pre-filter applied INSIDE the generating
    * join so sub-threshold rows never reach the shuffle. */
  private[graft] def negCandidates(users: DataFrame, userCol: String,
                                   items: DataFrame, itemCol: String,
                                   positives: DataFrame,
                                   thr: Option[Long]): DataFrame = {
    val h = conv(substring(md5(
      concat(col(userCol).cast("string"), lit("|"),
        col(itemCol).cast("string"))), 1, 12), 16, 10).cast("long")
    val gen = users.select(col(userCol))
      .crossJoin(items.select(col(itemCol)))
      .withColumn("h", h)
    thr.fold(gen)(t => gen.filter(col("h") < t))
      .join(positives.select(col(userCol), col(itemCol)),
        Seq(userCol, itemCol), "left_anti")
  }

  /** PROPORTIONAL ALLOCATION by LARGEST REMAINDER (Hamilton method) + a
    * deterministic hash draw: split a fixed sample budget T across strata
    * exactly proportionally — quota_s = ⌊T·N_s/N⌋ plus one for the largest
    * remainders (T·N_s mod N, ties by stratum name) until the budget is
    * spent — then take each stratum's quota_s members with the smallest
    * md5(key). Integer arithmetic end to end: the allocation sums to T
    * EXACTLY, every run and every engine (the floor-only allocation can be
    * short by up to |strata|−1; naive rounding can overshoot — both break
    * "the sample is exactly T rows").
    *
    * Complements [[stratifiedSample]] (per-stratum FRACTION) with the
    * fixed-BUDGET design a labeling/eval pipeline needs. Scale shape: the
    * allocation runs on the |strata|-row aggregate (one window over ≤ a few
    * thousand rows); the draw is a broadcast quota join + a
    * WindowGroupLimit-capped per-stratum top-quota.
    */
  def proportionalAllocate(df: DataFrame, strataCol: String, keyCol: String,
                           budget: Long): DataFrame = {
    val counts = df.groupBy(col(strataCol))
      .agg(count(lit(1)).as("n_s"))
    val total = df.count()
    val base = counts
      .withColumn("floor_q", expr(s"($budget * n_s) DIV $total"))
      .withColumn("rem", expr(s"($budget * n_s) % $total"))
    val needed = budget - base.agg(sum(col("floor_q"))).head.getLong(0)
    val remW = Window.orderBy(col("rem").desc, col(strataCol).asc)
    val quotas = base
      .withColumn("__rr", row_number().over(remW))
      .withColumn("quota",
        col("floor_q") + when(col("__rr") <= needed, 1L).otherwise(0L))
      .select(col(strataCol), col("quota"))
    val hw = Window.partitionBy(col(strataCol))
      .orderBy(col("__h").asc)
    df.select(col(keyCol), col(strataCol))
      .withColumn("__h", conv(substring(md5(col(keyCol).cast("string")),
        1, 12), 16, 10).cast("long"))
      .withColumn("__rn", row_number().over(hw).cast("long"))
      .join(broadcast(quotas), Seq(strataCol))
      .filter(col("__rn") <= col("quota"))
      .select(col(keyCol), col(strataCol), col("quota"))
  }

  /** HORVITZ–THOMPSON estimation gate for [[proportionalAllocate]]: per
    * stratum, the true total of `valCol`, the sampled total, and the HT
    * estimate (sample_sum · N_s / quota — each unit's inverse inclusion
    * probability, a single pinned double division from BIGINT operands).
    * The "how wrong is the sample" measurement that should accompany every
    * down-sampling decision — same measured-not-guessed discipline as the
    * ANN (q168) and LSH (q177) gates: the estimate and the truth sit in
    * one row, and the whole evaluation is oracle-checkable.
    */
  def htEstimate(df: DataFrame, strataCol: String, keyCol: String,
                 valCol: String, budget: Long): DataFrame = {
    // persisted: the base feeds the quota allocation, the truth census,
    // and the sample join — uncached, its scan replans per consumer
    // (plan census r8). Persist a DERIVED projection, not the caller's
    // df: persisting `df` itself would mutate the caller-visible storage
    // level of a frame this function doesn't own, and the 3-column
    // projection is the narrower cache anyway.
    val base = df.select(col(keyCol), col(strataCol), col(valCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sampled = proportionalAllocate(base, strataCol, keyCol, budget)
      .select(col(keyCol), col("quota"))
    val truth = base.groupBy(col(strataCol))
      .agg(count(lit(1)).as("n_s"), sum(col(valCol)).as("true_sum"))
    val sample = base.join(sampled, Seq(keyCol))
      .groupBy(col(strataCol))
      .agg(sum(col(valCol)).as("sample_sum"), max(col("quota")).as("quota"))
    truth.join(sample, Seq(strataCol))
      .select(col(strataCol), col("n_s"), col("quota"), col("true_sum"),
        col("sample_sum"),
        (col("sample_sum").cast("double") * col("n_s") / col("quota"))
          .as("ht_est"))
  }

  def stratifiedSample(df: DataFrame, strataCol: String, keyCol: String,
                       n: Int): DataFrame = {
    val w = Window.partitionBy(col(strataCol))
      .orderBy(md5(col(keyCol).cast("string")).asc, col(keyCol).asc)
    df.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= n)
  }

  /** Decile (n-bin) statistics of order value: ntile over the total order
    * (cents, then key — fully deterministic), then per-bin count/min/max/sum.
    * ntile needs a GLOBAL sort (single-partition window) — correct up to
    * ~10^8 rows; the 100 TB path replaces it with approx-quantile boundaries
    * + a broadcast range join, same output schema. */
  def quantileBins(orders: DataFrame, nBins: Int): DataFrame = {
    import graft.ops.Ranks
    val cents = round(col("o_totalprice") * 100).cast("long")
    // distributed ntile (Ranks): per-million-cents value buckets are
    // monotone in the sort key; no fact-sized unpartitioned window
    Ranks.withGlobalRank(
        orders.select(col("o_orderkey"), cents.as("price_cents")),
        expr("price_cents DIV 1000000"),
        Seq(col("price_cents").asc, col("o_orderkey").asc), "__rn", "__n")
      .withColumn("bin", Ranks.ntileFromRank(col("__rn"), col("__n"), nBins))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        min(col("price_cents")).as("min_cents"),
        max(col("price_cents")).as("max_cents"),
        sum(col("price_cents")).as("sum_cents"))
  }

  /** Pairwise Pearson correlation of (quantity, price, discount) from
    * integer sufficient statistics — one pass, partial-aggregable, exact
    * operands. Units chosen so every int64 sum of products stays in range
    * at sf ≥ 1 (dollars not cents, q41's lesson); the derived doubles are
    * bit-identical cross-engine because every operand and operation-order
    * matches. Built-in corr() streams Welford-style and would NOT match. */
  def corrMatrix(lineitem: DataFrame): DataFrame = {
    val base = lineitem.select(
      col("l_quantity").cast("long").as("q"),
      round(col("l_extendedprice")).cast("long").as("p"), // dollars
      round(col("l_discount") * 100).cast("long").as("d")) // percent
    val stats = base.agg(
      count(lit(1)).as("n"),
      sum(col("q")).as("sq"), sum(col("p")).as("sp"), sum(col("d")).as("sd"),
      sum(col("q") * col("q")).as("sqq"), sum(col("p") * col("p")).as("spp"),
      sum(col("d") * col("d")).as("sdd"), sum(col("q") * col("p")).as("sqp"),
      sum(col("q") * col("d")).as("sqd"), sum(col("p") * col("d")).as("spd"))
    def corr(n: Column, sx: Column, sy: Column, sxy: Column,
             sxx: Column, syy: Column): Column = {
      val nd = n.cast("double")
      val cov = nd * sxy.cast("double") - sx.cast("double") * sy.cast("double")
      val vx = nd * sxx.cast("double") - sx.cast("double") * sx.cast("double")
      val vy = nd * syy.cast("double") - sy.cast("double") * sy.cast("double")
      cov / (sqrt(vx) * sqrt(vy))
    }
    stats.select(
      col("n"),
      corr(col("n"), col("sq"), col("sp"), col("sqp"), col("sqq"), col("spp"))
        .as("corr_qty_price"),
      corr(col("n"), col("sq"), col("sd"), col("sqd"), col("sqq"), col("sdd"))
        .as("corr_qty_disc"),
      corr(col("n"), col("sp"), col("sd"), col("spd"), col("spp"), col("sdd"))
        .as("corr_price_disc"))
  }

  /** TF-IDF-style term scoring with a LOG-FREE idf,
    * score = tf · (N − df + 0.5) / (df + 0.5)  (BM25's idf ratio without the
    * ln): JVM Math.log and libm log disagree by 1 ulp on ~0.1% of inputs
    * (measured), so a cross-engine-exact pipeline must avoid transcendental
    * functions; the ratio preserves the ranking. Two shuffles: tf by
    * (doc, term), df by term; N broadcasts. */
  def tfidf(documents: DataFrame): DataFrame = {
    val words = documents
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    // persisted (plan census r9): tf feeds the df rollup, the doc count
    // AND the final join — uncached, the corpus-wide tokenize explode
    // replans once per consumer (3 documents scans)
    val tf = words.groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val df = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    // split() never yields an empty array (split("", " ") = [""]), so
    // every doc owns >=1 tf row and the distinct doc count over the
    // persisted tf IS count(*) over documents — no second corpus pass.
    // Two further assumptions make that identity (and the q59 oracle's
    // count(*) FROM documents) hold: text IS NOT NULL (explode(split(NULL))
    // yields zero rows, silently dropping the doc from n_docs while the
    // oracle still counts it) and doc_id is unique (a duplicate id would
    // collapse two oracle rows into one distinct). Both are fixture schema
    // contracts pinned by FixtureSchemaSpec; if a generator ever relaxes
    // them, coalesce text to '' upstream and count a keyed projection
    val n = tf.agg(countDistinct(col("doc_id")).as("n_docs"))
    tf.join(df, Seq("w")).crossJoin(broadcast(n))
      .select(col("doc_id"), col("w"), col("tf"), col("df"),
        (col("tf").cast("double") *
          ((col("n_docs") - col("df")).cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5))).as("score"))
  }

  /** Sequence packing: assign documents to fixed token-budget bins, greedily
    * in doc_id order WITHIN a content-hash shard — bin = exclusive running
    * token sum div budget. Sharding keeps the running sum a per-shard window
    * (one shuffle, no global sort) — exactly how you'd pack 100 TB: pack
    * within partitions, never across. */
  def packSequences(documents: DataFrame, budgetTokens: Long,
                    shards: Int): DataFrame = {
    val toks = TextAnalysis.tokenCountRegex(documents)
      .withColumn("shard", pmod(Dedup.contentId(col("doc_id").cast("string")),
        lit(shards.toLong)))
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    toks
      .withColumn("cum", sum(col("n_subword_tokens")).over(w))
      // integer DIV, not double '/': above ~2^53/budget the IEEE quotient
      // can round across a bin boundary while the oracle's exact `//` won't
      .select(col("doc_id"), col("shard"), col("n_subword_tokens"),
        expr(s"(cum - n_subword_tokens) DIV $budgetTokens").as("bin"))
  }

  /** Unicode-free text normalization: lowercase, non-alphanumeric → space,
    * collapse runs, trim; plus printable-ASCII flag and normalized length.
    * Pure per-row projection. */
  def normalizeText(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      trim(regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z0-9]+", " "),
        " +", " ")).as("norm_text"),
      // \z (end of INPUT) not $: Java's $ matches before a final newline,
      // so "abc\n" would wrongly count as printable-ASCII and diverge from
      // the oracle's RE2 $ (end of text)
      col("text").rlike("^[ -~]*\\z").as("is_ascii"))
      // norm_len derives from norm_text (single source for the regex chain)
      .withColumn("norm_len", length(col("norm_text")).cast("long"))

  /** Per-group feature scaling: population z-score AND min-max, both from
    * one pass of integer sufficient statistics broadcast back onto the rows
    * (two-phase standardization — the only way at 100 TB; built-in stddev
    * streams Welford-style and would not cross-check). All derived doubles
    * are division/sqrt chains over exact operands → bit-identical. */
  def standardize(df: DataFrame, grpCol: String, valCol: String): DataFrame = {
    val stats = df.groupBy(col(grpCol)).agg(
      count(lit(1)).as("n"), sum(col(valCol)).as("sx"),
      sum(col(valCol) * col(valCol)).as("sxx"),
      min(col(valCol)).as("mn"), max(col(valCol)).as("mx"))
    df.join(broadcast(stats), Seq(grpCol))
      .select(col(grpCol), col(valCol),
        // non-positive discriminant → variance 0: exact-zero variance, AND
        // the near-constant high-magnitude case where double cancellation
        // drives n·sxx − sx² slightly NEGATIVE (sqrt would be NaN here and a
        // hard error in DuckDB). Compare as DOUBLES: the int64 product n·sxx
        // overflows ANSI long at sf >= 0.1
        when(col("n").cast("double") * col("sxx").cast("double") -
          col("sx").cast("double") * col("sx").cast("double") <= 0.0, lit(0.0))
          .otherwise((col(valCol).cast("double") -
            col("sx").cast("double") / col("n").cast("double")) /
            sqrt((col("n").cast("double") * col("sxx").cast("double") -
              col("sx").cast("double") * col("sx").cast("double")) /
              (col("n").cast("double") * col("n").cast("double"))))
          .as("zscore"),
        when(col("mx") === col("mn"), lit(0.0))
          .otherwise((col(valCol) - col("mn")).cast("double") /
            (col("mx") - col("mn")).cast("double")).as("minmax"))
  }

  /** Feature hashing (the hashing trick): term → bucket = content-hash mod
    * `buckets`, counts per (doc, bucket) — fixed-width sparse features with
    * no vocabulary state at any scale. One shuffle. */
  def featureHashing(documents: DataFrame, buckets: Int): DataFrame =
    documents
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .select(col("doc_id"),
        pmod(Dedup.contentId(col("w")), lit(buckets.toLong)).as("bucket"))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(count(lit(1)).as("n"))

  /** Vocabulary encoding with an OOV bucket (StringIndexer semantics,
    * deterministic): ids 1..V by corpus frequency (count desc, term asc),
    * everything else 0. The vocabulary is broadcast-sized by construction. */
  def vocabEncode(documents: DataFrame, vocabSize: Int): DataFrame = {
    // ONE explode pass: corpus frequencies derive from the tf aggregate
    // (cnt = Σ tf), so the corpus is split and shuffled once, not twice
    val tf = documents
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
    val vocab = tf.groupBy(col("w")).agg(sum(col("tf")).as("cnt"))
      .withColumn("vocab_id", row_number().over(
        Window.orderBy(col("cnt").desc, col("w").asc)).cast("long"))
      .filter(col("vocab_id") <= vocabSize)
      .select(col("w"), col("vocab_id"))
    tf.join(broadcast(vocab), Seq("w"), "left")
      .select(col("doc_id"), col("w"), col("tf"),
        coalesce(col("vocab_id"), lit(0L)).as("vocab_id"))
  }

  /** Exact per-group percentiles by index selection: the value at row
    * ceil(p·n) in (value, tie) order — integer index arithmetic, no
    * interpolation, so any engine agrees exactly. One shuffle + per-group
    * sort (never global). */
  def groupPercentiles(df: DataFrame, grpCol: String, valCol: String,
                       tieCol: String): DataFrame = {
    // nulls LAST explicitly: Spark's bare asc is NULLS FIRST while SQL
    // engines (incl. the DuckDB oracle) default ASC to NULLS LAST — pin
    // the order so nullable inputs rank identically everywhere
    val w = Window.partitionBy(col(grpCol))
      .orderBy(col(valCol).asc_nulls_last, col(tieCol).asc_nulls_last)
    val ranked = df
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col(grpCol))))
    ranked.groupBy(col(grpCol))
      .agg(max(col("n")).as("n"),
        max(when(col("rn") === expr("(n + 1) DIV 2"), col(valCol))).as("p50"),
        max(when(col("rn") === expr("(n * 9 + 9) DIV 10"), col(valCol))).as("p90"),
        max(when(col("rn") === expr("(n * 99 + 99) DIV 100"), col(valCol))).as("p99"))
  }

  /** Chi-square independence statistics over a two-way contingency table —
    * the classic feature-selection score for categorical features against a
    * class label (select features whose cells deviate most from
    * independence). One aggregation for the cells; marginals join back as
    * broadcast-sized dimensions. Every expected count and contribution is
    * formed from bigint sufficient statistics with a pinned operation order
    * (exact-operand doubles), so the oracle reproduces it bit-for-bit. */
  def chiSquareCells(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    // marginals and the grand total are CELL SUMS (identical by algebra):
    // derive them from the persisted contingency cells so the input is
    // scanned once, not once per margin (the q318 mutual-info pattern;
    // plan census r8: 4 scans -> 1)
    val cells = df.groupBy(col(xCol), col(yCol)).agg(count(lit(1)).as("o"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rowTot = cells.groupBy(col(xCol)).agg(sum(col("o")).as("row_n"))
    val colTot = cells.groupBy(col(yCol)).agg(sum(col("o")).as("col_n"))
    val n = cells.agg(sum(col("o")).as("n"))
    val e = col("row_n").cast("double") * col("col_n") / col("n")
    cells
      .join(broadcast(rowTot), Seq(xCol))
      .join(broadcast(colTot), Seq(yCol))
      .crossJoin(broadcast(n))
      .select(col(xCol), col(yCol), col("o"), e.as("expected"),
        ((col("o") - e) * (col("o") - e) / e).as("chi2_cell"))
  }

  /** Ordered per-key event-sequence assembly — the "conversation/session →
    * training sample" step of an LLM data pipeline: each user's event types
    * concatenated in (ts, event_id) order into one string, with bounds.
    * `listagg ... WITHIN GROUP` keeps the whole thing a single hash
    * aggregation (one shuffle, partial-aggregable); the total order on
    * (ts_us, event_id) makes the string deterministic. */
  def eventSequences(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts_us")).as("t_first_us"),
        max(col("ts_us")).as("t_last_us"),
        expr("listagg(event_type, '>') WITHIN GROUP (ORDER BY ts_us, event_id)")
          .as("seq"))

  /** Inverse-frequency class weights: weight(c) = N / (K · n_c) — the
    * standard balanced-class weighting, from one aggregation. Exact-operand
    * doubles (bigint ratios). */
  def classWeights(df: DataFrame, classCol: String): DataFrame = {
    val counts = df.groupBy(col(classCol)).agg(count(lit(1)).as("n"))
    val totals = counts.agg(sum(col("n")).as("total"),
      count(lit(1)).as("k"))
    counts.crossJoin(broadcast(totals))
      .select(col(classCol), col("n"),
        (col("total").cast("double") /
          (col("k") * col("n")).cast("double")).as("weight"))
  }

  /** Robust per-group outlier statistics via median absolute deviation,
    * entirely in integers: med2 = 2·median(cents) (the doubling makes the
    * even-count interpolated median exact in BIGINT), d = |2·x − med2| =
    * 2·|x − median|, mad4 = 2·median(d) = 4·MAD, and the classic
    * "|x − med| > 3·MAD" outlier rule becomes the cross-multiplied
    * `2·d > 3·mad4`. No doubles anywhere — every value and threshold is
    * exact, so any engine replays it bit-for-bit.
    *
    * Each median is the q42 machinery: row_number over (group, value, tie)
    * + the two middle ranks — one shuffle per pass; the group-constant
    * med2/mad4 travel via joins on the group key (broadcast-sized: one row
    * per group).
    */
  def madOutlierStats(df: DataFrame, groupCol: String, cents: Column,
                      tie: Column): DataFrame = {
    // materialized once: the median pass, the deviation join and the
    // outlier aggregate all re-read it — uncut, the source fact scanned
    // NINE times (measured in the formatted plan)
    val base = df.select(col(groupCol).as("g"), cents.as("c"), tie.as("tid"))
      .filter(col("c").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def med2Of(in: DataFrame, v: String): DataFrame = {
      val w = Window.partitionBy(col("g")).orderBy(col(v).asc, col("tid").asc)
      val cnt = in.groupBy(col("g")).agg(count(lit(1)).as("n"))
      in.withColumn("rn", row_number().over(w))
        .join(broadcast(cnt), Seq("g"))
        .filter(col("rn") === expr("(n + 1) DIV 2") ||
          col("rn") === expr("n DIV 2 + 1"))
        .groupBy(col("g"))
        .agg(expr(s"sum($v) * 2 DIV count(1)").as(s"${v}_med2"))
    }
    val m = med2Of(base, "c")
    val dev = base.join(broadcast(m), Seq("g"))
      .withColumn("d", abs(col("c") * 2 - col("c_med2")))
    val mm = med2Of(dev.select(col("g"), col("d"), col("tid")), "d")
    dev.join(broadcast(mm), Seq("g"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n"),
        max(col("c_med2")).as("med2"),
        max(col("d_med2")).as("mad4"),
        sum(when(col("d") * 2 > col("d_med2") * 3, 1L).otherwise(0L))
          .as("n_outliers"))
      .withColumnRenamed("g", groupCol)
  }

  /** Deterministic weighted priority sampling without replacement: per
    * group, the k rows with the smallest priority = hash(id) / weight.
    * Heavier rows draw systematically smaller priorities, so selection
    * probability grows with weight (the division-ordered analogue of the
    * Efraimidis–Spirakis exponential-key reservoir — `-ln(u)/w` is replaced
    * by `u/w` because transcendentals are banned by the cross-engine
    * determinism contract; the ORDER statistics differ but the operator
    * semantics — weight-biased, deterministic, without-replacement,
    * mergeable — are the same).
    *
    * Scale shape: the priority is a narrow map expression; per-group top-k
    * is the WindowGroupLimit pattern (rank ≤ k plans a partial limit below
    * the exchange — each mapper emits at most k rows per group, so the
    * shuffle carries O(groups·k), not the corpus).
    */
  def weightedSample(df: DataFrame, grpCol: String, idCol: String,
                     weightCol: String, k: Int): DataFrame = {
    val pri = Dedup.contentId(col(idCol).cast("string")).cast("double") /
      col(weightCol).cast("double")
    val w = Window.partitionBy(col(grpCol))
      .orderBy(col("pri").asc, col(idCol).asc)
    df.select(col(grpCol), col(idCol), col(weightCol))
      .withColumn("pri", pri)
      .withColumn("rk", row_number().over(w).cast("int"))
      .filter(col("rk") <= k)
  }

  /** Leave-one-out target encoding: each row's category is replaced by the
    * mean target of the OTHER rows in the same category —
    * (Σ_g − y_i) / (n_g − 1) — the standard leakage-guard for high-
    * cardinality categorical features (plain mean encoding leaks the row's
    * own label). Singleton categories encode as NULL (no other rows to
    * average).
    *
    * One exchange on the category for the two same-spec window sums; the
    * encoding itself is a narrow map of exact BIGINT operands into one
    * double division.
    */
  def targetEncodeLOO(df: DataFrame, catCol: String, idCol: String,
                      targetCents: Column): DataFrame = {
    val w = Window.partitionBy(col(catCol))
    df.select(col(idCol), col(catCol), targetCents.as("y_cents"))
      .withColumn("sum_g", sum(col("y_cents")).over(w))
      .withColumn("n_g", count(lit(1)).over(w))
      .withColumn("loo_cents",
        when(col("n_g") > 1L,
          (col("sum_g") - col("y_cents")).cast("double") /
            (col("n_g") - 1L).cast("double")))
  }

  /** Per-group winsorization: values clipped to the group's exact
    * [⌈0.05·n⌉-th, ⌈0.95·n⌉-th] order statistics (integer ranks — the same
    * exact-percentile machinery as groupPercentiles, no interpolation, so
    * the bounds are actual data values and engine-exact). Emits the clipped
    * value plus which side (if any) was clipped.
    *
    * Scale shape: the bounds are located on the REDUCED VALUE DOMAIN —
    * `groupBy(g, c).count` first, then a running count over the per-group
    * distinct-value series finds the value v whose cumulative count spans
    * the target rank (cum − cnt < k ≤ cum ⇔ v is the k-th order
    * statistic, ties included). The group-partitioned window therefore
    * runs over |distinct values per group|, not |rows per group| — a
    * 3-value partition key no longer caps parallelism at 3 tasks holding
    * a third of the fact table each. The per-group bounds are one row per
    * group and travel back via a broadcast join.
    */
  def winsorize(df: DataFrame, grpCol: String, idCol: String,
                cents: Column): DataFrame = {
    val base = df.select(col(grpCol).as("g"), col(idCol).as("id"),
      cents.as("c")).filter(col("c").isNotNull)
    val dom = base.groupBy(col("g"), col("c")).agg(count(lit(1)).as("cnt"))
    val wOrd = Window.partitionBy(col("g")).orderBy(col("c").asc)
    val bounds = dom
      .withColumn("cum", sum(col("cnt")).over(wOrd))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col("g"))))
      .withColumn("kLo", expr("(n * 5 + 99) DIV 100"))
      .withColumn("kHi", expr("(n * 95 + 99) DIV 100"))
      .groupBy(col("g"))
      .agg(max(when(col("cum") - col("cnt") < col("kLo") &&
          col("kLo") <= col("cum"), col("c"))).as("lo"),
        max(when(col("cum") - col("cnt") < col("kHi") &&
          col("kHi") <= col("cum"), col("c"))).as("hi"))
    base.join(broadcast(bounds), Seq("g"))
      .select(col("g").as(grpCol), col("id").as(idCol), col("c"),
        least(greatest(col("c"), col("lo")), col("hi")).as("c_winsor"),
        col("lo"), col("hi"),
        when(col("c") < col("lo"), -1)
          .when(col("c") > col("hi"), 1).otherwise(0).as("clipped"))
  }

  /** Exact two-sample KOLMOGOROV–SMIRNOV numerator per group: the two
    * populations are `halfCol` 0/1; the statistic's numerator
    * `max |cum1·n2 − cum2·n1|` is an exact BIGINT (KS = num / (n1·n2),
    * division left to the consumer). The numeric-feature drift test
    * between two loads/crawls — the continuous complement of the
    * categorical chi-square cells (chiSquareCells) and the sign-bucket
    * embedding drift census.
    *
    * Scale shape: reduced-domain discipline — rows collapse to one per
    * (group, value) first; the running sums and the max are over the
    * distinct-value series, partial-aggregable at the end. Products stay
    * < 2^63 for populations up to ~3·10^9 per group.
    */
  def ksDrift(df: DataFrame, grpCol: String, halfCol: String,
              cents: Column): DataFrame = {
    val dom = df.select(col(grpCol).as("g"), col(halfCol).as("h"),
        cents.as("c"))
      .groupBy(col("g"), col("c"))
      .agg(sum(when(col("h") === 0, 1L).otherwise(0L)).as("cnt1"),
        sum(when(col("h") =!= 0, 1L).otherwise(0L)).as("cnt2"))
    val wOrd = Window.partitionBy(col("g")).orderBy(col("c"))
    val wAll = Window.partitionBy(col("g"))
    dom
      .withColumn("cum1", sum(col("cnt1")).over(wOrd))
      .withColumn("cum2", sum(col("cnt2")).over(wOrd))
      .withColumn("n1", sum(col("cnt1")).over(wAll))
      .withColumn("n2", sum(col("cnt2")).over(wAll))
      .groupBy(col("g").as(grpCol))
      .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
        max(abs(col("cum1") * col("n2") - col("cum2") * col("n1")))
          .as("ks_num"))
  }

  /** Exact MANN–WHITNEY U (two-sided rank-sum) between populations A/B of
    * `halfCol` 0/1, with AVERAGE ranks for ties kept integer by doubling:
    * for a value spanning combined positions p+1..p+cnt, 2·avgRank =
    * 2p + cnt + 1, so 2·R1 = Σ cnt1·(2p + cnt + 1) and
    * 2·U1 = 2·R1 − n1·(n1+1) are exact BIGINTs. The nonparametric
    * "did the distribution shift" test that KS complements (KS is
    * max-deviation, U is stochastic dominance).
    *
    * Same reduced-domain shape as [[ksDrift]]: one row per (group, value)
    * before any window.
    */
  def mannWhitney(df: DataFrame, grpCol: String, halfCol: String,
                  cents: Column): DataFrame = {
    val dom = df.select(col(grpCol).as("g"), col(halfCol).as("h"),
        cents.as("c"))
      .groupBy(col("g"), col("c"))
      .agg(sum(when(col("h") === 0, 1L).otherwise(0L)).as("cnt1"),
        sum(when(col("h") =!= 0, 1L).otherwise(0L)).as("cnt2"))
      .withColumn("cnt", col("cnt1") + col("cnt2"))
    val wOrd = Window.partitionBy(col("g")).orderBy(col("c"))
    dom
      .withColumn("p", coalesce(sum(col("cnt")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .groupBy(col("g").as(grpCol))
      .agg(sum(col("cnt1")).as("n1"), sum(col("cnt2")).as("n2"),
        sum(col("cnt1") * (col("p") * 2 + col("cnt") + 1)).as("r1_x2"))
      .withColumn("u1_x2",
        col("r1_x2") - col("n1") * (col("n1") + 1))
  }

  /** Deterministic EPOCH-SHUFFLE shard plan: for each epoch, every doc is
    * assigned a shard by 48-bit `md5(epoch|doc_id)` and a position within
    * the shard by that same hash order (ties by doc_id) — the shard-local
    * shuffle real training loaders run (global shuffles don't scale; a
    * per-shard permutation that changes every epoch does). Reproducible
    * end to end: same corpus + epoch ⇒ the same plan on any engine.
    *
    * Scale shape: hash projection + a window PARTITIONED by (epoch,
    * shard) — parallelism is epochs × shards, never a global sort.
    */
  def epochShufflePlan(documents: DataFrame, epochs: Int,
                       shards: Int): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val ep = spark.createDataset(0 until epochs).toDF("epoch")
      .withColumn("epoch", col("epoch").cast("long"))
    val hashed = documents.select(col("doc_id")).crossJoin(ep)
      .withColumn("h", expr(
        "CAST(conv(substr(md5(concat(CAST(epoch AS STRING), '|', " +
          "CAST(doc_id AS STRING))), 1, 12), 16, 10) AS BIGINT)"))
      .withColumn("shard", pmod(col("h"), lit(shards.toLong)))
    hashed
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("epoch"), col("shard"))
          .orderBy(col("h"), col("doc_id"))).cast("long"))
      .select(col("epoch"), col("shard"), col("pos"), col("doc_id"),
        col("h"))
  }
}

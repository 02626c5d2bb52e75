package graft

import org.apache.spark.sql.DataFrame

/** Partition-count invariance: the 1000-executor determinism check.
  *
  * On a real cluster the engine never controls how many reducers a stage
  * gets (`spark.sql.shuffle.partitions`, AQE coalescing, executor loss all
  * move it), so any query whose RESULT depends on the partition count is
  * broken at scale even if every fixture run happens to agree. The
  * dangerous surface is order-sensitive semantics: mode/top-k tie-breaks,
  * latest-per-key, list aggregations, connected-component label election,
  * sampling keyed on hashes. Each of those is designed here to pin ties on
  * a total order (key asc, doc_id asc, ...) precisely so the answer is a
  * pure function of the DATA — this spec executes that claim instead of
  * assuming it, running each query at 3 and then 17 shuffle partitions
  * (the suite default is 4 — three distinct layouts in total) and
  * asserting bit-identical row sets.
  *
  * AQE stays ON (production posture); what varies is the initial shuffle
  * layout, which is exactly what varies in the wild.
  */
class ParallelismInvarianceSpec extends SparkSpec {

  /** Queries with order-sensitive semantics (tie-breaks, per-group top-k,
    * label election, hash sampling, list agg) — the ones a partition-count
    * dependence would corrupt first. */
  private val Pinned = Seq(
    "q05_topk_nations",        // top-K by frequency, count ties
    "q06_mode_segment",        // deterministic mode tie-break
    "q13_latest_per_key",      // latest-per-key
    "q48_neardup_clusters",    // connected-components min-id election
    "q107_pagerank",           // iterative integer masses (sum order-free)
    "q129_weighted_sample",    // per-group weighted top-k
    "q158_topk_list",          // ordered list aggregation
    "q314_weighted_reservoir", // hash-keyed reservoir with pinned ties
    "q296_bootstrap_ci",       // replicate means over integer-cent sums
    // similarity top-k through TopK: (cos, n_id) ranks, c_id-asc
    // assignment, the label-filtered all-pairs source, and the
    // round-robin corpus split whose width is the partition count
    "q27_ann_topk",
    "q134_hard_negatives",
    "q153_mutual_knn",
    "q236_knn_accuracy",
    // r8 census-persisted queries: a persist() must not freeze a
    // layout-dependent result (it caches whatever the first action saw),
    // so the queries that gained persists + repartitions this round get
    // the same invariance check
    "q196_time_to_convert",    // rank-median over persisted cohorts
    "q230_ivm_join",           // repartition(key)+persist on both facts
    "q299_holdout_leakage",    // persisted split + shingle index
    "q351_weighted_jaccard",   // persisted shingle explode, self-join
    "q363_hist_intersect",     // totals as cell sums of persisted hist
    "q365_markov_eval",        // majority-vote tie-breaks over persists
    "q384_lsh_occupancy",      // persisted wide minhash, per-band unions
    // sketch-merge families: the partition count dictates HOW MANY partial
    // sketches exist and in WHAT ORDER they merge. Bitmap OR and CMS
    // counter addition are commutative-monoid merges (layout-free by
    // algebra — executed here, not argued); KLL is the interesting one:
    // its alternating-parity compaction is deterministic only per layout,
    // so the RAW estimate may move across layouts — but the shipped query
    // output is the ±2% rank GATE, and the sketch's ≲0.5% rank error keeps
    // the verdict bit identical under any merge order. These rows execute
    // exactly that contract at 3/4/17 partitions.
    "q140_sketch_rollup",      // bitmap build → OR-merge rollup tree
    "q166_sketch_overlap",     // bitmap AND/OR across stored sketches
    "q176_cms_estimate",       // CMS counter sums, point estimates
    "q213_bloom_member",       // Bloom bit-OR membership verdicts
    "q295_kll_gate",           // KLL estimate vs exact-rank gate
    "q320_kll_rollup",         // KLL blob store → merge-quantiles rollup
    // r10 causal/OPS batch (r10 punch #6): the transcendental-on-grid
    // queries are the likeliest to be layout-sensitive if a grid floor
    // ever sits above a float sum — execute the claim that every floor's
    // input is integer-exact or per-row
    "q388_bh_fdr",             // BH step-up over per-nation p-grid
    "q392_granger",            // lag regression, integer moments
    "q411_holt_unroll",        // Holt smoothing, fixed-round unroll
    "q414_erlang_c",           // Erlang-C recursion on integer grid
    // r11 batch: the unigram trainer's per-word top-1 windows break ties
    // on (score, path) total order; DSIR's resampling is hash-keyed
    "q419_unigram_lm",
    "q420_unigram_encode",
    "q421_dsir_resample",
    // r11 distributed-rank rewrites (ops/Ranks): the global rank is now
    // bucket offsets + in-bucket windows — the rank must be a pure
    // function of the data under any shuffle layout
    "q10_ordered_split",
    "q57_quantile_bins",
    "q182_purged_folds",
    "q183_calibration_bins",
    "q184_quantile_normalize",
    // HLL registers merge by max — commutative-monoid, layout-free by
    // algebra like the bitmap OR; executed here, not argued
    "q423_hll_registers",
    "q424_hll_rollup",
    "q426_hll_overlap",
    // r12 batch: theta/KMV k-smallest is an order statistic (a pure
    // function of the value SET — the partial WindowGroupLimit must not
    // leak layout); the prune round's loss rank and the nprobe sweep's
    // per-point top-k break ties on total orders; the SQL-text consumers
    // must agree with their DataFrame twins under any layout
    "q427_theta_sketch",
    "q428_unigram_prune",
    "q429_ivf_nprobe_sweep",
    "q430_sql_ivf_recall",
    "q431_sql_split_budget",
    "q432_ivf_trained_sweep",
    "q433_theta_rollup",
    // r12 continuation batch: the suffix-array rank chain is 15 stacked
    // windows whose dense_rank ties must resolve identically under any
    // layout (they do — the orderBy keys are total per partition by
    // construction); the LRS argmax breaks ties on (lcp, substring, p1);
    // WordPiece's argmax is a driver-side orderBy(1) whose score grid +
    // lexicographic tie-break must be layout-free; AMS sign sums and
    // minhash minima are commutative-monoid merges (layout-free by
    // algebra — executed here, not argued)
    "q434_suffix_array",
    "q435_longest_repeat",
    "q436_kneser_ney",
    "q437_wordpiece_merges",
    "q438_ams_f2",
    "q439_minhash_rollup",
    // the interval-island sweep orders by (s, e) over a distinct set —
    // total per doc; Good–Turing's count-of-counts is pure groupBy/join
    // but its persisted cc relation must not freeze a layout artifact
    "q440_repeat_coverage",
    "q441_good_turing",
    // the priority sample's global top-(k+1) and BM25's per-term top-5
    // break ties on total orders (priority/orderkey, score/doc_id); the
    // WindowGroupLimit's map-side partials must not leak layout
    "q442_priority_sample",
    "q443_bm25_topk",
    // SQL-text twins must agree with their DataFrame siblings under any
    // layout (same inlined plan, same total-order tie-breaks)
    "q444_sql_bm25",
    "q445_sql_suffix_stats",
    // aHash band values are order-free sums over cell bits; the
    // candidate stats come from a distinct banded self-join
    "q446_image_ahash",
    // the perplexity filter's keep flag rides the distributed global
    // rank with (natsq, doc_id) total-order ties
    "q447_ppl_filter",
    // theta A-not-B: per-set k+1-smallest via WindowGroupLimit with a
    // total order on hv (distinct 48-bit hashes — collision-free on the
    // fixture keys), anti-join + one-row pivots are order-free
    "q448_theta_anotb",
    // HDR histogram: bucket counts are commutative-monoid merges; the
    // exact side rides the distributed global rank on (v) whose value at
    // a given rank is layout-free even under v-ties
    "q449_hdr_histogram",
    // ROUGE overlaps are order-free clipped-count sums over a distinct
    // banded candidate set
    "q450_rouge_pairs",
    // dHash band values are order-free sums over local-gradient bits
    "q451_image_dhash",
    // WL colors: sort_array(collect_list) canonicalizes the neighbor
    // multiset, so the md5 is layout-free; LPA's argmax breaks ties on
    // (count, label) — total per node
    "q452_wl_colors",
    "q453_label_prop",
    // BLEU clips are order-free least-sums over a distinct candidate
    // set; the lead() n-gram windows are doc-partitioned with total
    // (doc, pos) order
    "q454_bleu_pairs",
    // the largest-remainder rank runs over the source DOMAIN with a
    // (rem, source) total order; isqrt is a pure row function
    "q455_temperature_mix",
    // modularity terms are sums over the LPA labels, whose ties are
    // total per node
    "q456_modularity_report",
    // MG counters are exact per-week counts minus a rank-derived
    // threshold with (f, item) total-order ties; the merge rank runs
    // over the bounded candidate set with (cm, item) ties
    "q457_mg_rollup",
    // the DKW band is pure integer arithmetic off one count; value
    // bounds ride the distributed global rank
    "q458_dkw_band",
    // SQL-text twin must agree with q456 under any layout
    "q459_sql_modularity",
    // ZCR/energy frames ride a doc-partitioned lag with total (doc, pos)
    // order; the fingerprint canonicalizes frame order via array_sort
    "q460_audio_zcr",
    // tiers ride the distributed global rank + exact ntile formula with
    // (n_chars, doc_id) total-order ties
    "q461_curriculum_tiers",
    // triangle enumeration and supports are order-free joins/sums over
    // ordered edge lists; the survivorship argmax breaks ties on
    // (n_chars, doc_id) — total per cluster
    "q462_clustering_coeff",
    "q463_ktruss",
    "q464_cluster_canon",
    // feedback sets and expansion ranks break ties on total orders
    // (score/doc_id, weight/term); the grid weight is a per-row floor
    "q465_rm3_expansion",
    // HITS half-steps are order-free long sums; normalization is a
    // single-row broadcast total
    "q466_hits_scores",
    // counters are signed long sums per (row, bucket); median-of-3 is
    // sum−max−min, order-free
    "q467_count_sketch",
    // every ranked list breaks ties on (cos, n_id) total order; the
    // candidate union is DISTINCT before re-rank
    "q468_nn_descent",
    // risk sets are suffix sums over the bounded duration domain; the
    // last-event pick breaks ties on (ts_us, event_id)
    "q469_logrank_test",
    // PAV max-min runs over domain-bounded prefix sums — pure integer
    // joins/aggregates
    "q470_isotonic_pav",
    // the co-occurrence edge set is DISTINCT; PageRank masses are the
    // q107 exact fixed-point; rank ties on (mass, word)
    "q471_textrank_keywords",
    // per-nation distance sums are order-free; the profile argmin breaks
    // ties on (dist, j); positions ride a per-nation week order (unique)
    "q472_matrix_profile",
    // bitmaps are bit_or monoids — commutative and idempotent
    "q473_fm_sketch",
    // boundary detection is stateless per position; chunk census is
    // order-free counts/sums over content hashes
    "q474_cdc_chunks",
    // register max-merge is a commutative-idempotent monoid (the
    // HyperBall theorem itself); exact-ball pairs go through DISTINCT
    "q475_hyperball",
    // the SQL-text twin must agree with q470 under any layout; the view
    // is persisted — the cache must not freeze a layout artifact
    "q476_sql_pav_twin",
    // phrase assembly sorts (pos, w) inside each doc-local group; the
    // top-20 rank breaks ties on (score, phrase) total order
    "q477_rake_keyphrases",
    // window minima are order-free; the fingerprint SET goes through
    // DISTINCT and the md5-sum pin is an order-free sum
    "q478_winnowing_fps",
    // two aggregates + a 10-row cross join — all order-free sums/counts
    "q479_loo_target_enc",
    // prefix sums/minima ride the (nation, week) total order — unique
    // keys, no ties for the layout to break
    "q480_cusum_alarms",
    // RA terms are order-free integer sums; top-20 ties on (ra, s1, s2)
    "q481_ra_linkpred",
    // moments are order-free sums; the sentinel branch is value-driven
    "q482_acf_weekly",
    // per-part top-3 ties on (cos2, c12, p2) total order
    "q483_item_item_top3",
    // contingency cells are order-free counts; top-20 ties on
    // (chi2_milli, w1, w2) — the emitted grain, same key both engines
    "q484_chi2_collocations",
    // parity split is value-driven (event_id % 2), bins are grid cells
    "q485_ece_report",
    // one row of order-free cell counts
    "q486_cohens_kappa",
    // first-doc is a min (order-free); checkpoint joins are counts
    "q487_heaps_census",
    // cell counts and aged sums are order-free; min-of-rows is a pure
    // function of the merged cells
    "q488_decayed_cms",
    // spread terms are order-free integer sums; the full-outer restart
    // is keyed; top-20 ties on (mass, node)
    "q489_personalized_pr",
    // three distributed global ranks (the ops/Ranks layout contract)
    // fused by an order-free sum; top-20 ties on (borda, doc_id)
    "q490_borda_fusion",
    // pair concordance counts are order-free sums over a DISTINCT-total-
    // order top-50; the top-50 itself rides the borda total order
    "q491_kendall_tau",
    // in-sums are order-free; the edge set is DISTINCT; rank ties on
    // (katz, word)
    "q492_katz_centrality",
    // the per-week top-(k+1) is an order statistic on the (pq, event_id)
    // total order — the map-side WindowGroupLimit must not leak layout
    "q493_priority_weekly",
    // the one global sample rides the same order statistic; subset
    // aggregation is an order-free sum over kept rows
    "q494_priority_subsets",
    // rank/cumshare ride the (freq, word) total order on the bounded
    // vocabulary domain
    "q495_zipf_census",
    // in-nation ranks ride the (x, custkey) total order; moments are
    // order-free sums
    "q496_gini_nations",
    // r13 batch 11: the BWT rides the SA rank chain (total per doc) and
    // canonicalizes the run string via array_sort(collect_list)
    "q497_bwt_runs",
    // pairwise votes are order-free sums over a DISTINCT head; the head
    // and the final rank break ties on (borda, doc_id)/(copeland, doc_id)
    "q498_copeland",
    // the CDF sweep orders on distinct merged support values (total per
    // pair); the persisted week relation must not freeze a layout
    "q499_wasserstein_weekly")

  private def runAt(name: String, partitions: Int): Seq[String] = {
    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", partitions.toString)
    // drop every cached relation first: otherwise the second runAt
    // re-registers the identical canonicalized plan, reuses the
    // InMemoryRelations the first run materialized, and the persisted
    // (upstream) stages never re-execute at the new partition count — a
    // layout-dependent result frozen inside a persist() would pass
    // undetected
    spark.sharedState.cacheManager.clearCache()
    try {
      val df: DataFrame = SparkEntry.queries(name)(spark, sf)
      // canonical row text: sort columns by name, then rows; string repr
      // is enough for equality (all outputs are ints/strings/doubles with
      // engine-exact values by construction). Delimiter is U+0001 — a
      // no-delimiter join would let adjacent columns ("ab","c") and
      // ("a","bc") collide and mask a real cross-layout diff; it was a
      // LITERAL 0x01 byte through r9, which rendered invisibly as "" and
      // got flagged twice as unfixed — now the visible escape
      val cols = df.columns.sorted.toSeq
      df.selectExpr(cols: _*).collect()
        .map(_.toSeq.map(String.valueOf).mkString("\u0001"))
        .sorted.toSeq
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", saved)
      spark.sharedState.cacheManager.clearCache()
    }
  }

  for (name <- Pinned)
    test(s"$name: identical results at 3, 4(default) and 17 shuffle partitions") {
      val base = runAt(name, 3)
      assert(base.nonEmpty, s"$name returned no rows at the spec fixture")
      val wide = runAt(name, 17)
      assert(base === wide,
        s"$name: result depends on the shuffle partition count — a " +
          "tie-break or label election is not pinned to a total order")
    }
}

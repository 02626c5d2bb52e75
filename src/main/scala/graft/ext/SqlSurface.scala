package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}

/** SQL-text reach into the DataFrame-only curation/dedup families.
  *
  * The engine's SQL front end already covers scalar/aggregate functions
  * (GraftFunctions.register — kll_sketch, bitmap_*, char_grams, ... usable
  * from `spark.sql`), SQL-defined functions (q246), raw-table SQL (q84) and
  * recursive CTEs (q97). What it could NOT reach were the whole-relation
  * curation operators (LSH pair generation, quality scoring, language id,
  * exact-dup grouping): those exist only as DataFrame transformers.
  *
  * Spark's idiomatic bridge for relation-valued operators is the catalog:
  * register each derived relation as a (lazy) temporary view, then compose
  * in SQL text. Views are unevaluated plans — Catalyst inlines them, so a
  * SQL query over `graft_neardup_pairs` gets the SAME physical plan as the
  * DataFrame pipeline (banded LSH join, broadcast verify), with pushdown
  * and pruning intact. (A custom table-valued function would need a
  * catalyst TableFunctionRegistry entry and buys nothing over a view for
  * fixed-argument relations.)
  */
object SqlSurface {

  /** Register the curation/dedup relations over `documents` as temp views:
    *  - graft_docs            the corpus itself
    *  - graft_quality         TextAnalysis.qualityScore (q31 semantics)
    *  - graft_langid          TextAnalysis.langId (q32 semantics)
    *  - graft_exact_dups      Dedup.exact content-hash groups (q20)
    *  - graft_neardup_pairs   Dedup.minhashLshPairs banded+verified (q23)
    *  - graft_simhash         Dedup.simhash 64-bit signatures (q24)
    * All lazy — nothing is computed until a SQL query consumes a view. */
  def registerCurationViews(spark: SparkSession, documents: DataFrame): Unit = {
    documents.createOrReplaceTempView("graft_docs")
    TextAnalysis.qualityScore(documents)
      .createOrReplaceTempView("graft_quality")
    TextAnalysis.langId(documents)
      .createOrReplaceTempView("graft_langid")
    Dedup.exact(documents)
      .createOrReplaceTempView("graft_exact_dups")
    Dedup.minhashLshPairs(documents, 3, 0.5)
      .createOrReplaceTempView("graft_neardup_pairs")
    Dedup.simhash(documents)
      .createOrReplaceTempView("graft_simhash")
  }

  /** The similarity-search relations as temp views (r12: the SQL-text
    * reach extended beyond curation/dedup per the round-11 verdict):
    *  - graft_embeddings      the corpus itself
    *  - graft_brute_topk      exact cosine top-5 for the 20-query set (q26)
    *  - graft_ivf_topk        IVF top-5, nprobe=2 (q28 semantics)
    * Same lazy-view discipline: Catalyst inlines the view plan, so a SQL
    * consumer of graft_ivf_topk gets the IDENTICAL bucketed physical plan
    * (broadcast centroids, inverted-list equi join, WindowGroupLimit
    * top-k) as the DataFrame pipeline — census-pinned by q430. */
  def registerSimilarityViews(spark: SparkSession,
                              embeddings: DataFrame): Unit = {
    embeddings.createOrReplaceTempView("graft_embeddings")
    Similarity.bruteForceTopK(embeddings, 20, 5)
      .createOrReplaceTempView("graft_brute_topk")
    Similarity.ivfTopK(embeddings, 20, 5, 100, 2)
      .createOrReplaceTempView("graft_ivf_topk")
  }

  /** The train-prep relations as temp views:
    *  - graft_split           leakage-free md5 hash split (q54 semantics)
    *  - graft_doc_tokens      token counts per doc (quality-gate input)
    * Lazy, like everything above. */
  def registerTrainPrepViews(spark: SparkSession,
                             documents: DataFrame): Unit = {
    TrainPrep.hashSplit(documents, "doc_id")
      .createOrReplaceTempView("graft_split")
    TextAnalysis.tokenStats(documents)
      .createOrReplaceTempView("graft_doc_tokens")
  }

  /** The text-index relations as temp views (r12 continuation — the
    * SQL-text reach extended to the suffix-array and retrieval families):
    *  - graft_suffix_ranks    per-doc suffix ranks by prefix doubling
    *                          (q434 semantics — 15 stacked doc-partitioned
    *                          windows, inlined intact through the view)
    *  - graft_bm25_postings   BM25-scored postings for the top-10-df
    *                          query terms (q443 semantics)
    * Lazy, like everything above: a SQL consumer gets the identical
    * physical plan the DataFrame pipeline compiles to. */
  def registerTextIndexViews(spark: SparkSession,
                             documents: DataFrame): Unit = {
    graft.Entries76.suffixRanks(documents)
      .createOrReplaceTempView("graft_suffix_ranks")
    TextAnalysis.bm25Postings(documents, 10)
      .createOrReplaceTempView("graft_bm25_postings")
  }

  /** The graph relations as temp views (r12 continuation — the q452/q453
    * family joins the SQL-text surface):
    *  - graft_coe_edges    co-engagement item pairs, i1 < i2 (q192
    *                       semantics: top-10 recency cap, support ≥ 2)
    *  - graft_lpa_labels   synchronous label-propagation assignment
    *                       after Entries79.LpaRounds rounds (q453)
    * The edges and the label chain are pinned in the session memo (lazily
    * — no action runs here): a SQL consumer referencing graft_lpa_labels
    * several times (the modularity pattern joins it three ways) shares ONE
    * InMemoryRelation, and the next run over the same events reuses it.
    * The views are per session, so every call registers them again. */
  def registerGraphViews(spark: SparkSession, events: DataFrame): Unit = {
    val (edges, labels) = graft.SessionMemo(events, "graph-views") { pin =>
      val edges = pin(Curation.coengagementPairs(events, 10, 2L)
        .select(org.apache.spark.sql.functions.col("i1"),
          org.apache.spark.sql.functions.col("i2")))
      val sym = pin(edges.selectExpr("i1 AS v", "i2 AS u")
        .unionByName(edges.selectExpr("i2 AS v", "i1 AS u")))
      (edges, pin(graft.Entries79.lpaLabels(sym)))
    }
    edges.createOrReplaceTempView("graft_coe_edges")
    labels.createOrReplaceTempView("graft_lpa_labels")
  }

  /** The calibration relation as a temp view (r13 — the SQL-text reach
    * extended to the train-prep calibration family):
    *  - graft_calib_bins   q470's $10-price-bin prefix-sum relation
    *                       (bin, n, s, cs, cw, psp, pwp)
    * Pinned in the session memo because the PAV max-min SQL consumes it in
    * three roles (j, k, i) — the same pin q470's DataFrame form holds. */
  def registerCalibrationViews(spark: SparkSession,
                               events: DataFrame): Unit =
    graft.SessionMemo(events, "calib-bins")(_(graft.Entries85.calibPre(events)))
      .createOrReplaceTempView("graft_calib_bins")
}

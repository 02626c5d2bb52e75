package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data curation operators — the corpus-hygiene passes a large-scale
  * LLM data pipeline runs between raw crawl and tokenizer: benchmark
  * decontamination, semantic (embedding-cluster) dedup, temperature-weighted
  * source mixing, repetition filtering, PII redaction, n-gram LM counts, and
  * link-graph PageRank for source-quality weighting.
  *
  * The reference has none of these (it is a retail feature store); they are
  * the §2.10 extension surface the rebuild targets. Every operator follows
  * the determinism policy: integer/rational arithmetic (or sqrt/div on
  * bit-identical operands) so a DuckDB oracle replays results exactly.
  */
object Curation {

  /** Benchmark decontamination: flag corpus docs sharing any word k-gram with
    * an eval/benchmark set (here: docs with doc_id % evalMod == 0, standing
    * in for an eval suite). Returns contaminated docs with the overlap count.
    *
    * Scale shape: the eval side is tiny by construction (benchmarks are
    * thousands of docs, the corpus is billions) — its distinct shingle ids
    * BROADCAST, so the corpus side is one scan + map-side semi join +
    * partial-aggregated count. No shuffle of corpus shingles. */
  def decontaminate(documents: DataFrame, k: Int = 5,
                    evalMod: Int = 97): DataFrame = {
    val evalGrams = Dedup.shingleIds(
        documents.filter(col("doc_id") % evalMod === 0), k)
      .select(col("sid")).distinct()
    Dedup.shingleIds(documents.filter(col("doc_id") % evalMod =!= 0), k)
      .join(broadcast(evalGrams), Seq("sid"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_eval_grams"))
  }

  /** Semantic dedup (SemDeDup shape): assign every embedding to its nearest
    * deterministic coarse centroid (`TopK.assign` over
    * `TopK.centroids(embeddings, centroidEvery)`), then drop any vector
    * whose cluster contains a LOWER-id vector with cosine >= threshold.
    * Returns (vec_id, cluster, keep).
    *
    * Scale shape: the pairwise pass is confined within clusters — O(Σ|c|²)
    * instead of O(N²); centroids broadcast; the intra-cluster join shuffles
    * on the cluster id only. At real scale feed spark.ml KMeans centroids
    * in place of the deterministic quantizer. */
  def semanticDedup(embeddings: DataFrame, centroidEvery: Int = 100,
                    threshold: Double = 0.4): DataFrame = {
    // persisted: the centroid assignment (a |vectors|×|centroids| cosine
    // pass + window) feeds three consumers (both sides of the in-cluster
    // pair join and the final keep projection) — uncached it replans per
    // consumer (plan census r8: 6 embedding scans -> 1)
    val assigned = TopK.assign(TopK.vectors(embeddings, "n"), "n",
        TopK.centroids(embeddings, centroidEvery))
      .select(col("n_id").as("vec_id"), col("n_emb").as("embedding"),
        col("c_id").as("cluster"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dupOf = assigned.as("x")
      .join(assigned.select(col("cluster"),
          col("vec_id").as("vec_id2"), col("embedding").as("emb2")),
        Seq("cluster"))
      .filter(col("vec_id2") < col("vec_id"))
      .filter(Similarity.cosine(col("embedding"), col("emb2")) >= threshold)
      .select(col("vec_id")).distinct()
      .withColumn("dup", lit(1))
    assigned.join(dupOf, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        when(col("dup").isNull, 1).otherwise(0).cast("int").as("keep"))
  }

  /** Temperature-weighted source mixing (alpha = 0.5): per-source sampling
    * rate proportional to sqrt(n_source), normalized so the LARGEST source
    * keeps rate 1 — i.e. rate_s = sqrt(n_s)/sqrt(n_max) = n_s^alpha scaled.
    * Sampling is a deterministic hash threshold: keep doc iff
    * hash48(doc_id) mod 2^20 < floor(rate * 2^20).
    *
    * Determinism: sqrt and division on bit-identical doubles (exact BIGINT
    * casts) are IEEE-exact cross-engine; the kept set is then pure integer
    * arithmetic. One count aggregation (tiny result, broadcast back) + one
    * scan — no data shuffle at any corpus size. */
  def mixtureSample(documents: DataFrame): DataFrame = {
    val counts = documents.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))
    val nMax = counts.agg(max(col("n_docs")).as("n_max"))
    val rates = counts.join(broadcast(nMax), lit(true))
      .withColumn("thr", floor(
        sqrt(col("n_docs").cast("double")) / sqrt(col("n_max").cast("double"))
          * lit(1048576L)).cast("long"))
    documents
      .withColumn("hbucket",
        Dedup.contentId(col("doc_id").cast("string")) % 1048576L)
      .join(broadcast(rates), Seq("source"))
      .groupBy(col("source"), col("n_docs"), col("thr"))
      .agg(sum(when(col("hbucket") < col("thr"), 1L).otherwise(0L))
        .as("n_sampled"))
  }

  /** Repetition filter (Gopher-style): per-doc word stats — total words,
    * max single-word frequency, distinct words, the modal word (count desc,
    * word asc tie-break) — and keep = the top word accounts for < 1/5 of
    * the doc (integer cross-multiplication, no division). One explode +
    * two-level aggregation, fully partial-aggregable. */
  def repetitionFilter(documents: DataFrame): DataFrame = {
    val wordCounts = documents
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
    // modal word via min(struct(-count, word)) — same (count desc, word asc)
    // tie-break as a row_number window, but partial-aggregable and sort-free
    wordCounts
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_words"),
        count(lit(1)).as("n_distinct"),
        max(col("c")).as("max_freq"),
        min(struct((-col("c")).as("nc"), col("w").as("w"))).as("top"))
      .select(col("doc_id"), col("n_words"), col("n_distinct"),
        col("max_freq"), col("top.w").as("top_word"))
      .withColumn("keep",
        when(col("max_freq") * 5 < col("n_words"), 1).otherwise(0).cast("int"))
  }

  /** PII-style redaction: mask digit runs in a string column with '#' and
    * count the digits removed (length delta over a digit-strip — identical
    * in any regex engine, unlike match-count or split semantics). Pure
    * per-row narrow map — codegen'd, no shuffle. */
  def redactDigits(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("redacted", regexp_replace(col(textCol), "[0-9]+", "#"))
      .withColumn("n_digits",
        (length(col(textCol)) -
          length(regexp_replace(col(textCol), "[0-9]", ""))).cast("long"))

  /** Corpus n-gram counts (the LM-smoothing / contamination-index build):
    * word k-gram → total occurrences + containing-doc count, kept when
    * occurrences >= minCount. Occurrences counts REPEATS within a doc
    * (unlike Dedup.shingles, which distincts per doc). Shuffles once on the
    * gram string; partial aggregation absorbs the head of the Zipf curve
    * map-side. */
  def ngramCounts(documents: DataFrame, k: Int = 2,
                  minCount: Long = 3): DataFrame =
    documents
      .withColumn("w", split(col("text"), " "))
      .filter(size(col("w")) >= k)
      // explode the POSITION sequence and slice per row instead of
      // explode(transform(...)): a transform lambda is CodegenFallback
      // (interpreted, one materialized gram array per row), while
      // sequence/explode/slice/concat_ws all stay in whole-stage codegen
      // (same pattern as chunkDocuments/langId)
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(1), size(col("w")) - (k - 1))).as("i"))
      .select(col("doc_id"),
        concat_ws(" ", slice(col("w"), col("i"), lit(k))).as("gram"))
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("n_occurrences"),
        count_distinct(col("doc_id")).as("n_docs"))
      .filter(col("n_occurrences") >= minCount)

  /** Sliding word-window chunking (the pretraining / RAG segmentation op):
    * one chunk per stride position, chunkWords words max, the tail chunk
    * clamped. Pure per-row generate (posexplode over an arithmetic
    * sequence) — narrow, codegen'd, no shuffle at any corpus size. */
  def chunkDocuments(documents: DataFrame, chunkWords: Int = 8,
                     stride: Int = 4): DataFrame =
    documents
      .withColumn("w", split(col("text"), " "))
      .select(col("doc_id"),
        posexplode(sequence(lit(1), size(col("w")), lit(stride)))
          .as(Seq("chunk_idx", "start")),
        col("w"))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        concat_ws(" ", slice(col("w"), col("start"), lit(chunkWords)))
          .as("chunk_text"),
        size(slice(col("w"), col("start"), lit(chunkWords)))
          .cast("long").as("n_chunk_words"))

  /** Asymmetric containment pairs (quote / subset detection, where Jaccard
    * is blind): containment(A→B) = |shingles(A) ∩ shingles(B)| / |shingles(A)|
    * — a short doc quoted whole inside a long one scores 1.0 while its
    * Jaccard is tiny. Emits ordered (src, host) pairs above the threshold.
    * Same shingle-id self-join skeleton as ngramJaccardPairs (one shuffle
    * on the 8-byte shingle id); int/int division is engine-exact. */
  def containmentPairs(documents: DataFrame, k: Int = 3,
                       threshold: Double = 0.8): DataFrame = {
    val sh = Dedup.shingleIds(documents, k).cache()
    val cnt = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    // intersections once per unordered pair (d1 < d2 halves the self-join
    // output); both containment directions then come from projections of
    // the same row — no second shuffle
    val inter = sh
      .join(sh.select(col("doc_id").as("doc_id2"), col("sid")), Seq("sid"))
      .filter(col("doc_id") < col("doc_id2"))
      .groupBy(col("doc_id"), col("doc_id2")).agg(count(lit(1)).as("ix"))
      .join(cnt.withColumnRenamed("n", "na"), Seq("doc_id"))
      .join(cnt.withColumnRenamed("n", "nb")
        .withColumnRenamed("doc_id", "doc_id2"), Seq("doc_id2"))
    // both directions fan out ROW-LOCALLY from the one pair row (explode,
    // not union): a union would make `inter` a two-consumer subtree and
    // replay the self-join + aggregate once per direction
    inter.select(explode(array(
        struct(col("doc_id").as("src_doc"), col("doc_id2").as("host_doc"),
          (col("ix").cast("double") / col("na")).as("containment")),
        struct(col("doc_id2").as("src_doc"), col("doc_id").as("host_doc"),
          (col("ix").cast("double") / col("nb")).as("containment"))))
        .as("r"))
      .select(col("r.src_doc"), col("r.host_doc"), col("r.containment"))
      .filter(col("containment") >= threshold)
  }

  /** Composite quality score (C4/Gopher-flavored): five integer signals —
    * word-count floor and ceiling, low single-word repetition, stopword
    * presence, sane mean word length — summed to a 0–5 score; keep means
    * all five pass. Division-free (cross-multiplied thresholds), so the
    * score is engine-exact; one explode + one per-doc aggregation. */
  def qualityComposite(documents: DataFrame): DataFrame = {
    val stop = Seq("the", "a", "of", "to", "and", "in", "is")
    documents
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_words"),
        max(col("c")).as("max_freq"),
        sum(col("c") * length(col("w"))).as("n_chars"),
        sum(when(col("w").isin(stop: _*), col("c")).otherwise(0L))
          .as("n_stopwords"))
      .withColumn("s_min_len", when(col("n_words") >= 10, 1).otherwise(0))
      .withColumn("s_max_len", when(col("n_words") <= 1000, 1).otherwise(0))
      .withColumn("s_repetition",
        when(col("max_freq") * 5 < col("n_words"), 1).otherwise(0))
      .withColumn("s_stopwords",
        when(col("n_stopwords") * 50 >= col("n_words"), 1).otherwise(0))
      .withColumn("s_word_len",
        when(col("n_chars") >= col("n_words") * 2 &&
          col("n_chars") <= col("n_words") * 12, 1).otherwise(0))
      .withColumn("score", (col("s_min_len") + col("s_max_len") +
        col("s_repetition") + col("s_stopwords") + col("s_word_len"))
        .cast("int"))
      .withColumn("keep", when(col("score") === 5, 1).otherwise(0).cast("int"))
      .select(col("doc_id"), col("n_words"), col("score"), col("keep"))
  }

  /** Cross-corpus dedup: drop docs of the NEW sources whose exact text hash
    * already exists in the base corpus, reporting per-source kept/dropped.
    * The base side reduces to distinct hashes before the anti-join — at
    * 100 TB that is the dedup index you'd persist, and the join key is a
    * 16-byte hash, never the text. */
  def crossCorpusDedup(documents: DataFrame,
                       isNew: Column): DataFrame = {
    // persisted (plan census r9): the content hashes feed the base-side
    // distinct, the new-side census AND the anti-join probe — one pass
    // over the corpus text instead of three
    val hashed = documents.select(col("doc_id"), col("source"),
      md5(col("text")).as("h"), isNew.as("is_new"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val baseHashes = hashed.filter(!col("is_new")).select(col("h")).distinct()
    val newBySource = hashed.filter(col("is_new"))
      .groupBy(col("source")).agg(count(lit(1)).as("n_new"))
    val keptBySource = hashed.filter(col("is_new"))
      .join(baseHashes, Seq("h"), "left_anti")
      .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
    // left join from n_new: a source whose docs ALL collide with the base
    // corpus must still report (n_kept = 0), not vanish
    newBySource.join(keptBySource, Seq("source"), "left")
      .select(col("source"), col("n_new"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
      .withColumn("n_dropped", col("n_new") - col("n_kept"))
  }

  /** Fuzzy self-join at edit distance <= 1 via FastSS deletion
    * neighborhoods: ed(s,t) <= 1 implies s and t share a member of
    * {x} ∪ {x minus one char} — so candidates come from an equi-join on
    * generated variants (O(n·len) rows), never a cross product, and a
    * final exact levenshtein filter removes overgeneration. The scalable
    * shape for entity resolution: shuffle on short variant strings, with
    * the verify step confined to candidate pairs. */
  def fuzzyJoinEd1(df: DataFrame, keyCol: String, strCol: String): DataFrame = {
    val variants = df.select(col(keyCol).as("k"), col(strCol).as("s"))
      .select(col("k"), col("s"),
        explode(array_union(array(col("s")),
          transform(sequence(lit(1), length(col("s"))),
            i => concat(col("s").substr(lit(1), i - 1),
              col("s").substr(i + 1, length(col("s"))))))).as("v"))
    variants.as("a")
      .join(variants.select(col("k").as("k2"), col("s").as("s2"), col("v")), Seq("v"))
      .filter(col("k") < col("k2"))
      .select(col("k"), col("k2"), col("s"), col("s2")).distinct()
      .withColumn("dist", levenshtein(col("s"), col("s2")))
      .filter(col("dist") <= 1)
      .select(col("k").as("k1"), col("k2"), col("dist").cast("int").as("dist"))
  }

  /** Collocation graph: unordered adjacent-word pairs (wa < wb, loops
    * dropped) kept when the adjacency count reaches minCount — the
    * word-association structure used for phrase mining. One narrow
    * generate + one count shuffle on the pair. */
  def collocationEdges(documents: DataFrame, minCount: Long): DataFrame =
    documents
      .withColumn("w", split(col("text"), " "))
      .filter(size(col("w")) >= 2)
      // position explode + per-row slice (codegen'd) instead of an
      // interpreted transform lambda materializing the pair array per row
      .select(col("w"),
        explode(sequence(lit(1), size(col("w")) - 1)).as("i"))
      .select(sort_array(slice(col("w"), col("i"), lit(2))).as("p"))
      .filter(element_at(col("p"), 1) =!= element_at(col("p"), 2))
      .select(element_at(col("p"), 1).as("wa"), element_at(col("p"), 2).as("wb"))
      .groupBy(col("wa"), col("wb")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)

  /** Triangle count over an undirected (a < b) edge list: the standard
    * two-join formulation on ordered node triples — each triangle counted
    * once as a < b < c. Input pairs must already be canonical (a < b).
    * Scale notes: at web scale, orient edges low-degree → high-degree first
    * (cuts the join fan-out of hub nodes); here the near-dup graphs are
    * degree-bounded by construction. */
  def triangles(pairs: DataFrame): DataFrame = {
    // persisted (plan census r9): the 3-way self-join otherwise replans
    // the caller's edge derivation (a corpus-wide collocation explode in
    // q114) once per join leg; derived projection, not the caller's frame
    val e = pairs.select(col("d1").as("a"), col("d2").as("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    e.join(e.select(col("a").as("b"), col("b").as("c")), Seq("b"))
      .join(e.select(col("a"), col("b").as("c")), Seq("a", "c"))
      .select(col("a"), col("b"), col("c"))
  }

  /** Integer PageRank over the customer→supplier purchase graph (source-
    * quality ranking, the link-graph shape of crawl curation). Nodes are
    * 2·custkey / 2·suppkey+1; edges run BOTH ways (undirected walk on the
    * bipartite graph). Fixed-point arithmetic: masses start at 10^6; each
    * of `iters` rounds sends mass/outdeg (integer division) along every
    * edge and re-forms mass = 0.15·10^6 + 0.85·Σincoming (integer) — every
    * step is exact BIGINT, so any engine replays it bit-for-bit.
    *
    * Scale shape per iteration: one join of (node, mass/outdeg) to the edge
    * list on src + one groupBy dst — the standard Pregel-as-joins plan. The
    * edge list is invariant across iterations (cache it); masses are the
    * only moving table. */
  def pageRank(edges: DataFrame, iters: Int = 3): DataFrame = {
    // the symmetrized edge list feeds THREE consumers before the loop even
    // starts (outdeg, the withDeg join's probe side, and the initial mass
    // via outdeg) — uncached, the build join + union + distinct replays
    // once per consumer from the scans
    val undirected = edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().cache()
    val outdeg = undirected.groupBy(col("src"))
      .agg(count(lit(1)).as("outdeg"))
    // the edge list is the loop invariant: cache it or every iteration
    // replays the degree join; its src-hash outputPartitioning survives
    // the cache, so each round's mass join reshuffles only the small
    // node-level mass side, never the edges
    val withDeg = undirected.join(outdeg, Seq("src")).cache()
    var mass = outdeg.select(col("src").as("node"),
      lit(1000000L).as("mass"))
    for (_ <- 1 to iters) {
      mass = withDeg
        .join(mass, col("src") === col("node"))
        // integer division (DIV, not /): Spark's / on BIGINTs is true
        // division to DOUBLE, which would break the exact-arithmetic replay
        .select(col("dst"), expr("mass DIV outdeg").as("m"))
        .groupBy(col("dst")).agg(sum(col("m")).as("insum"))
        .select(col("dst").as("node"),
          (lit(150000L) + expr("850000 * insum DIV 1000000")).as("mass"))
    }
    mass
  }

  /** Bounded multi-source BFS: min hop distance (≤ `hops`) from the seed
    * node set over an undirected edge list — the k-hop neighborhood /
    * crawl-frontier labeling primitive. Nodes beyond `hops` are absent.
    *
    * Each round is one join (current labels × edges) + one min-aggregate —
    * Pregel-as-joins, like [[pageRank]]; the undirected edge list is the
    * cached loop invariant. Re-aggregating the FULL label table per round
    * (rather than a delta frontier) keeps every round's plan identical and
    * shuffle-count-bounded: rounds × (1 join + 1 groupBy) on the key.
    * Distances are exact integers — any engine replays them bit-for-bit
    * with `hops` unrolled CTEs.
    */
  def bfsDistances(edges: DataFrame, seedPred: Column, hops: Int = 3): DataFrame = {
    val undirected = edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().cache()
    var dist = undirected.select(col("src").as("node")).distinct()
      .filter(seedPred)
      .select(col("node"), lit(0L).as("dist"))
    for (_ <- 1 to hops) {
      dist = dist
        .unionByName(undirected
          .join(dist, col("src") === col("node"))
          .select(col("dst").as("node"), (col("dist") + 1L).as("dist")))
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
        // each round reads the previous labels TWICE (carry + expand):
        // uncut lineage doubles per round (2^hops replays of round one);
        // checkpointing pins each round to its materialized result
        .localCheckpoint()
    }
    dist
  }

  /** Fixed-round k-core peeling: `rounds` iterations of "drop every node
    * with degree < k, restrict edges to survivors". With enough rounds this
    * is the true k-core (the maximal subgraph where every node has degree
    * ≥ k); fixed rounds keep the operator deterministic and the oracle
    * expressible as `rounds` unrolled CTE blocks.
    *
    * `edges` must be the undirected edge list with BOTH directions present
    * (every undirected edge as (u,v) and (v,u)), so degree = out-degree.
    *
    * Per round: one partial-aggregable degree count + two semi-joins on the
    * survivor set (AQE broadcasts it once peeling shrinks it; sort-merge on
    * the key otherwise). Each round is localCheckpointed — the survivor set
    * is referenced by both semi-joins, and uncut lineage would replay the
    * whole peel history per round.
    */
  def kCore(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    var cur = edges.select(col("src"), col("dst")).localCheckpoint()
    for (_ <- 1 to rounds) {
      val keep = cur.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("src").as("node"))
      cur = cur
        .join(keep.select(col("node").as("src")), Seq("src"), "left_semi")
        .join(keep.select(col("node").as("dst")), Seq("dst"), "left_semi")
        .select(col("src"), col("dst"))
        .localCheckpoint()
    }
    cur.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
  }

  /** CURATION FUNNEL — the whole corpus-release pipeline as ONE pass with
    * per-stage survivor counts (the report every data-curation run ships):
    * length gate → integer quality gate (alpha ratio ≥ 81.5%, min token
    * count) → boilerplate-prefix dedup keep-first (md5 of the leading 40
    * chars, min doc_id — the corpus has no EXACT dup texts, so the funnel
    * dedups on the shared-boilerplate key; q20 is the exact-hash form) →
    * per-source quota (cap
    * docs/source, doc_id order). Stages are CUMULATIVE flags computed in
    * one DataFrame — one scan, two window passes (hash, source), one
    * single-row aggregate; no per-stage re-evaluation of upstream filters.
    *
    * Each component exists standalone (q30–q34 quality/lang-id, q20 exact
    * dedup, q56 group top-k); this is their composition — the answer to
    * "could a user run their curation pipeline on this engine end to end"
    * — plus the funnel accounting that silent-truncation review rules
    * demand (every drop is a counted stage, never implicit).
    */
  def curationFunnel(documents: DataFrame, minChars: Int, minToks: Int,
                     perSourceCap: Int): DataFrame = {
    val base = documents.select(col("doc_id"), col("source"),
      length(col("text")).as("len"),
      length(regexp_replace(col("text"), "[^a-zA-Z]", "")).as("alpha"),
      size(split(col("text"), " ")).as("ntok"),
      md5(substring(col("text"), 1, 40)).as("h"))
      .withColumn("s1", col("len") >= minChars)
      .withColumn("s2", col("s1") && col("alpha") * 1000 >= col("len") * 815 &&
        col("ntok") >= minToks)
    val wHash = Window.partitionBy(col("h"))
      .orderBy(col("s2").desc, col("doc_id").asc)
    val wSrc = Window.partitionBy(col("source"))
      .orderBy(col("s3").desc, col("doc_id").asc)
    base
      .withColumn("s3", col("s2") && row_number().over(wHash) === 1)
      .withColumn("s4", col("s3") &&
        row_number().over(wSrc) <= perSourceCap)
      .agg(count(lit(1)).as("n_total"),
        sum(col("s1").cast("long")).as("n_len_ok"),
        sum(col("s2").cast("long")).as("n_quality_ok"),
        sum(col("s3").cast("long")).as("n_deduped"),
        sum(col("s4").cast("long")).as("n_released"))
  }

  /** DuckDB mirror of [[curationFunnel]]. */
  def curationFunnelSql(minChars: Int, minToks: Int,
                        perSourceCap: Int): String =
    s"""WITH base AS (
       |  SELECT doc_id, source, length(text) AS len,
       |    length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS alpha,
       |    len(string_split(text, ' ')) AS ntok,
       |    md5(substr(text, 1, 40)) AS h
       |  FROM documents),
       |f AS (
       |  SELECT *, len >= $minChars AS s1,
       |    (len >= $minChars AND alpha * 1000 >= len * 815
       |      AND ntok >= $minToks) AS s2
       |  FROM base),
       |d AS (
       |  SELECT *, s2 AND row_number() OVER (PARTITION BY h
       |    ORDER BY s2 DESC, doc_id ASC) = 1 AS s3
       |  FROM f),
       |q AS (
       |  SELECT *, s3 AND row_number() OVER (PARTITION BY source
       |    ORDER BY s3 DESC, doc_id ASC) <= $perSourceCap AS s4
       |  FROM d)
       |SELECT CAST(count(*) AS BIGINT) AS n_total,
       |  CAST(sum(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS n_len_ok,
       |  CAST(sum(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_quality_ok,
       |  CAST(sum(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT) AS n_deduped,
       |  CAST(sum(CASE WHEN s4 THEN 1 ELSE 0 END) AS BIGINT) AS n_released
       |FROM q""".stripMargin

  /** K-ANONYMITY AUDIT — the privacy gate a training-data release runs
    * before shipping: every quasi-identifier cell (the combination of
    * attributes an adversary could join on) must contain at least `k`
    * individuals; smaller cells must be suppressed or generalized. Emits
    * one row per cell with its size and suppression verdict — the audit
    * artifact, not the redaction (redaction composes: semi-join the
    * flagged cells back, as the PII redactor q103 does for spans).
    *
    * Scale shape: ONE partial-aggregated exchange on the cell key; the
    * verdict is a Project over the aggregate. Quasi-identifier buckets are
    * integer DIV (balance → 50-dollar bands), never floats.
    */
  /** CAPPED CO-ENGAGEMENT PROJECTION — the user-item bipartite graph
    * projected to weighted item-item edges, with the per-user TOP-`m`
    * recency cap applied BEFORE pairing: a power user with 10 000 items
    * would otherwise contribute 10⁸ pairs (the quadratic blowup that sinks
    * naive co-occurrence at scale), and recency-capping is also better
    * signal (stale co-engagements age out). Ties at equal last-engagement
    * time break by item id, so the cap — and therefore the whole graph —
    * is deterministic. Edges below `minCount` users are dropped.
    *
    * Scale shape: distinct (user, item, last_ts) is a partial-aggregable
    * reduce; the cap is a WindowGroupLimit (≤ m rows per user leave the
    * mappers); the self-join then expands each user to ≤ m(m−1)/2 pairs —
    * a CONSTANT per user — before the final pair count.
    */
  def coengagementPairs(events: DataFrame, m: Int,
                        minCount: Long): DataFrame = {
    val ui = events.filter(col("props").isNotNull)
      .groupBy(col("user_id"), col("props").as("item"))
      .agg(max(col("ts_us")).as("__last"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("__last").desc, col("item").asc)
    val capped = ui.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= m)
      .select(col("user_id"), col("item"))
    capped
      .join(capped.withColumnRenamed("item", "i2"), Seq("user_id"))
      .filter(col("item") < col("i2"))
      .groupBy(col("item").as("i1"), col("i2"))
      .agg(count(lit(1)).as("n_users"))
      .filter(col("n_users") >= minCount)
  }

  def kAnonymityAudit(customer: DataFrame, k: Long): DataFrame =
    customer
      .select(col("c_nationkey").cast("long").as("nation"),
        col("c_mktsegment").as("segment"),
        expr("CAST(round(c_acctbal * 100) AS BIGINT) DIV 5000")
          .as("bal_band"))
      .groupBy(col("nation"), col("segment"), col("bal_band"))
      .agg(count(lit(1)).as("n"))
      .withColumn("suppress", col("n") < k)

  /** K-ANONYMITY SUPPRESSION EXPORT — the enforcement half of
    * [[kAnonymityAudit]]: every record whose quasi-identifier cell
    * (nation, segment, 50-dollar balance band) holds fewer than `k` members
    * leaves with ALL THREE quasi-identifiers nulled (suppressing one alone
    * still narrows the cell); records in large cells pass through with the
    * band (already a generalization) in place of the raw balance. The
    * release is exactly the audit's verdict applied row-level.
    *
    * Scale shape: the cell-size table is a partial-aggregable groupBy over
    * ≤ |nations|·|segments|·|bands| rows, broadcast back onto the records —
    * one fact scan, one broadcast join.
    */
  def kAnonymitySuppress(customer: DataFrame, k: Long): DataFrame = {
    val cells = kAnonymityAudit(customer, k)
      .select(col("nation"), col("segment"), col("bal_band"),
        col("suppress"))
    customer
      .select(col("c_custkey"),
        col("c_nationkey").cast("long").as("nation"),
        col("c_mktsegment").as("segment"),
        expr("CAST(round(c_acctbal * 100) AS BIGINT) DIV 5000")
          .as("bal_band"))
      .join(broadcast(cells), Seq("nation", "segment", "bal_band"))
      .select(col("c_custkey"),
        when(!col("suppress"), col("nation")).as("nation"),
        when(!col("suppress"), col("segment")).as("segment"),
        when(!col("suppress"), col("bal_band")).as("bal_band"),
        col("suppress"))
  }

  /** DuckDB mirror of [[kAnonymitySuppress]]. */
  def kAnonymitySuppressSql(k: Long): String =
    s"""WITH q AS (
       |  SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS nation,
       |    c_mktsegment AS segment,
       |    CAST(round(c_acctbal * 100) AS BIGINT) // 5000 AS bal_band
       |  FROM customer),
       |cells AS (
       |  SELECT nation, segment, bal_band, count(*) < $k AS suppress
       |  FROM q GROUP BY 1, 2, 3)
       |SELECT q.c_custkey,
       |  CASE WHEN NOT suppress THEN q.nation END AS nation,
       |  CASE WHEN NOT suppress THEN q.segment END AS segment,
       |  CASE WHEN NOT suppress THEN q.bal_band END AS bal_band,
       |  suppress
       |FROM q JOIN cells
       |  ON q.nation = cells.nation AND q.segment = cells.segment
       |  AND q.bal_band = cells.bal_band""".stripMargin

  /** DuckDB mirror of [[kAnonymityAudit]]. */
  def kAnonymityAuditSql(k: Long): String =
    s"""SELECT CAST(c_nationkey AS BIGINT) AS nation,
       |  c_mktsegment AS segment,
       |  CAST(round(c_acctbal * 100) AS BIGINT) // 5000 AS bal_band,
       |  CAST(count(*) AS BIGINT) AS n,
       |  count(*) < $k AS suppress
       |FROM customer GROUP BY 1, 2, 3""".stripMargin

  /** GRADED contamination census — the release-report complement of the
    * binary [[decontaminate]] gate: EVERY corpus doc (zero-overlap ones
    * included) with its distinct-shingle count, eval-overlap hit count, and
    * integer overlap decile (`hits·10 DIV shingles` ∈ 0..10, zero floats).
    * A release manifest wants "12 % of docs have ≥30 % eval overlap", not
    * just the contaminated id list.
    *
    * Same scale shape as decontaminate: eval shingle ids broadcast, corpus
    * side one scan + map-side left join + partial-aggregated counts.
    */
  /** N-GRAM NOVELTY census by arrival order (doc_id as ingest sequence):
    * a shingle's first sighting is the min doc_id containing it; a doc's
    * novelty is how many of its distinct shingles IT saw first, graded as
    * an integer decile. The "is the crawl still finding new content"
    * signal — a novelty collapse across a source is the dedup/recrawl
    * alarm, and the per-doc grade feeds sampling weights.
    *
    * Scale shape: groupBy(sid) then join on sid — the join reuses the
    * aggregation's hash partitioning (co-partitioned, one logical
    * exchange), then a per-doc partial-aggregable count. No broadcast of
    * the (corpus-sized) shingle index needed.
    */
  def noveltyCensus(documents: DataFrame, k: Int = 3): DataFrame = {
    val sh = Dedup.shingleIds(documents, k)
    val first = sh.groupBy(col("sid")).agg(min(col("doc_id")).as("first_id"))
    sh.join(first, Seq("sid"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_id") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .withColumn("novelty_decile", expr("n_novel * 10 DIV n_shingles"))
  }

  def contaminationGraded(documents: DataFrame, k: Int = 3,
                          evalMod: Int = 97): DataFrame = {
    val evalGrams = Dedup.shingleIds(
        documents.filter(col("doc_id") % evalMod === 0), k)
      .select(col("sid")).distinct()
      .withColumn("__e", lit(1))
    Dedup.shingleIds(documents.filter(col("doc_id") % evalMod =!= 0), k)
      .join(broadcast(evalGrams), Seq("sid"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("__e").isNotNull, 1L).otherwise(0L)).as("n_eval_hits"))
      .withColumn("overlap_decile",
        expr("n_eval_hits * 10 DIV n_shingles"))
  }
}

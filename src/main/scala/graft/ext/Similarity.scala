package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (`Array[Float]` columns) —
  * brute-force cosine top-k as the exact baseline, IVF (coarse-quantizer
  * probing) and PQ (compressed codes) as the scale paths, k-means and
  * hyperplane-LSH bucketing for near-dup pair mining.
  *
  * Every ranked search here is a candidate choice plus [[TopK]] calls:
  * TopK picks the candidates (all pairs, IVF lists), scores them (exact
  * cosine with hoisted norms) and ranks them with the one tie-break
  * (score desc, or distance asc, then id asc); every nearest-centroid
  * assignment (IVF lists and probes, k-means, PQ codebooks) is its rank
  * with k = 1.
  *
  * No UDFs: dot products are `zip_with` + sequential `aggregate` folds over
  * the array — codegen'd, and fold ORDER is fixed (left-to-right), so DuckDB
  * (`list_reduce`) reproduces the exact IEEE double, bit-for-bit. Floats are
  * widened to double BEFORE multiplication in both engines.
  *
  * Scale notes: brute-force top-k is O(|Q|·N) — linear in corpus size for a
  * fixed query set and embarrassingly parallel (queries broadcast, corpus
  * round-robined over the shuffle partitions; the per-query top-k is a
  * partial top-k then merge). IVF cuts the scanned fraction to
  * nprobe/ncentroids. The deterministic pseudo-random hyperplanes replace
  * trained k-means centroids so the oracle can replay them; swap in
  * `spark.ml.clustering.KMeans` centroids for real recall at scale.
  */
object Similarity {

  /** Sequential-fold dot product of two float-array columns (as doubles),
    * via the native codegen'd ArrayDot expression — identical fold order to
    * the declarative `aggregate(zip_with(...))` form (kept below for
    * reference/tests) but compiled instead of interpreted.
    * Resolves against the `graft_dot` that `SparkEnv.session` registers
    * on every session. */
  def dot(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.graftDot(a, b)

  /** Declarative formulation (interpreted higher-order functions); retained
    * as the semantic reference for ArrayDot parity tests. */
  def dotDeclarative(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def norm2(a: Column): Column = dot(a, a)

  /** cos(a,b) = dot / (sqrt(|a|²)·sqrt(|b|²)) — expression shape mirrored
    * exactly in the oracle SQL. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(norm2(a)) * sqrt(norm2(b)))

  /** Exact brute-force cosine top-k for a fixed query set (vec_id <
    * nQueries): [[TopK.exact]] over [[TopK.allPairs]]. */
  def bruteForceTopK(embeddings: DataFrame, nQueries: Int, k: Int): DataFrame =
    TopK.exact(TopK.allPairs(queries(embeddings, nQueries),
        TopK.vectors(embeddings, "n")), k)
      .select(col("q_id"), col("rank").cast("int").as("rank"),
        col("n_id"), col("cos"))

  /** The query side (q_id, q_emb, q_n) of a fixed query set: vec_id <
    * nQueries. */
  private def queries(embeddings: DataFrame, nQueries: Int,
                      extra: Column*): DataFrame =
    TopK.vectors(embeddings.filter(col("vec_id") < nQueries), "q", extra: _*)

  /** IVF candidates: each query against the inverted lists of its nprobe
    * nearest centroids of `cent` (c_id, c_emb), each corpus vector in the
    * list of its nearest centroid ([[TopK.probe]], [[TopK.assign]]). The
    * query's probe order is c_rank. */
  private def ivfLists(embeddings: DataFrame, cent: DataFrame, nQueries: Int,
                       nprobe: Int): DataFrame =
    TopK.inLists(TopK.probe(queries(embeddings, nQueries), "q", cent, nprobe),
      TopK.assign(TopK.vectors(embeddings, "n"), "n", cent))

  /** IVF top-k: corpus vectors with vec_id ≡ 0 (mod centroidEvery) act as
    * coarse centroids ([[TopK.centroids]], a deterministic stand-in for
    * k-means); a query probes its nprobe nearest centroids and reranks only
    * those inverted lists exactly. Approximate, but deterministically so,
    * hence oracle-checkable. */
  def ivfTopK(embeddings: DataFrame, nQueries: Int, k: Int,
              centroidEvery: Int, nprobe: Int): DataFrame =
    TopK.exact(ivfLists(embeddings, TopK.centroids(embeddings, centroidEvery),
        nQueries, nprobe), k)
      .select(col("q_id"), col("rank").cast("int").as("rank"),
        col("n_id"), col("cos"))

  /** IVF OPERATING-POINT SWEEP: recall@k and candidate-scan cost per
    * nprobe value, in ONE pass over one candidate relation — the tuning
    * table the q168 recall gate exists to feed. Each corpus vector lives
    * in exactly one inverted list, so a candidate (q, n) enters the scan
    * set at probe rank prn = the rank of n's centroid in q's probe order;
    * the nprobe=p scan set is exactly {prn ≤ p}. One candidate relation
    * built at max(nprobes) therefore serves every sweep point: the
    * expensive parts (centroid assignment over the corpus, cosine
    * scoring) run once, and each sweep point re-ranks only the candidate
    * edge list. Output: (nprobe, n_candidates, hits, possible,
    * recall_milli) — n_candidates IS the scan cost of that operating
    * point. */
  def ivfSweep(embeddings: DataFrame, nQueries: Int, k: Int,
               centroidEvery: Int, nprobes: Seq[Int]): DataFrame =
    ivfSweepWith(embeddings, TopK.centroids(embeddings, centroidEvery),
      nQueries, k, nprobes)

  /** [[ivfSweep]] over an ARBITRARY coarse-quantizer frame
    * (c_id, c_emb) — e.g. [[kmeansCentroids]] trained centroids (q432). */
  def ivfSweepWith(embeddings: DataFrame, cent: DataFrame, nQueries: Int,
                   k: Int, nprobes: Seq[Int]): DataFrame = {
    // the one scored candidate relation; persisted — it feeds the top-k
    // ranking AND the per-point cost counts
    val cand = TopK.scored(ivfLists(embeddings, cent, nQueries, nprobes.max))
      .select(col("q_id"), col("n_id"), col("c_rank").as("prn"), col("cos"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val truth = bruteForceTopK(embeddings, nQueries, k)
      .select(col("q_id"), col("n_id"))
    val poss = truth.agg(count(lit(1)).as("possible"))
    val spark = embeddings.sparkSession
    import spark.implicits._
    val nps = nprobes.map(_.toLong).toDF("nprobe")
    val perNp = cand.join(broadcast(nps), col("prn") <= col("nprobe"))
    val topk = TopK.rank(perNp, Seq("nprobe", "q_id"), "cos", "n_id", k)
    val hits = topk.join(truth, Seq("q_id", "n_id"))
      .groupBy(col("nprobe")).agg(count(lit(1)).as("hits"))
    val cost = perNp.groupBy(col("nprobe"))
      .agg(count(lit(1)).as("n_candidates"))
    nps.join(cost, Seq("nprobe"), "left").join(hits, Seq("nprobe"), "left")
      .crossJoin(broadcast(poss))
      .select(col("nprobe"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        col("possible"))
      .withColumn("recall_milli",
        expr("hits * 1000 DIV nullif(possible, 0)"))
  }

  /** Per-label centroids: element-wise mean over each label's vectors —
    * the vector-aggregation building block of k-means / IVF training.
    *
    * Determinism: float components are integerized (×10^6, rounded) BEFORE
    * the grouped sum — grouped float sums are order-nondeterministic, integer
    * sums aren't — then divided back. explode(posexplode) + two-level
    * aggregation: one shuffle on (label, dim), one on label; fully
    * partial-aggregable (the 100 TB shape for centroid updates). */
  def labelCentroids(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .withColumn("xi", round(col("x").cast("double") * 1000000).cast("long"))
      .groupBy(col("label"), col("dim"))
      .agg((sum(col("xi")) / lit(1000000.0) / count(lit(1))).as("c"),
        count(lit(1)).as("n_vectors"))

  /** Deterministic distributed k-means (Lloyd's algorithm, cosine
    * assignment): seeds = vectors with vec_id ≡ 0 (mod seedEvery), then
    * `iters` rounds of {assign to nearest centroid (cos desc, cluster asc
    * tie-break) → recompute centroids as integerized-exact element means}.
    *
    * Every step is engine-exact: means from ×10^6-integerized sums (grouped
    * integer sums are order-free), cosines via the sequential-fold dot on
    * bit-identical double centroids — so a SQL oracle replays the identical
    * trajectory. Each iteration = one broadcast of k centroids + one shuffle
    * for the centroid update: the textbook scale shape (vectors never move,
    * only k×dim centroids do).
    *
    * Returns final (vec_id, cluster) assignments. */
  def kmeans(embeddings: DataFrame, seedEvery: Int, iters: Int): DataFrame =
    kmeansState(embeddings, seedEvery, iters)._1
      .select(col("n_id").as("vec_id"), col("c_id").as("cluster"))

  /** The TRAINED coarse quantizer (c_id, c_emb: array<double>) after
    * `iters` Lloyd rounds — the frame [[ivfSweepWith]] probes in q432 (the
    * "swap in trained centroids" path, made concrete). */
  def kmeansCentroids(embeddings: DataFrame, seedEvery: Int,
                      iters: Int): DataFrame =
    kmeansState(embeddings, seedEvery, iters)._2

  /** Shared Lloyd loop: returns (final assignment, final centroids). Each
    * round is one [[TopK.assign]]. */
  private def kmeansState(embeddings: DataFrame, seedEvery: Int,
                          iters: Int): (DataFrame, DataFrame) = {
    val vecs = TopK.vectors(embeddings, "n")
    var centroids = TopK.centroids(embeddings, seedEvery)
      .select(col("c_id"), transform(col("c_emb"), x => x.cast("double")).as("c_emb"))
    var assigned = TopK.assign(vecs, "n", centroids)
    for (_ <- 1 until iters) {
      centroids = assigned
        .select(col("c_id"), posexplode(col("n_emb")).as(Seq("dim", "x")))
        .withColumn("xi", round(col("x").cast("double") * 1000000).cast("long"))
        .groupBy(col("c_id"), col("dim"))
        .agg((sum(col("xi")) / lit(1000000.0) / count(lit(1))).as("c"))
        .groupBy(col("c_id"))
        .agg(array_sort(collect_list(struct(col("dim"), col("c"))))
          .getField("c").as("c_emb"))
      assigned = TopK.assign(vecs, "n", centroids)
    }
    (assigned, centroids)
  }

  val PlaneP = 2000003L

  /** Deterministic pseudo-random hyperplane component for (plane j, dim d):
    * uniform in [−0.5, 0.5), pure integer arithmetic → engine-exact. */
  private def planeComponent(j: Int, d: Int): Double =
    ((1103515245L * (j * 64 + d) + 12345L) % PlaneP).toDouble / PlaneP - 0.5

  /** Sign-random-projection bucket id over nPlanes hyperplanes. */
  def lshBucket(emb: Column, nPlanes: Int): Column =
    (0 until nPlanes).map { j =>
      val proj = dot(emb,
        array((0 until 64).map(d => lit(planeComponent(j, d))): _*))
      when(proj > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Embedding near-dup pairs: bucket by sign-random-projection, compare
    * within buckets only, keep exact cosine ≥ threshold. Approximate recall
    * (like any LSH), deterministic output. */
  def embeddingNearDupPairs(embeddings: DataFrame, nPlanes: Int,
                            threshold: Double): DataFrame = {
    val b = embeddings.select(col("vec_id"), col("embedding"),
      lshBucket(col("embedding"), nPlanes).as("bucket"))
    b.as("x")
      .join(b.select(col("vec_id").as("vec_id2"),
        col("embedding").as("embedding2"), col("bucket")).as("y"), Seq("bucket"))
      .filter(col("vec_id") < col("vec_id2"))
      .withColumn("cos", cosine(col("embedding"), col("embedding2")))
      .filter(col("cos") >= threshold)
      .select(col("vec_id").as("v1"), col("vec_id2").as("v2"), col("cos"))
  }

  /** Symmetric int8 quantization summary per vector — the storage/bandwidth
    * lever for 100 TB embedding corpora (4× smaller than float32, SIMD int8
    * dot products downstream). scale = 127 / max|x|; q_i = ⌊x_i·scale + ½⌋
    * (explicit floor+½, NOT round(): round's half-even vs half-away
    * tie-break differs across engines, floor(x+0.5) is identical
    * everywhere). All per-row array math, zero shuffles.
    *
    * Output is scalar summaries (scale + quantized moments + an
    * order-weighted checksum) rather than the int8 array itself — the
    * array is what a sink would write; the summaries are what the oracle
    * can hash. */
  def quantizeInt8Summary(embeddings: DataFrame): DataFrame = {
    val absArr = transform(col("embedding"), x => abs(x.cast("double")))
    val maxAbs = array_max(absArr)
    val scale = when(maxAbs > 0.0, lit(127.0) / maxAbs).otherwise(lit(0.0))
    val q = transform(col("embedding"),
      x => floor(x.cast("double") * col("scale") + lit(0.5)).cast("long"))
    embeddings
      .select(col("vec_id"), col("embedding"), scale.as("scale"))
      .select(col("vec_id"), col("scale"), q.as("q"))
      .select(col("vec_id"), col("scale"),
        array_min(col("q")).as("q_min"),
        array_max(col("q")).as("q_max"),
        aggregate(col("q"), lit(0L), (a, x) => a + x).as("q_sum"),
        aggregate(col("q"), lit(0L), (a, x) => a + x * x).as("q_sumsq"),
        aggregate(zip_with(col("q"), sequence(lit(1L), lit(64L)),
          (x, i) => x * i), lit(0L), (a, x) => a + x).as("q_checksum"))
  }

  /** Hard-negative mining: for each query vector, the k most cosine-similar
    * corpus vectors with a DIFFERENT label — the contrastive-training
    * counterpart of plain top-k retrieval (a hard negative is close in
    * embedding space but wrong in label space). [[bruteForceTopK]] with
    * the label inequality as the extra [[TopK.allPairs]] join condition,
    * so non-candidates never reach the scoring expression.
    */
  def hardNegatives(embeddings: DataFrame, nQueries: Int, k: Int): DataFrame =
    TopK.exact(TopK.allPairs(
        queries(embeddings, nQueries, col("label").as("q_label")),
        TopK.vectors(embeddings, "n", col("label").as("n_label")),
        col("q_label") =!= col("n_label")), k)
      .select(col("q_id"), col("q_label"), col("rank").cast("int").as("rank"),
        col("n_id"), col("n_label"), col("cos"))

  /** MUTUAL k-NN GRAPH over the whole corpus — the symmetric-neighbor
    * structure semantic-dedup and density-based clustering build on
    * (SemDeDup prunes within coarse clusters; mutual-kNN is the
    * cluster-free sibling): pair (u, v) survives iff v is in u's cosine
    * top-k AND u is in v's top-k. Emitted once per pair (v1 < v2) with
    * both ranks.
    *
    * Scale shape: the all-pairs scoring here is the exact baseline (the
    * corpus side stays partitioned; the query side broadcasts — at real
    * scale swap the candidate generation for the IVF lists (ivfTopK) or
    * LSH buckets (embeddingNearDupPairs) and keep everything downstream
    * unchanged). The directed top-k is [[TopK.exact]] over
    * [[TopK.allPairs]]; the mutuality test is a self-equi-join on the
    * REDUCED |V|·k edge list, not on raw scores.
    */
  def mutualKnn(embeddings: DataFrame, k: Int): DataFrame = {
    // persisted: BOTH sides of the mutuality join read this top-k list —
    // uncached, the O(n²) scoring pass replans per side (plan census r8)
    val knn = TopK.exact(TopK.allPairs(TopK.vectors(embeddings, "q"),
        TopK.vectors(embeddings, "n")), k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // cos is exactly symmetric (per-index products commute, fold order
    // identical), so carrying it from the v1→v2 direction loses nothing
    knn.as("a").join(knn.as("b"),
        col("a.q_id") === col("b.n_id") && col("a.n_id") === col("b.q_id") &&
          col("a.q_id") < col("a.n_id"))
      .select(col("a.q_id").as("v1"), col("a.n_id").as("v2"),
        col("a.rank").as("rank12"), col("b.rank").as("rank21"),
        col("a.cos").as("cos"))
  }

  /** k-CENTER GREEDY (farthest-point traversal) CORESET selection — the
    * classic 2-approximation to the k-center cover (Gonzalez 1985), used to
    * pick a maximally-diverse training subsample: start from the smallest
    * vec_id, then k−1 times add the point FARTHEST from every center chosen
    * so far (squared L2; ties by smallest id). Returns the k selected rows
    * as (sel_order, vec_id, d2) where d2 is the point's min distance to the
    * earlier centers at the moment of its selection — the running coverage
    * radius, so the output doubles as the "how much diversity is left"
    * curve.
    *
    * Scale shape: the per-point state is ONE double (min distance so far),
    * updated by a broadcast of the single new center per round and argmax'd
    * by a partial-aggregable max(struct) — no global sort, no k×n
    * re-scoring (each round touches each point once). The k-round driver
    * loop collects k scalars, never vectors of data; localCheckpoint per
    * round keeps lineage flat (same discipline as kmeans/BFS).
    */
  def kCenterGreedy(embeddings: DataFrame, k: Int): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    // pre-cast to double so the diff runs in double (the pq discipline —
    // the oracle mirrors CAST(a[i] AS DOUBLE) - CAST(b[i] AS DOUBLE))
    val e = embeddings.select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("emb"))
    val firstId = e.agg(min(col("vec_id"))).head.getLong(0)
    var selected = Vector[(Long, Long, Option[Double])]((0L, firstId, None))
    var centerId = firstId
    var st = e.withColumn("d2", lit(null).cast("double"))
    for (i <- 1 until k) {
      val c = e.filter(col("vec_id") === centerId).select(col("emb").as("c_emb"))
      val nd = l2sq(col("emb"), col("c_emb"))
      st = st.crossJoin(broadcast(c))
        .withColumn("d2",
          when(col("d2").isNull, nd).otherwise(least(col("d2"), nd)))
        .drop("c_emb")
        .localCheckpoint()
      val top = st
        .filter(!col("vec_id").isInCollection(selected.map(_._2)))
        .agg(max(struct(col("d2"), (-col("vec_id")).as("nid"))).as("m"))
        .select(col("m.d2"), col("m.nid")).head
      centerId = -top.getLong(1)
      selected = selected :+ ((i.toLong, centerId, Some(top.getDouble(0))))
    }
    selected.toDF("sel_order", "vec_id", "d2")
  }

  /** RECIPROCAL-RANK FUSION (Cormack et al. 2009) of two ranked retrieval
    * lists (columns q_id, rank, n_id): fused score = Σ 1/(c + rank) over
    * the lists containing the candidate, re-ranked per query (score desc,
    * n_id asc). The standard zero-training way to combine heterogeneous
    * retrievers (full-dim exact + truncated-dim cheap, lexical + dense, …).
    * Scale shape: both inputs are already |queries|·k edge lists; the fuse
    * is a full-outer join + window on that reduced table.
    */
  def rrfFuse(a: DataFrame, b: DataFrame, c: Int, topK: Int): DataFrame = {
    val an = a.select(col("q_id"), col("n_id"), col("rank").as("rank_a"))
    val bn = b.select(col("q_id"), col("n_id"), col("rank").as("rank_b"))
    val joined = an.join(bn, Seq("q_id", "n_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(c.toDouble) + col("rank_a")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(c.toDouble) + col("rank_b")), lit(0.0)))
    TopK.rank(joined, Seq("q_id"), "rrf", "n_id", topK, "fused_rank")
      .select(col("q_id"), col("fused_rank").cast("int").as("fused_rank"),
        col("n_id"), col("rrf"), col("rank_a"), col("rank_b"))
  }

  // ------------------------------------------------------------------ PQ

  /** Squared L2 with the same fold discipline as [[dot]]: elementwise diff,
    * then the codegen'd sequential product-fold — the oracle reproduces
    * (a[i]-b[i])·(a[i]-b[i]) summed left-to-right bit-for-bit. */
  private def l2sq(a: Column, b: Column): Column = {
    val diff = zip_with(a, b, (x, y) => x - y)
    dot(diff, diff)
  }

  /** Slice each embedding into `m` contiguous `subDim`-wide double
    * subvectors: one row per (vec_id, subspace). */
  private def subspaces(embeddings: DataFrame, m: Int, subDim: Int): DataFrame =
    embeddings
      .select(col("vec_id"),
        explode(sequence(lit(0L), lit((m - 1).toLong))).as("s"),
        col("embedding"))
      .withColumn("v", expr(
        s"transform(slice(embedding, s * $subDim + 1, $subDim), x -> CAST(x AS DOUBLE))"))
      .select(col("vec_id"), col("s"), col("v"))

  /** Product quantization — the memory-compression scale path for ANN that
    * complements IVF ([[ivfTopK]]): a 64-dim float vector (256 B) becomes m
    * small codes (m bytes), and distances are answered from per-query
    * lookup tables without touching raw vectors.
    *
    * Codebooks: per subspace, k-means under squared-L2 with the same
    * deterministic recipe as [[kmeans]] — seeds are the subvectors of every
    * `seedEvery`-th vec_id, refits average EXACTLY by summing
    * round-to-micros integers. Assignment ties break on cluster id asc.
    *
    * Returns (codes, codebooks): codes = (vec_id, s, code); codebooks =
    * (s, cluster, c: array<double>). Scale shape: codebooks are tiny and
    * BROADCAST; assignment is a map-side per-row argmin — one narrow pass
    * over the corpus per refit, no shuffle of the vectors themselves
    * (row_number's window shuffles only (vec_id, s, code-candidate) rows).
    */
  def pqFit(embeddings: DataFrame, m: Int, subDim: Int, seedEvery: Int,
            iters: Int): (DataFrame, DataFrame) = {
    val sub = subspaces(embeddings, m, subDim)
    var cent = sub.filter(col("vec_id") % seedEvery === 0)
      .select(col("s"), col("vec_id").as("cluster"), col("v").as("c"))
    def assign(ct: DataFrame): DataFrame =
      TopK.rank(sub.join(broadcast(ct), Seq("s"))
          .withColumn("d", l2sq(col("v"), col("c"))),
        Seq("vec_id", "s"), "d", "cluster", 1, ascending = true)
        .select(col("vec_id"), col("s"), col("v"), col("cluster"))
    var assigned = assign(cent)
    for (_ <- 1 until iters) {
      cent = assigned
        .select(col("s"), col("cluster"), posexplode(col("v")).as(Seq("dim", "x")))
        .withColumn("xi", round(col("x") * 1000000).cast("long"))
        .groupBy(col("s"), col("cluster"), col("dim"))
        .agg((sum(col("xi")) / lit(1000000.0) / count(lit(1))).as("cx"))
        .groupBy(col("s"), col("cluster"))
        .agg(array_sort(collect_list(struct(col("dim"), col("cx"))))
          .getField("cx").as("c"))
      assigned = assign(cent)
    }
    (assigned.select(col("vec_id"), col("s"), col("cluster").as("code")), cent)
  }

  /** PQ codes per (vec_id, subspace) — the compressed representation. */
  def pqCodes(embeddings: DataFrame, m: Int, subDim: Int, seedEvery: Int,
              iters: Int): DataFrame =
    pqFit(embeddings, m, subDim, seedEvery, iters)._1

  /** Asymmetric-distance (ADC) approximate top-k: per query, one small
    * distance table (query-subvector → every codebook centroid), then every
    * corpus vector's approx distance is the SUM of m table lookups on its
    * codes — sorted ascending, ties on neighbor id.
    *
    * The per-pair sum folds the m per-subspace distances in subspace order
    * (sorted struct array), so the float result is engine-deterministic.
    * Scale shape: distance tables are (queries × m × k) rows — broadcast;
    * the corpus side streams map-side through the join; the only shuffle is
    * the per-pair regroup + the per-query top-k window. */
  def pqAdcTopK(embeddings: DataFrame, m: Int, subDim: Int, seedEvery: Int,
                iters: Int, nQueries: Int, k: Int): DataFrame = {
    val (codes, cent) = pqFit(embeddings, m, subDim, seedEvery, iters)
    val qsub = subspaces(embeddings.filter(col("vec_id") < nQueries), m, subDim)
      .select(col("vec_id").as("q_id"), col("s"), col("v").as("qv"))
    val qd = qsub.join(broadcast(cent), Seq("s"))
      .withColumn("d", l2sq(col("qv"), col("c")))
      .select(col("q_id"), col("s"), col("cluster").as("code"), col("d"))
    val pairs = codes.join(broadcast(qd), Seq("s", "code"))
      .filter(col("q_id") =!= col("vec_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(array_sort(collect_list(struct(col("s"), col("d")))).as("ds"))
      .withColumn("adist",
        aggregate(col("ds").getField("d"), lit(0.0), (acc, x) => acc + x))
    TopK.rank(pairs, Seq("q_id"), "adist", "vec_id", k, "rnk", ascending = true)
      .select(col("q_id"), col("vec_id").as("n_id"), col("adist"), col("rnk"))
  }

  /** MAXIMAL MARGINAL RELEVANCE selection (Carbonell–Goldstein 1998):
    * greedy k-pick balancing relevance to a query against redundancy with
    * what's already picked — round 0 takes the most query-similar vector,
    * every later round argmaxes `lam·rel − mu·maxSim(selected)` (ties by
    * smallest id). The query is the lowest-id vector (excluded from
    * candidates). The diverse-retrieval / dedup-aware-sampling primitive:
    * where k-center ([[kCenterGreedy]]) maximizes pure coverage, MMR keeps
    * the picks RELEVANT while still spreading them out.
    *
    * `lam`/`mu` are passed separately (not `1−lam`): the oracle writes the
    * same decimal literals, and `1 − 0.7` is NOT double 0.3.
    *
    * Scale shape: identical to kCenterGreedy — per-point state is one
    * double (max similarity to selected so far), updated by one broadcast
    * center per round, argmax'd by a partial-aggregable max(struct); the
    * driver sees k scalar rows, never data.
    */
  def mmrSelect(embeddings: DataFrame, k: Int, lam: Double = 0.7,
                mu: Double = 0.3): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val e = embeddings.select(col("vec_id"), col("embedding"))
    val qId = e.agg(min(col("vec_id"))).head.getLong(0)
    val q = e.filter(col("vec_id") === qId)
      .select(col("embedding").as("q_emb"))
    var st = e.filter(col("vec_id") =!= qId)
      .crossJoin(broadcast(q))
      .withColumn("rel", cosine(col("embedding"), col("q_emb")))
      .drop("q_emb")
      .withColumn("ms", lit(null).cast("double"))
      .localCheckpoint()
    var selected = Vector.empty[(Long, Long, Double, Option[Double])]
    for (i <- 0 until k) {
      val score =
        if (i == 0) col("rel")
        else lit(lam) * col("rel") - lit(mu) * col("ms")
      val top = st
        .filter(!col("vec_id").isInCollection(selected.map(_._2) :+ -1L))
        .agg(max(struct(score.as("s"), (-col("vec_id")).as("nid"),
          col("rel").as("rel"), col("ms").as("ms"))).as("m"))
        .select(col("m.nid"), col("m.rel"), col("m.ms")).head
      val picked = -top.getLong(0)
      selected = selected :+ ((i.toLong, picked, top.getDouble(1),
        if (i == 0) None else Some(top.getDouble(2))))
      if (i < k - 1) {
        val c = e.filter(col("vec_id") === picked)
          .select(col("embedding").as("c_emb"))
        val cs = cosine(col("embedding"), col("c_emb"))
        st = st.crossJoin(broadcast(c))
          .withColumn("ms",
            when(col("ms").isNull, cs).otherwise(greatest(col("ms"), cs)))
          .drop("c_emb")
          .localCheckpoint()
      }
    }
    selected.toDF("sel_order", "vec_id", "rel", "ms")
  }

  /** SIGN-SIGNATURE embedding drift census between two corpus versions
    * (here: even vs odd vec_id halves standing in for v1/v2): bucket every
    * vector by the sign bits of its first `bits` dimensions (a 1-bit-
    * per-dim quantizer — the degenerate SRP with axis-aligned projections,
    * deterministic and engine-exact since `float > 0` is a bit test), then
    * per bucket report both populations and the cross-multiplied imbalance
    * `|n1·T2 − n2·T1|` — an exact-integer drift signal (zero on identical
    * distributions regardless of T1≠T2; division stays with the consumer).
    * The "did the embedding distribution move between crawls" monitor that
    * runs before anyone retrains an ANN index on the new corpus.
    *
    * Scale shape: one projection + one groupBy on ≤2^bits buckets + a
    * broadcast of the 1-row totals. No pairwise anything.
    */
  def signDriftCensus(embeddings: DataFrame, bits: Int = 6): DataFrame = {
    val bucket = (0 until bits).map { j =>
      when(element_at(col("embedding"), j + 1) > 0f, 1L << j).otherwise(0L)
    }.reduce(_ + _)
    val counts = embeddings
      .select(bucket.as("bucket"), (col("vec_id") % 2).as("half"))
      .groupBy(col("bucket"))
      .agg(sum(when(col("half") === 0, 1L).otherwise(0L)).as("n_v1"),
        sum(when(col("half") =!= 0, 1L).otherwise(0L)).as("n_v2"))
    val totals = counts.agg(sum(col("n_v1")).as("t1"), sum(col("n_v2")).as("t2"))
    counts.join(broadcast(totals))
      .withColumn("imbalance",
        abs(col("n_v1") * col("t2") - col("n_v2") * col("t1")))
      .select(col("bucket"), col("n_v1"), col("n_v2"), col("imbalance"))
  }
}

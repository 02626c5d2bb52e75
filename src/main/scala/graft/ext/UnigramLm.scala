package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed unigram-LM (SentencePiece-style) tokenizer training — the
  * second trainable tokenizer family beside BPE ([[BpeTrainer]]): Kudo 2018
  * (arXiv:1804.10959) trains a unigram language model over a substring seed
  * vocabulary by EM, segmenting with the Viterbi lattice. This is the
  * hard-EM (Viterbi-EM) variant, chosen because every step is exact integer
  * or integer-log-grid arithmetic and therefore replayable bit-for-bit by a
  * SQL oracle — the same determinism contract as the BPE trainer.
  *
  * Like classic subword training, the state lives on WORD TYPES with corpus
  * frequencies (the type/token ratio does the compression: a 100 TB ascii
  * corpus has a few million word types, so everything after the one
  * corpus-wide tokenize+reduce runs on a domain-bounded relation).
  *
  *  - Seed vocabulary: ALL substrings of length 1..[[MaxPiece]] of the
  *    training word types (single chars guarantee coverage), with
  *    frequency-weighted occurrence counts — the suffix-substring seed of
  *    the paper, exact rather than sampled.
  *  - Initial piece scores: lp0 = floor(ln(c0/T0)·1e4) on the q300 integer
  *    log grid (one floored ln per piece; BIGINT everywhere after).
  *  - E-step: Viterbi-best segmentation of each word type under the current
  *    scores, as a forward DP over positions — position i's best prefix
  *    extends a best prefix at i−k by the piece (i−k+1..i), k ≤ [[MaxPiece]].
  *    Relationally: a fixed [[MaxLen]]-round unroll (the q120 BFS
  *    discipline); each round is one join (frontier × scored candidates
  *    ending at i) plus one per-word top-1 window. Ties break by larger
  *    score, then lexicographically smallest piece path — total and
  *    deterministic.
  *  - M-step: recount piece usage over the Viterbi segmentations
  *    (freq-weighted), then re-score with add-one smoothing over the FULL
  *    seed vocabulary: lp = floor(ln((c+1)/(T+V0))·1e4). Smoothing keeps
  *    every seed piece alive (pieces the E-step dropped get the floor
  *    probability), so the DP stays total in later rounds — the pruning
  *    schedule of the paper degenerates here to "unused pieces fall to the
  *    smoothing floor", which is the honest fixed-vocab variant.
  *
  * Words longer than [[MaxLen]] ascii chars are excluded from TRAINING
  * (both engines identically); the fixture tops out at 8. The reference has
  * no tokenizer trainer — this extends the q121/q138 BPE family per the
  * round-10 verdict's build list.
  */
object UnigramLm {

  /** DP unroll bound = max trainable word length (fixture max is 8). */
  val MaxLen = 12
  /** Max piece length in the seed vocabulary. */
  val MaxPiece = 4
  /** EM rounds (fixed unroll, replayed by the oracle). */
  val Iters = 2

  /** Training word types: (w, freq, len) — ascii lowercase, bounded. */
  def wordTypes(documents: DataFrame): DataFrame =
    documents
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w").rlike("^[a-z]+$") && length(col("w")) <= MaxLen)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .withColumn("len", length(col("w")))

  /** Candidate pieces: one row per (word type, start, length) occurrence —
    * (w, freq, ci, ck, piece), ci 1-based, ck in 1..MaxPiece. */
  def candidates(types: DataFrame): DataFrame =
    types
      .select(col("w"), col("freq"),
        explode(expr(
          s"flatten(transform(sequence(1, length(w)), i -> " +
            s"transform(sequence(1, least($MaxPiece, length(w) - i + 1)), " +
            "k -> struct(i AS ci, k AS ck))))")).as("ik"))
      .select(col("w"), col("freq"), col("ik.ci").as("ci"),
        col("ik.ck").as("ck"),
        expr("substr(w, ik.ci, ik.ck)").as("piece"))

  /** The forward Viterbi DP over one word, as a single higher-order fold:
    * acc[j+1] = (best score, best path) for the prefix of length j; step i
    * extends the best prefixes at i−k by the piece substr(w, i−k+1, k),
    * k ≤ MaxPiece, picking max score then lexicographically smallest path
    * (a strict total order — the argmax is iteration-order-free, so this
    * is EXACTLY the (score DESC, path ASC) top-1 of the oracle's unrolled
    * relational DP; the cross-engine hash-match proves the equivalence).
    * `m` is the per-word map (ci*8+ck) → lp_q. */
  private def dpExpr: String = {
    def sc(kOff: String) =
      s"element_at(acc, i - $kOff + 1).sc + element_at(m, (i - $kOff + 1) * 8 + $kOff)"
    def ph(kOff: String) =
      s"CASE WHEN i - $kOff = 0 THEN substr(w, i - $kOff + 1, $kOff) " +
        s"ELSE element_at(acc, i - $kOff + 1).ph || '|' || " +
        s"substr(w, i - $kOff + 1, $kOff) END"
    s"""aggregate(
       |  sequence(1, length(w)),
       |  array(named_struct('sc', cast(0 as bigint), 'ph', '')),
       |  (acc, i) -> concat(acc, array(
       |    aggregate(
       |      sequence(1, least($MaxPiece, i)),
       |      cast(null as struct<sc: bigint, ph: string>),
       |      (b, k) -> CASE
       |        WHEN ${sc("k")} IS NULL THEN b
       |        WHEN b IS NULL
       |          OR ${sc("k")} > b.sc
       |          OR (${sc("k")} = b.sc AND (${ph("k")}) < b.ph)
       |        THEN named_struct('sc', ${sc("k")}, 'ph', ${ph("k")})
       |        ELSE b END))),
       |  acc -> element_at(acc, length(w) + 1))""".stripMargin
  }

  /** Viterbi-best segmentation of every word type under `lp` (piece →
    * lp_q): (w, path) with path = pieces joined by '|'.
    *
    * Engine shape: ONE join (candidates × scores) + ONE per-word map
    * aggregation + the [[dpExpr]] fold — constant stage count regardless
    * of MaxLen. (A first cut unrolled the DP relationally like the
    * oracle, 12 join+window+checkpoint rounds per E-step; correct, but
    * 3 E-steps × 12 rounds of tiny-stage scheduling dominated the runtime
    * at ANY scale — the fold does the same integer DP in-row, and the
    * oracle's unrolled form certifies it per round via the hash match.) */
  private def viterbi(types: DataFrame, cand: DataFrame,
                      lp: DataFrame): DataFrame =
    cand.drop("freq")
      .join(lp.select(col("piece"), col("lp_q")), Seq("piece"))
      .groupBy(col("w"))
      .agg(map_from_entries(collect_list(struct(
        ((col("ci") * 8) + col("ck")).cast("int").as("key"),
        col("lp_q").as("value")))).as("m"))
      .select(col("w"), expr(dpExpr).as("dp"))
      .select(col("w"), col("dp.ph").as("path"), col("dp.sc").as("score_q"))

  /** Viterbi with ONE PIECE REMOVED, per (w, rp) pair — the Kudo prune
    * loss primitive. `pairs` lists only AFFECTED words (a word whose best
    * path does not use rp keeps its best path when rp is removed, so its
    * loss contribution is zero by construction). Single chars are never
    * removed, so the DP stays total; candidate occurrences of rp simply
    * vanish from the per-word score map and the fold's null-guard skips
    * them — exactly the missing join row of the oracle's relational DP.
    * Returns (w, rp, score_q) of the best rp-free segmentation. */
  private def viterbiWithout(pairs: DataFrame, cand: DataFrame,
                             lp: DataFrame): DataFrame =
    cand.drop("freq")
      .join(lp.select(col("piece"), col("lp_q")), Seq("piece"))
      .join(pairs, Seq("w"))
      .filter(col("piece") =!= col("rp"))
      .groupBy(col("w"), col("rp"))
      .agg(map_from_entries(collect_list(struct(
        ((col("ci") * 8) + col("ck")).cast("int").as("key"),
        col("lp_q").as("value")))).as("m"))
      .select(col("w"), col("rp"), expr(dpExpr).as("dp"))
      .select(col("w"), col("rp"), col("dp.sc").as("score_q"))

  /** Freq-weighted piece usage counts of a segmentation set. */
  private def usageCounts(seg: DataFrame, types: DataFrame): DataFrame =
    seg.join(types.select(col("w"), col("freq")), Seq("w"))
      .select(col("freq"), explode(split(col("path"), "\\|")).as("piece"))
      .groupBy(col("piece")).agg(sum(col("freq")).as("cnt"))

  /** Add-one-smoothed integer-log scores over the full seed vocabulary:
    * (piece, cnt, arg, lp_q) with cnt = 0 for unused pieces. `arg` is the
    * pre-floor ln argument, carried so the knife-edge audit measures the
    * QUERY'S OWN terms rather than a duplicated pipeline. */
  private def smoothedLp(counts: DataFrame, seedPieces: DataFrame): DataFrame = {
    val tot = counts.agg(sum(col("cnt")).as("tt"))
    val v0 = seedPieces.agg(count(lit(1)).as("v0"))
    seedPieces.join(counts, Seq("piece"), "left")
      .crossJoin(broadcast(tot)).crossJoin(broadcast(v0))
      .select(col("piece"), coalesce(col("cnt"), lit(0L)).as("cnt"),
        ((coalesce(col("cnt"), lit(0L)) + lit(1L)).cast("double") /
          (col("tt") + col("v0")).cast("double")).as("arg"))
      .withColumn("lp_q", floor(log(col("arg")) * 1e4).cast("long"))
  }

  /** The trained model's shared relations, pinned in the session memo:
    * [[segFinal]] is the Viterbi segmentation of every word type under the
    * FINAL scores, the pass encode, encodeScored, report and the prune pass
    * each start from. */
  private case class Model(types: DataFrame, cand: DataFrame,
                           lp: DataFrame, args: DataFrame, segFinal: DataFrame)

  /** ONE EM training per (session, dataset, iters): a tokenizer is trained
    * once per corpus and its readouts (train/encode/report/prune/
    * perplexity-filter) post-process the SAME model; at 100 TB the EM loop
    * is the dominant cost and re-running it inside each consumer query is
    * pure redundant work. */
  private def trained(documents: DataFrame, iters: Int): Model =
    graft.SessionMemo(documents, s"unigram:iters=$iters")(train0(documents, iters, _))

  /** The actual training pipeline: word types, candidate pieces, `iters`
    * EM rounds, the union of every scoring round's pre-floor ln arguments
    * for the KnifeEdgeSpec audit. */
  private def train0(documents: DataFrame, iters: Int,
                     pin: graft.SessionMemo.Pins): Model = {
    val types = pin(wordTypes(documents))
    val cand = pin(candidates(types))
    val seedPieces = cand.select(col("piece")).distinct()
    // round-0 scores from raw seed occurrence counts (every piece >= 1)
    val c0 = cand.groupBy(col("piece")).agg(sum(col("freq")).as("cnt"))
    val t0 = c0.agg(sum(col("cnt")).as("tt"))
    var lp = pin(c0.crossJoin(broadcast(t0))
      .select(col("piece"), col("cnt"),
        (col("cnt").cast("double") / col("tt").cast("double")).as("arg"))
      .withColumn("lp_q", floor(log(col("arg")) * 1e4).cast("long")))
    var args = lp.select(col("arg"))
    for (_ <- 1 to iters) {
      val seg = viterbi(types, cand, lp)
      lp = pin(smoothedLp(usageCounts(seg, types), seedPieces))
      args = args.unionByName(lp.select(col("arg")))
    }
    Model(types, cand, lp, args, pin(viterbi(types, cand, lp)))
  }

  /** Every pre-floor ln argument the training evaluates (round 0 plus each
    * EM re-score), for KnifeEdgeSpec — returned from the SAME plan the
    * registered queries run, so the audit cannot drift from the query. */
  private[graft] def lnArgsForAudit(documents: DataFrame,
                                    iters: Int = Iters): DataFrame =
    trained(documents, iters).args

  /** Tokenizer TRAIN: the final vocabulary — pieces used by the last
    * E-step's segmentations, with their freq-weighted counts and smoothed
    * integer-log scores: (piece, cnt, lp_q). */
  def train(documents: DataFrame, iters: Int = Iters): DataFrame = {
    val lp = trained(documents, iters).lp
    lp.filter(col("cnt") > 0L)
      .select(col("piece"), col("cnt"), col("lp_q"))
  }

  /** CORPUS COMPRESSION REPORT under the trained model — the number a
    * tokenizer is actually optimized for: total corpus code length
    * Σ_w freq(w) · Σ_pieces −lp(piece) on the 1e-4 integer-log grid
    * (nats·1e4, BIGINT-exact), plus fertility (pieces per word instance,
    * milli) and the used-vocabulary size. One row. */
  def report(documents: DataFrame, iters: Int = Iters): DataFrame = {
    val m = trained(documents, iters)
    val (types, lp) = (m.types, m.lp)
    val totals = types.agg(count(lit(1)).as("n_types"),
      sum(col("freq")).as("n_words"))
    val pieces = m.segFinal
      .join(types.select(col("w"), col("freq")), Seq("w"))
      .select(col("freq"), explode(split(col("path"), "\\|")).as("piece"))
      .join(lp.select(col("piece"), col("lp_q")), Seq("piece"))
    pieces
      .agg(countDistinct(col("piece")).as("vocab_used"),
        sum(col("freq")).as("total_pieces"),
        sum(col("freq") * -col("lp_q")).as("code_len_q"))
      .crossJoin(broadcast(totals))
      .selectExpr("n_types", "n_words", "vocab_used", "total_pieces",
        "(total_pieces * 1000) DIV n_words AS fertility_milli",
        "code_len_q", "code_len_q DIV n_words AS nats_q_per_word")
  }

  /** Tokenizer APPLY: segment the training word types with the trained
    * scores (one more Viterbi pass under the final lp) — the encode twin,
    * mirroring q138's BPE encode: (w, freq, n_pieces, encoding). */
  def encode(documents: DataFrame, iters: Int = Iters): DataFrame = {
    val m = trained(documents, iters)
    m.segFinal
      .join(m.types.select(col("w"), col("freq")), Seq("w"))
      .select(col("w"), col("freq"),
        size(split(col("path"), "\\|")).cast("long").as("n_pieces"),
        col("path").as("encoding"))
  }

  /** Encode with the Viterbi code length exposed: (w, freq, path, code_q)
    * where code_q = −(best path score) in 1e-4 nats — the per-word-type
    * compression cost under the trained model, i.e. the LM-perplexity
    * ingredient the q447 document filter aggregates. */
  def encodeScored(documents: DataFrame, iters: Int = Iters): DataFrame = {
    val m = trained(documents, iters)
    m.segFinal
      .join(m.types.select(col("w"), col("freq")), Seq("w"))
      .select(col("w"), col("freq"), col("path"),
        (-col("score_q")).cast("long").as("code_q"))
  }

  /** Percent of prunable (used, multi-char) pieces dropped by the prune
    * round — smallest likelihood-loss first, Kudo 2018 §3.2 step 3. */
  val PrunePct = 20

  /** VOCABULARY PRUNING round (Kudo 2018 §3.2 step 3 — the schedule the
    * fixed-vocab trainer deliberately omitted, see the object scaladoc):
    *
    *  1. Segment under the FINAL trained scores (the encode pass).
    *  2. Per USED multi-char piece p, loss(p) = Σ_w freq(w)·(best(w) −
    *     best_without_p(w)) — computed by re-running the Viterbi DP with p
    *     removed, but ONLY for words whose best path uses p (any other
    *     word's best path survives p's removal unchanged, so its
    *     contribution is zero by construction — this is what keeps the
    *     prune pass O(affected words), not O(types × vocab)).
    *  3. Drop the bottom [[PrunePct]]% by (loss ASC, piece ASC); unused
    *     multi-char seed pieces leave the vocabulary wholesale (the
    *     "remove unused" half of the paper's step); single chars always
    *     survive, so segmentation stays total.
    *  4. One more EM round over the pruned vocabulary (E-step restricted
    *     to surviving pieces under the current scores, add-one M-step
    *     re-score with the SMALLER V in the denominator).
    *
    * Output: the vocab-size / code-length trade, one row per stage —
    * (stage ∈ {pre, post}, vocab_size, vocab_used, total_pieces,
    * code_len_q, nats_q_per_word) on the q425 report's 1e-4 nats grid.
    * Everything integer or integer-log-grid — the oracle replays the
    * prune round CTE-for-CTE. */
  def pruneReport(documents: DataFrame, iters: Int = Iters): DataFrame = {
    val st = pruneState(documents, iters)
    pruneReportOf(st)
  }

  /** Every pre-floor ln argument the PRUNE round adds beyond training
    * (the post-prune M-step re-score), from the SAME plan q428 runs —
    * the KnifeEdgeSpec hook, mirroring [[lnArgsForAudit]]. */
  private[graft] def pruneLnArgsForAudit(documents: DataFrame,
                                         iters: Int = Iters): DataFrame =
    pruneState(documents, iters).lpPost.select(col("arg"))

  private case class PruneState(types: DataFrame, cand: DataFrame,
      lp: DataFrame, seg: DataFrame, seedPieces: DataFrame,
      vocab1: DataFrame, segP: DataFrame, lpPost: DataFrame)

  private def pruneState(documents: DataFrame, iters: Int): PruneState = {
    val m = trained(documents, iters)
    val (types, cand, lp) = (m.types, m.cand, m.lp)
    val freq = types.select(col("w"), col("freq"))
    // the E-pass under the final scores (shared with encode/report); feeds
    // the pre report, the affected-pairs list, and the with-piece score
    val seg = m.segFinal
    // affected (word, removed-piece) pairs: distinct multi-char path pieces
    val pairs = seg
      .select(col("w"),
        explode(array_distinct(split(col("path"), "\\|"))).as("rp"))
      .filter(length(col("rp")) >= 2)
    val loss = viterbiWithout(pairs, cand, lp)
      .join(seg.select(col("w"), col("score_q").as("sc_with")), Seq("w"))
      .join(freq, Seq("w"))
      .groupBy(col("rp").as("piece"))
      .agg(sum(col("freq") * (col("sc_with") - col("score_q"))).as("loss_q"))
    // bottom PrunePct% by (loss ASC, piece ASC): window over the PIECE
    // domain — bounded (sits above the loss aggregate; audit-visible)
    val np = loss.agg(count(lit(1)).as("np"))
    val survivors = loss.crossJoin(broadcast(np))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("loss_q").asc, col("piece").asc)).cast("long"))
      .filter(col("rk") > expr(s"np * $PrunePct DIV 100"))
      .select(col("piece"))
    val seedPieces = cand.select(col("piece")).distinct()
    // pruned vocabulary: all single chars + surviving used multi-char
    // pieces; checkpointed with provenance (piece-domain, 4 consumers)
    val vocab1 = graft.Explain.localCheckpointWithProvenance(
      seedPieces.filter(length(col("piece")) === 1)
        .union(survivors).distinct())
    // one EM round over the pruned vocabulary
    val candP = cand.join(vocab1, Seq("piece"))
    val lpP = lp.join(vocab1, Seq("piece")).select(col("piece"), col("lp_q"))
    val segP = viterbi(types, candP, lpP)
    val lpPost = smoothedLp(usageCounts(segP, types), vocab1)
    PruneState(types, cand, lp, seg, seedPieces, vocab1, segP, lpPost)
  }

  private def pruneReportOf(st: PruneState): DataFrame = {
    val freq = st.types.select(col("w"), col("freq"))
    val usedPre = st.seg.join(freq, Seq("w"))
      .select(col("freq"), explode(split(col("path"), "\\|")).as("piece"))
      .join(st.lp.select(col("piece"), col("lp_q")), Seq("piece"))
    val usedPost = st.segP.join(freq, Seq("w"))
      .select(col("freq"), explode(split(col("path"), "\\|")).as("piece"))
      .join(st.lpPost.select(col("piece"), col("lp_q")), Seq("piece"))
    val nWords = st.types.agg(sum(col("freq")).as("n_words"))
    def stageRow(name: String, used: DataFrame,
                 vocabSize: DataFrame): DataFrame =
      used.agg(countDistinct(col("piece")).as("vocab_used"),
          sum(col("freq")).as("total_pieces"),
          sum(col("freq") * -col("lp_q")).as("code_len_q"))
        .crossJoin(broadcast(vocabSize))
        .crossJoin(broadcast(nWords))
        .selectExpr(s"'$name' AS stage", "vocab_size", "vocab_used",
          "total_pieces", "code_len_q",
          "code_len_q DIV n_words AS nats_q_per_word")
    stageRow("pre", usedPre,
        st.seedPieces.agg(count(lit(1)).as("vocab_size")))
      .unionByName(stageRow("post", usedPost,
        st.vocab1.agg(count(lit(1)).as("vocab_size"))))
  }
}

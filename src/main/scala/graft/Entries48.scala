package graft

import graft.ExtEntries.Q
import graft.ext.{Curation, Multimodal, Similarity}

/** Round-7 batch 27: MMR diverse selection, n-gram novelty census,
  * shot-boundary detection.
  */
object Entries48 {

  /** MMR greedy replay, round by round (the kCenterSql discipline): m_i
    * carries each candidate's (embedding, rel, running max-sim); s_i picks
    * the round winner by `0.7·rel − 0.3·ms` (round 0: pure rel), ties by
    * id. Literals 0.7/0.3 match the Scala side exactly (never `1 − 0.7`,
    * which is not double 0.3). */
  private def mmrSql(k: Int): String = {
    def cos(a: String, b: String) = ExtEntries.cosSql(a, b)
    val sb = new StringBuilder
    sb ++= "WITH e AS (SELECT vec_id, embedding FROM embeddings),\n"
    sb ++= "q AS (SELECT embedding AS q_emb FROM e " +
      "WHERE vec_id = (SELECT min(vec_id) FROM e)),\n"
    sb ++= s"r AS (SELECT e.vec_id, e.embedding, " +
      s"${cos("e.embedding", "q.q_emb")} AS rel FROM e, q " +
      "WHERE e.vec_id <> (SELECT min(vec_id) FROM e)),\n"
    sb ++= "s0 AS (SELECT vec_id, rel, CAST(NULL AS DOUBLE) AS ms FROM r " +
      "ORDER BY rel DESC, vec_id ASC LIMIT 1),\n"
    for (i <- 1 until k) {
      val prevM = if (i == 1) "r" else s"m${i - 1}"
      val msExpr =
        if (i == 1) cos("x.embedding", "c.embedding")
        else s"greatest(x.ms, ${cos("x.embedding", "c.embedding")})"
      sb ++= s"m$i AS (SELECT x.vec_id, x.embedding, x.rel, $msExpr AS ms " +
        s"FROM $prevM x, (SELECT e.embedding FROM e, s${i - 1} s " +
        "WHERE e.vec_id = s.vec_id) c),\n"
      val excl = "SELECT vec_id FROM s0" +
        (1 until i).map(j => s" UNION ALL SELECT vec_id FROM s$j").mkString
      sb ++= s"s$i AS (SELECT vec_id, rel, ms FROM m$i " +
        s"WHERE vec_id NOT IN ($excl) " +
        "ORDER BY 0.7 * rel - 0.3 * ms DESC, vec_id ASC LIMIT 1),\n"
    }
    sb.setLength(sb.length - 2) // drop trailing ",\n"
    sb ++= "\nSELECT CAST(0 AS BIGINT) AS sel_order, vec_id, rel, ms FROM s0"
    for (i <- 1 until k)
      sb ++= s" UNION ALL SELECT CAST($i AS BIGINT), vec_id, rel, ms FROM s$i"
    sb.toString
  }

  val all: Seq[Q] = Seq(

    // MMR diverse top-6 vs the lowest-id query vector: relevance-weighted
    // diversity (0.7·rel − 0.3·maxSim), the retrieval/sampling complement
    // of q180's pure-coverage k-center.
    Q("q285_mmr_select",
      (s, d) => {
        Similarity.mmrSelect(Tables.embeddings(s, d), 6, 0.7, 0.3)
      },
      Some(mmrSql(6))),

    // N-gram novelty by arrival order: per doc, distinct 3-shingles it saw
    // FIRST (min-doc_id sighting), integer novelty decile — the
    // "is the crawl still finding new content" census.
    Q("q286_novelty_census",
      (s, d) => Curation.noveltyCensus(Tables.documents(s, d), 3),
      Some("""WITH shd AS (
             |  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS sh
             |  FROM (SELECT doc_id, string_split(text, ' ') AS w
             |        FROM documents) d,
             |       (SELECT unnest(range(1, 1000)) AS i) t
             |  WHERE len(w) >= 3 AND i <= len(w) - 2),
             |shid AS (
             |  SELECT doc_id, ('0x' || substr(md5(sh), 1, 12))::BIGINT AS sid
             |  FROM shd),
             |fs AS (SELECT sid, min(doc_id) AS first_id FROM shid
             |       GROUP BY 1)
             |SELECT s.doc_id, count(*) AS n_shingles,
             |  CAST(sum(CASE WHEN f.first_id = s.doc_id THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_novel,
             |  CAST(sum(CASE WHEN f.first_id = s.doc_id THEN 1 ELSE 0 END)
             |    AS BIGINT) * 10 // count(*) AS novelty_decile
             |FROM shid s JOIN fs f ON s.sid = f.sid
             |GROUP BY s.doc_id""".stripMargin)),

    // Shot boundaries over 64-byte payload frames: exact L1 byte distance
    // between consecutive complete frames, cuts above 2000, per-media
    // census (count/max/sum deltas).
    Q("q287_shot_boundaries",
      (s, d) => Multimodal.shotBoundaries(Tables.documents(s, d), 64, 2000L),
      Some("""WITH d AS (
             |  SELECT doc_id, text, strlen(text) // 64 AS nf
             |  FROM documents WHERE strlen(text) >= 128),
             |del AS (
             |  SELECT d.doc_id, t,
             |    sum(abs(ord(substr(text, CAST(t * 64 + i AS INT), 1))
             |      - ord(substr(text, CAST((t - 1) * 64 + i AS INT), 1))))
             |      AS delta
             |  FROM d
             |  JOIN (SELECT unnest(range(1, 64)) AS t) tt ON t <= nf - 1
             |  JOIN (SELECT unnest(range(1, 65)) AS i) ti ON true
             |  GROUP BY d.doc_id, t)
             |SELECT doc_id, CAST(count(*) + 1 AS BIGINT) AS n_frames,
             |  CAST(sum(CASE WHEN delta > 2000 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_cuts,
             |  CAST(max(delta) AS BIGINT) AS max_delta,
             |  CAST(sum(delta) AS BIGINT) AS sum_delta
             |FROM del GROUP BY doc_id""".stripMargin)))
}

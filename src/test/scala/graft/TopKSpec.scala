package graft

import org.apache.spark.sql.DataFrame
import graft.ext.{Curation, Similarity}

/** The one tie-break of `TopK`, executed on ties that are exact by
  * construction. Vectors 1, 2, 3 and 7 are the same vector (so their
  * cosines to any query are bit-identical), 5 is twice it, and with
  * centroidEvery = 4 the two centroids 0 = e1 and 4 = e2 are at the same
  * cosine from all of them. Every candidate source must rank those ties by
  * n_id asc and assign them to c_id 0, at 3 and at 17 shuffle partitions.
  */
class TopKSpec extends SparkSpec {
  import TopKSpec._

  private def tiny: DataFrame = {
    val s = spark
    import s.implicits._
    Seq(
      (0L, Array(1f, 0f, 0f, 0f)), (1L, Array(1f, 1f, 0f, 0f)),
      (2L, Array(1f, 1f, 0f, 0f)), (3L, Array(1f, 1f, 0f, 0f)),
      (4L, Array(0f, 1f, 0f, 0f)), (5L, Array(2f, 2f, 0f, 0f)),
      (6L, Array(0f, 0f, 1f, 0f)), (7L, Array(1f, 1f, 0f, 0f)))
      .map { case (id, v) => (id, v, (id % 2).toInt) }
      .toDF("vec_id", "embedding", "label")
  }

  /** (q_id, n_id) in rank order per query. */
  private def ranked(df: DataFrame, rank: String): Map[Long, Seq[Long]] =
    df.select("q_id", "n_id", rank).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).longValue))
      .groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(_._3).map(_._2) }

  private def atPartitions[T](n: Int)(body: => T): T = {
    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally spark.conf.set("spark.sql.shuffle.partitions", saved)
  }

  for (n <- Seq(3, 17)) {
    test(s"every candidate source ranks ties by n_id asc at $n shuffle partitions") {
      atPartitions(n) {
        val e = tiny
        // all pairs: q0 = e1 is at 1/sqrt(2) from 1, 2, 3, 5 and 7
        assert(ranked(Similarity.bruteForceTopK(e, 2, 4), "rank") ==
          Map(0L -> Seq(1L, 2L, 3L, 5L), 1L -> Seq(2L, 3L, 5L, 7L)))
        // label-filtered: q1 (label 1) sees only even ids; 0 and 4 tie
        assert(ranked(Similarity.hardNegatives(e, 2, 3), "rank") ==
          Map(0L -> Seq(1L, 3L, 5L), 1L -> Seq(2L, 0L, 4L)))
        // IVF lists, nprobe 1: q1 probes c0 (tied with c4), and 6 (at
        // cosine 0 from both) sits in c0's list too
        assert(ranked(Similarity.ivfTopK(e, 2, 6, 4, 1), "rank") ==
          Map(0L -> Seq(1L, 2L, 3L, 5L, 7L, 6L),
            1L -> Seq(2L, 3L, 5L, 7L, 0L, 6L)))
        // PQ distance asc: every code but vector 4's first subspace is 0
        assert(ranked(Similarity.pqAdcTopK(e, 2, 2, 4, 1, 2, 3), "rnk") ==
          Map(0L -> Seq(1L, 2L, 3L), 1L -> Seq(0L, 2L, 3L)))
        // all pairs over every vector, through the mutual-kNN graph: 1's
        // top 3 are 2, 3 and 5 (not 7), and each of them ranks 1 back
        assert(Similarity.mutualKnn(e, 3).filter("v1 = 1")
          .select("v2").collect().map(_.getLong(0)).sorted.toSeq ==
          Seq(2L, 3L, 5L))
      }
    }

    test(s"every nearest-centroid assignment breaks ties by c_id asc at $n shuffle partitions") {
      atPartitions(n) {
        val e = tiny
        val clusters = Similarity.kmeans(e, 4, 1).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(clusters == Assigned)
        val dedup = Curation.semanticDedup(e, 4, 2.0).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(dedup == Assigned)
        // PQ codes: both subspaces tie between seeds 0 and 4 except on 4
        val codes = Similarity.pqCodes(e, 2, 2, 4, 1).collect()
          .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
        assert(codes == (for (v <- 0L to 7L; s <- 0L to 1L)
          yield (v, s) -> (if (v == 4 && s == 0) 4L else 0L)).toMap)
      }
    }
  }
}

object TopKSpec {
  /** Every vector but centroid 4 itself lands in cluster 0: the tied ones
    * by the c_id tie-break, 6 (cosine 0 from both) too. */
  val Assigned: Map[Long, Long] = (0L to 7L).map(v => v -> (if (v == 4) 4L else 0L)).toMap
}

package graft

import graft.ext.TrainPrep
import org.apache.spark.sql.functions._

/** TrainPrep operator semantics (ext/TrainPrep.scala): split stability,
  * stratification bounds, group-limit, bin monotonicity, correlation range,
  * idf monotonicity, packing budget, weight balance. */
class TrainPrepSpec extends SparkSpec {
  import spark.implicits._

  test("hashSplit is a pure function of the key and covers 3 splits") {
    val c = Tables.customer(spark, sf)
    val s1 = TrainPrep.hashSplit(c, "c_custkey").select($"c_custkey", $"split")
    val s2 = TrainPrep.hashSplit(c, "c_custkey").select($"c_custkey", $"split")
    assert(s1.except(s2).count() == 0) // deterministic across evaluations
    val bySplit = s1.groupBy($"split").count().as[(String, Long)].collect().toMap
    assert(bySplit.keySet == Set("train", "val", "test"))
    // ~80/10/10: train must dominate
    assert(bySplit("train") > bySplit("val") && bySplit("train") > bySplit("test"))
  }

  test("same key never lands in two splits (leakage-free)") {
    val dup = Tables.customer(spark, sf).unionByName(Tables.customer(spark, sf))
    val n = TrainPrep.hashSplit(dup, "c_custkey")
      .groupBy($"c_custkey").agg(countDistinct($"split").as("k"))
      .filter($"k" > 1).count()
    assert(n == 0)
  }

  test("stratifiedSample takes at most n per stratum, deterministically") {
    val c = Tables.customer(spark, sf).select($"c_custkey", $"c_mktsegment")
    val s = TrainPrep.stratifiedSample(c, "c_mktsegment", "c_custkey", 10)
    val per = s.groupBy($"c_mktsegment").count().as[(String, Long)].collect()
    assert(per.forall(_._2 <= 10))
    val again = TrainPrep.stratifiedSample(c, "c_mktsegment", "c_custkey", 10)
    assert(s.except(again).count() == 0)
  }

  test("topKPerGroup returns the k largest with deterministic ties") {
    val df = Seq((1L, 10L, 5.0), (1L, 11L, 5.0), (1L, 12L, 3.0), (2L, 20L, 1.0))
      .toDF("g", "id", "v")
    val top = graft.ext.TopK.rank(df, Seq("g"), "v", "id", 2)
      .select($"g", $"id").as[(Long, Long)].collect().toSet
    assert(top == Set((1L, 10L), (1L, 11L), (2L, 20L))) // tie broken by id asc
  }

  test("quantileBins: bins are contiguous, ordered, and partition the rows") {
    val bins = TrainPrep.quantileBins(Tables.orders(spark, sf), 10)
      .orderBy($"bin").collect()
    assert(bins.length == 10)
    val total = bins.map(_.getAs[Long]("n")).sum
    assert(total == Tables.orders(spark, sf).count())
    // non-decreasing value ranges across bins
    val pairs = bins.map(r => (r.getAs[Long]("min_cents"), r.getAs[Long]("max_cents")))
    pairs.sliding(2).foreach { case Array((_, hi1), (lo2, _)) => assert(hi1 <= lo2) }
  }

  test("corrMatrix values are in [-1, 1]; perfect correlation hits 1") {
    val r = TrainPrep.corrMatrix(Tables.lineitem(spark, sf)).collect()(0)
    val cs = Seq("corr_qty_price", "corr_qty_disc", "corr_price_disc")
      .map(r.getAs[Double])
    assert(cs.forall(c => c >= -1.0 && c <= 1.0))
    // sanity on a constructed frame: price = 2*qty => corr exactly 1
    val lin = Seq((1L, 2.0, 0.0), (2L, 4.0, 0.1), (3L, 6.0, 0.2))
      .toDF("l_quantity", "l_extendedprice", "l_discount")
    val c1 = TrainPrep.corrMatrix(lin).collect()(0).getAs[Double]("corr_qty_price")
    assert(math.abs(c1 - 1.0) < 1e-12)
  }

  test("tfidf: rarer terms score higher at equal tf") {
    val docs = Seq((1L, "alpha common"), (2L, "beta common"), (3L, "gamma common"))
      .toDF("doc_id", "text")
    val out = TrainPrep.tfidf(docs).collect()
    val byTerm = out.map(r => r.getAs[String]("w") -> r.getAs[Double]("score")).toMap
    assert(byTerm("alpha") > byTerm("common")) // df 1 vs 3
  }

  test("packSequences: bin boundaries respect the running budget") {
    val out = TrainPrep.packSequences(Tables.documents(spark, sf), 2048L, 8)
      .orderBy($"shard", $"doc_id").collect()
    out.groupBy(_.getAs[Long]("shard")).foreach { case (_, rws) =>
      var cum = 0L
      rws.foreach { r =>
        val bin = r.getAs[Long]("bin")
        assert(bin == cum / 2048L) // bin = exclusive prefix sum div budget
        cum += r.getAs[Long]("n_subword_tokens")
      }
    }
  }

  test("normalizeText strips punctuation and collapses whitespace") {
    val out = TrainPrep.normalizeText(
      Seq((1L, "Hello,  World! 42")).toDF("doc_id", "text")).collect()(0)
    assert(out.getAs[String]("norm_text") == "hello world 42")
    assert(out.getAs[Boolean]("is_ascii"))
    assert(out.getAs[Long]("norm_len") == 14L)
  }

  test("standardize: z-scores have ~zero group mean; min-max lands in [0,1]") {
    val base = Tables.lineitem(spark, sf).select($"l_returnflag",
      round($"l_extendedprice").cast("long").as("price_d"))
    val out = TrainPrep.standardize(base, "l_returnflag", "price_d")
    val byGrp = out.groupBy($"l_returnflag")
      .agg(avg($"zscore").as("mz"), min($"minmax").as("lo"), max($"minmax").as("hi"))
      .collect()
    byGrp.foreach { r =>
      assert(math.abs(r.getAs[Double]("mz")) < 1e-9)
      assert(r.getAs[Double]("lo") >= 0.0 && r.getAs[Double]("hi") <= 1.0)
    }
    // constant group: defined as 0, not NaN
    val const = Seq(("x", 5L), ("x", 5L)).toDF("g", "v")
    val z = TrainPrep.standardize(const, "g", "v").select($"zscore", $"minmax")
      .as[(Double, Double)].collect()
    assert(z.forall(_ == (0.0, 0.0)))
  }

  test("featureHashing: bucket counts preserve the total token count") {
    val docs = Tables.documents(spark, sf)
    val total = docs.select(size(split($"text", " ")).cast("long")).as[Long]
      .collect().sum
    val hashed = TrainPrep.featureHashing(docs, 64)
    assert(hashed.agg(sum($"n")).as[Long].collect()(0) == total)
    assert(hashed.filter($"bucket" < 0 || $"bucket" >= 64).count() == 0)
  }

  test("vocabEncode: top term gets id 1; OOV terms get 0; tf preserved") {
    val docs = Seq((1L, "a a a b c"), (2L, "a b rare")).toDF("doc_id", "text")
    val out = TrainPrep.vocabEncode(docs, 2).collect()
    val ids = out.map(r => (r.getAs[String]("w"), r.getAs[Long]("vocab_id"))).toMap
    assert(ids("a") == 1L && ids("b") == 2L) // freq 4 and 2
    assert(ids("c") == 0L && ids("rare") == 0L) // beyond vocab -> OOV
    val tfA = out.filter(r => r.getAs[Long]("doc_id") == 1L &&
      r.getAs[String]("w") == "a").head.getAs[Long]("tf")
    assert(tfA == 3L)
  }

  test("groupPercentiles equals a driver-side sort-and-index") {
    val base = Tables.orders(spark, sf).select($"o_orderpriority",
      round($"o_totalprice" * 100).cast("long").as("cents"), $"o_orderkey")
    val got = TrainPrep.groupPercentiles(base, "o_orderpriority", "cents", "o_orderkey")
      .collect().map(r => r.getAs[String]("o_orderpriority") ->
        (r.getAs[Long]("p50"), r.getAs[Long]("p90"), r.getAs[Long]("p99"))).toMap
    val local = base.as[(String, Long, Long)].collect()
      .groupBy(_._1).map { case (g, rows) =>
        val sorted = rows.sortBy(r => (r._2, r._3)).map(_._2)
        val n = sorted.length
        def at(num: Long, den: Long) = sorted((((n * num + num) / den) - 1).toInt)
        g -> (at(1, 2), at(9, 10), at(99, 100))
      }
    assert(got == local)
  }

  test("classWeights: weighted class mass is equal across classes") {
    val df = (Seq.fill(30)("a") ++ Seq.fill(10)("b")).toDF("cls")
    // n_c * weight(c) = N / K for every class
    val masses = TrainPrep.classWeights(df, "cls").collect()
      .map(r => r.getAs[Long]("n") * r.getAs[Double]("weight"))
    assert(masses.forall(m => math.abs(m - 20.0) < 1e-9))
  }

  test("Ranks.idiv is exact over the full BIGINT range (r12: the double " +
    "path rounded numerators above 2^53 — quantileNormalize's (rn−1)(nt−1) " +
    "crosses that at ~9.5e7 rows)") {
    // 2^53+1 is the first long a double cannot represent: the old
    // ((a − a mod b) / b) double division returned q−1 or q±1 here
    val cases = Seq(
      ((1L << 53) + 1L, 1L), ((1L << 53) + 1L, 3L),
      ((1L << 60) + 123456789L, 97L),
      (Long.MaxValue, 1L), (Long.MaxValue, 7L), (0L, 5L), (41L, 7L))
    val got = cases.toDF("a", "b")
      .withColumn("q", graft.ops.Ranks.idiv(col("a"), col("b")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    got.foreach { case (a, b, q) =>
      assert(q == a / b, s"idiv($a, $b) = $q, want ${a / b}") }
  }
}

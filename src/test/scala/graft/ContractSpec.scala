package graft

/** Pins the driver contract on `SparkEntry` itself — the surface the
  * external harness consumes without compiling against this repo:
  * `entry` must smoke (rows > 0 at sf0.001), every registered query must
  * carry a DuckDB oracle twin (the hash-compare gate silently weakens to a
  * rows-only check for any query missing one), and no oracle may be
  * orphaned by a renamed query (it would never run). These are exactly the
  * regressions a refactor can introduce without failing any per-query
  * batch spec.
  */
class ContractSpec extends SparkSpec {

  test("entry: flagship query returns rows at sf0.001 (driver smoke)") {
    assert(SparkEntry.entry(spark).count() > 0L)
  }

  test("every query is oracle-backed and every oracle names a query") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    val unbacked = q -- o
    val orphaned = o -- q
    assert(unbacked.isEmpty,
      s"queries without an oracle (driver degrades to rows-only): " +
        unbacked.toSeq.sorted.mkString(", "))
    assert(orphaned.isEmpty,
      s"oracles without a query (never executed): " +
        orphaned.toSeq.sorted.mkString(", "))
  }

  test("query names follow the qN_slug convention the tooling greps for") {
    val bad = SparkEntry.queries.keySet.filterNot(_.matches("""q\d+_\w+"""))
    assert(bad.isEmpty, s"non-conforming names: ${bad.mkString(", ")}")
  }

  test("no oracle ships a bare transcendental output the policy forbids") {
    // The knife-edge audit covers the 9 vetted floored-ln sites; this pin
    // keeps the set CLOSED: any new oracle using ln/exp must either appear
    // in the vetted list (and get a KnifeEdgeSpec probe) or not exist.
    val vetted = Set("q298_zipf_slope", "q300_bigram_nll", "q303_psi_drift",
      "q308_word_pmi", "q314_weighted_reservoir", "q318_mutual_info",
      "q388_bh_fdr", "q391_dp_histogram", "q418_moore_lewis",
      "q419_unigram_lm", "q420_unigram_encode", "q421_dsir_resample",
      "q423_hll_registers", "q424_hll_rollup", "q425_unigram_report",
      "q426_hll_overlap",
      // r12: q427's ln is the q423 HLL linear-counting branch (audited
      // EXHAUSTIVELY over its 255-value domain); q428's is the post-prune
      // M-step re-score (KnifeEdgeSpec probe via pruneLnArgsForAudit)
      "q427_theta_sketch", "q428_unigram_prune",
      // r12 continuation: q443/q444 share the Lucene-idf ln on the 1e-4
      // grid (KnifeEdgeSpec probe over the ten query-term args, plus a
      // probe-vs-query idf_q bitwise pin); q447's oracle replays the
      // unigram EM template whose ln sites are the q419/q420 probes'
      // (lnArgsForAudit) — no new argument domain
      "q443_bm25_topk", "q444_sql_bm25", "q447_ppl_filter",
      // r12 continuation 2: q454's four ln(p_n) terms have their own
      // KnifeEdgeSpec probe reading clip/len from the query's OWN output
      // (no probe drift possible); q465's oracle only inherits the q443
      // Lucene-idf ln through the shared bm25CtesSql prefix — the same
      // ten audited arguments, no new site
      "q454_bleu_pairs", "q465_rm3_expansion")
    val offenders = SparkEntry.oracleSql.collect {
      case (name, sql) if !vetted(name) &&
        ("""(?i)\b(ln|exp|pow|power|log|log2|log10|sin|cos|tan|asin|acos""" +
          """|atan|atan2|sinh|cosh|tanh)\s*\(""").r.findFirstIn(sql).isDefined
        => name
    }
    assert(offenders.isEmpty,
      "new transcendental in an oracle — add a KnifeEdgeSpec probe and " +
        s"vet it, or re-express exactly: ${offenders.toSeq.sorted.mkString(", ")}")
  }

  test("no main SOURCE ships an unvetted ln/exp call site") {
    // Companion to the oracle-side closure above: that pin scans only
    // oracleSql strings, so a new ln/exp introduced only in Scala code (a
    // Catalyst log() column, an expr("ln(...)") string, a build-time
    // math.log literal) would escape it. This side scans the comment-
    // stripped main sources and pins the per-file count of ln/exp-family
    // call sites to the vetted inventory. sqrt/pow/IEEE-exact chains are
    // NOT counted — the policy only restricts the libm-divergent family.
    val vetted = Map( // file -> call-site count (engine + oracle + literals)
      "Entries51.scala" -> 4, // q298 Zipf: log()x2 + oracle ln()x2
      "Entries52.scala" -> 4, // q300 NLL + q303 PSI: log()+ln() each
      "Entries53.scala" -> 2, // q308 PMI: log() + oracle ln()
      "Entries55.scala" -> 3, // q314 reservoir: shared exprs x2 + oracle ln()
      "Entries56.scala" -> 2, // q318 MI: log() + oracle ln()
      "Entries68.scala" -> 6, // q388 BH + q391 Laplace: oracle/selectExpr ln()
      "Entries70.scala" -> 3, // build-time math.log on literal constants
      "Entries71.scala" -> 5, // build-time math.log on literal constants
      "Entries73.scala" -> 3, // q418 Moore–Lewis: log() + oracle ln()x2
      "Entries74.scala" -> 14, // q421 log()x2 + oracle ln()x4; unigram
                               // oracle templates ln()x2; q423/q424/q426
                               // linear-counting ln() x6 (shared Spark
                               // estimate template + oracle branches)
      "Entries75.scala" -> 2,  // q427 oracle linear-counting ln() +
                               // q428 oracle post-prune re-score ln()
      "UnigramLm.scala" -> 2,  // lp0 + smoothed re-score log()
      "Entries77.scala" -> 1,  // q443/q444 shared oracle Lucene-idf ln()
      "Entries80.scala" -> 2,  // q454 ln(p_n): Spark selectExpr + oracle
                               // (KnifeEdgeSpec probe off the query output)
      "Entries81.scala" -> 1,  // q458 build-time math.log(40) literal
                               // (Batch81Spec pins the embedded constant)
      "TextAnalysis.scala" -> 1) // bm25Postings idf log() (q443 probe)
    val root = new java.io.File("src/main/scala/graft")
    assert(root.isDirectory, s"source root not found from ${new java.io.File(".").getAbsolutePath}")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val pat = """\b(ln|log|log1p|log10|exp|expm1)\s*\(""".r
    val found = walk(root).flatMap { f =>
      val raw = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      val stripped = raw
        .replaceAll("(?s)/\\*.*?\\*/", "")
        .replaceAll("//.*", "")
      val n = pat.findAllIn(stripped).size
      if (n > 0) Some(f.getName -> n) else None
    }.toMap
    val drift = (found.keySet ++ vetted.keySet).toSeq.sorted.flatMap { k =>
      val (g, w) = (found.getOrElse(k, 0), vetted.getOrElse(k, 0))
      if (g != w) Some(s"$k: found $g vetted $w") else None
    }
    assert(drift.isEmpty,
      "ln/exp call-site inventory drifted — a new transcendental needs a " +
        "KnifeEdgeSpec probe (or exact re-expression) plus this pin updated: " +
        drift.mkString("; "))
  }

  test("every main session comes from SparkEnv.session") {
    // one factory, so the session that is benchmarked (Bench, perfbench)
    // is the one that is verified (Verify) and tested (TestSpark): a
    // second builder drifts in confs or registered functions unseen
    val found = mainSources().flatMap { case (name, src) =>
      Seq.fill("""SparkSession\s*\.\s*builder\b""".r.findAllIn(src).size)(name)
    }
    assert(found == Seq("SparkEnv.scala"),
      s"SparkSession.builder call sites: ${found.mkString(", ")}")
  }

  /** (file name, comment-stripped source) of every main Scala file. */
  private def mainSources(): Seq[(String, String)] = {
    val root = new java.io.File("src/main")
    assert(root.isDirectory, s"source root not found from ${new java.io.File(".").getAbsolutePath}")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    walk(root).map { f =>
      f.getName -> new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        .replaceAll("(?s)/\\*.*?\\*/", "")
        .replaceAll("//.*", "")
    }
  }

  test("only SparkEnv.session registers functions and sets nanosAsLong") {
    // library code runs on sessions SparkEnv.session already set up; a
    // second register replaces all functions again on every call (one
    // WARN line per function) and a runtime conf set hides which session
    // was not built by the factory
    for (pat <- Seq("""GraftFunctions\s*\.\s*register\s*\(""",
                    """parquet\.nanosAsLong""")) {
      val found = mainSources().flatMap { case (name, src) =>
        Seq.fill(pat.r.findAllIn(src).size)(name)
      }
      assert(found == Seq("SparkEnv.scala"), s"$pat: ${found.mkString(", ")}")
    }
  }

  test("only SessionMemo decides whether a cross-query value is valid") {
    // a second hand-written cache shows up as a storage-level or plan-hash
    // check outside the memo
    for (pat <- Seq("""\bstorageLevel\b""", """\bsemanticHash\b""")) {
      val found = mainSources().collect {
        case (name, src) if pat.r.findFirstIn(src).isDefined => name
      }
      assert(found.forall(_ == "SessionMemo.scala"), s"$pat: ${found.mkString(", ")}")
    }
  }

  test("only TopK ranks by cosine: one tie-break for every similarity ranking") {
    // a hand-written rank or nearest-centroid window shows up as a window
    // ordered by the pair cosine (cos) or the centroid cosine (c_cos/ccos)
    val pat = """orderBy\(\s*(col\(|desc\(|asc\(|\$)"(c_?)?cos"""".r
    val found = mainSources().collect {
      case (name, src) if pat.findFirstIn(src).isDefined => name
    }
    assert(found.forall(_ == "TopK.scala"), found.mkString(", "))
  }

  test("the serving edge answers on its own blocking sockets, not the JDK HttpServer") {
    // the JDK server runs every handler on one dispatcher thread and
    // writes headers and body apart (about 44 ms per back-to-back
    // keep-alive predict)
    val found = mainSources().collect {
      case (name, src) if src.contains("com.sun.net.httpserver") => name
    }
    assert(found.isEmpty, found.mkString(", "))
  }

  test("the serving edge holds one JSON reader and one JSON writer") {
    // parseFlat and /predict both read through Json.scan, every response
    // body goes through Json.Writer, and nothing in the file builds a
    // response String with mkString or reads a request with split: a
    // second parser or renderer shows up as a second number reader, scan
    // or Writer, or as one of those calls
    val src = mainSources().collect { case ("ServingEndpoint.scala", s) => s }
    assert(src.size == 1)
    val s = src.head
    def count(pat: String) = pat.r.findAllIn(s).size
    def body(name: String) = {
      val at = s.indexOf(s"def $name(")
      assert(at >= 0, name)
      s.substring(at, s.indexOf("\n\n", at))
    }
    assert(count("""\bdef scan\(""") == 1)
    assert(count("""\bclass Writer\b""") == 1)
    assert(count("""parseDouble|valueOf|toDoubleOption|toLongOption|parseLong""") == 1)
    assert(count("""mkString|\.split\(|readLine|BufferedInputStream""") == 0)
    assert(body("parseFlat").contains("scan("))
    assert(body("predict").contains("Json.scan("))
    val parsers = mainSources().collect {
      case (name, src) if """\bdef parseFlat\b|\bclass Writer\b""".r.findFirstIn(src).isDefined => name
    }
    assert(parsers == Seq("ServingEndpoint.scala"), parsers.mkString(", "))
  }

  test("the streaming sinks share one reader, one foreachBatch and one overwrite") {
    // every stream reads through eventStream, every sink runs through
    // foreachBatchSink, and every weekly sketch store merges through
    // mergeWeeks: a sink that hand-writes its own copy shows up here
    val src = mainSources().collect { case ("StreamingFeatures.scala", s) => s }
    assert(src.size == 1)
    for (pat <- Seq("""\bforeachBatch\b""", """\bpartitionOverwriteMode\b""",
                    """\breadStream\b""")) {
      assert(pat.r.findAllIn(src.head).size == 1, pat)
    }
  }
}

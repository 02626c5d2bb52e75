package graft.store

import org.apache.spark.sql.functions.col

/** §2.9 CLI inference — the reference's `local_infer.py` command-line
  * surface (reference: serving/local_infer.py:66-131: `predict` scores one
  * customer snapshot and prints JSON; `predict-batch` scores the latest
  * snapshot for the first N customers and prints / writes CSV).
  *
  * Spark is used exactly twice per invocation — load the experiment
  * artifacts, select the snapshot rows — and scoring is LOCAL via the
  * pipeline's public `predictProbability` ([[ServingEndpoint.pipelineScorer]]):
  * no per-row Spark jobs, same stance as the HTTP edge.
  *
  *   predict       --features DIR --experiment DIR --customer-id N
  *                 [--t-ref ISO] [--latest] [--threshold 0.5]
  *   predict-batch --features DIR --experiment DIR
  *                 [--n 20] [--out FILE.csv] [--threshold 0.5]
  *
  * `--features` is a gold feature parquet (any [[FeatureStore.writeGold]]
  * output or plain parquet with the contract columns + user_id/ts_us);
  * `--experiment` is a [[graft.ml.ChurnModel.saveExperiment]] directory.
  */
object LocalInfer {

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) { System.err.println(usage); sys.exit(2) }
    val cmd = args.head
    val opts = parseOpts(args.tail)
    val spark = graft.SparkEnv.session()
    try {
      val out = run(spark, cmd, opts)
      println(out)
    } finally spark.stop()
  }

  /** Body separated from `main` so specs can assert the rendered output
    * without forking a JVM. */
  def run(spark: org.apache.spark.sql.SparkSession, cmd: String,
          opts: Map[String, String]): String = {
    val featuresDir = opts.getOrElse("features",
      throw new IllegalArgumentException("--features is required\n" + usage))
    val expDir = opts.getOrElse("experiment",
      throw new IllegalArgumentException("--experiment is required\n" + usage))
    val (model, rec) = graft.ml.ChurnModel.loadExperiment(expDir)
    val scorer = ServingEndpoint.pipelineScorer(model)
    val threshold = opts.get("threshold").map(_.toDouble).getOrElse(0.5)
    val gold = graft.Tables.parquet(spark, featuresDir)

    def score(row: Map[String, Any]): (Double, Int) = {
      val x = rec.featureNames.map(n =>
        row.get(n).map(ServingEndpoint.asDouble).getOrElse(0.0)).toArray
      val p = scorer(x)
      (p, if (p >= threshold) 1 else 0)
    }

    cmd match {
      case "predict" =>
        val id = opts.getOrElse("customer-id",
          throw new IllegalArgumentException(
            "--customer-id is required\n" + usage)).toLong
        val asOfUs =
          if (opts.contains("latest")) Long.MaxValue
          else opts.get("t-ref") match {
            case Some(s) => ServingEndpoint.parseInstantUs(s).getOrElse(
              throw new IllegalArgumentException(s"unparseable --t-ref: $s"))
            case None => Long.MaxValue
          }
        FeatureStore.snapshot(gold, id, asOfUs) match {
          case None => throw new NoSuchElementException(
            s"No feature snapshot for customer_id=$id" +
              opts.get("t-ref").map(t => s" at/before $t").getOrElse(""))
          case Some(row) =>
            val (p, label) = score(row)
            ServingEndpoint.obj(
              "customer_id" -> id,
              "t_ref" -> ServingEndpoint.isoUs(
                ServingEndpoint.asLong(row("ts_us"))),
              "prediction" -> label, "probability" -> p)
        }

      case "predict-batch" =>
        val n = opts.get("n").map(_.toInt).getOrElse(20)
        val rows = FeatureStore.latestSnapshots(gold)
          .orderBy(col("user_id")).limit(n).collect()
          .map(r => r.schema.fieldNames.zip(r.toSeq).toMap)
        val header = "customer_id,t_ref,prediction,probability"
        val lines = rows.map { row =>
          val (p, label) = score(row)
          val id = ServingEndpoint.asLong(row("user_id"))
          val tRef = ServingEndpoint.isoUs(
            ServingEndpoint.asLong(row("ts_us")))
          s"$id,$tRef,$label,$p"
        }
        val csv = (header +: lines).mkString("\n")
        opts.get("out").foreach { path =>
          val p = java.nio.file.Paths.get(path)
          if (p.getParent != null)
            java.nio.file.Files.createDirectories(p.getParent)
          java.nio.file.Files.write(p,
            csv.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
        opts.get("out")
          .map(path => s"Wrote ${lines.length} rows -> $path")
          .getOrElse(csv)

      case other =>
        throw new IllegalArgumentException(s"unknown command: $other\n" + usage)
    }
  }

  /** `--k v` pairs plus bare `--latest` flag. */
  private[store] def parseOpts(args: Array[String]): Map[String, String] = {
    val out = scala.collection.mutable.Map[String, String]()
    var i = 0
    while (i < args.length) {
      val a = args(i)
      if (!a.startsWith("--"))
        throw new IllegalArgumentException(s"unexpected arg: $a\n" + usage)
      val k = a.stripPrefix("--")
      if (k == "latest") { out(k) = "true"; i += 1 }
      else {
        if (i + 1 >= args.length)
          throw new IllegalArgumentException(s"--$k needs a value\n" + usage)
        out(k) = args(i + 1); i += 2
      }
    }
    out.toMap
  }

  private val usage: String =
    """usage: LocalInfer predict       --features DIR --experiment DIR --customer-id N
      |                                [--t-ref ISO] [--latest] [--threshold 0.5]
      |       LocalInfer predict-batch --features DIR --experiment DIR
      |                                [--n 20] [--out FILE.csv] [--threshold 0.5]""".stripMargin
}

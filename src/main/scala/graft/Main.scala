package graft

import org.apache.spark.sql.SparkSession

import graft.sources.{FakePdfDecoder, ManifestReader, PageDecoder}

/** CLI twin of the reference's `fire.Fire(download)` entry point
  * (`/root/reference/doc2dataset/main.py:66-104,240-241`): the same flag
  * names, mapped onto [[PipelineConfig]] + [[Pipeline.run]].
  *
  *   spark-submit --class graft.Main graft.jar \
  *     --url_list manifest.txt --output_folder out \
  *     --input_format txt --output_format parquet --min_words_per_page 100
  *
  * Flags the reference uses to drive ITS process model
  * (processes_count, thread_count, distributor, subjob_size,
  * max_shard_retry, wandb) have no meaning under Spark — parallelism is
  * the cluster's job — and are accepted-but-ignored so existing reference
  * invocations keep working.
  */
object Main {

  def parseArgs(args: Array[String]): Map[String, String] = {
    val out = scala.collection.mutable.Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      val a = args(i)
      require(a.startsWith("--"), s"expected --flag, got: $a")
      val body = a.drop(2)
      val eq = body.indexOf('=')
      if (eq >= 0) { out(body.take(eq)) = body.drop(eq + 1); i += 1 }
      else {
        require(i + 1 < args.length, s"flag --$body needs a value")
        out(body) = args(i + 1); i += 2
      }
    }
    out.toMap
  }

  /** Reference flag names → [[PipelineConfig]] (defaults match
    * `main.py:66-104` where the semantics carry over). */
  def buildConfig(a: Map[String, String]): PipelineConfig = PipelineConfig(
    urlCol = a.getOrElse("url_col", "url"),
    verifyHashCol = a.get("verify_hash_col"),
    verifyHashType = a.getOrElse("verify_hash_type", "md5"),
    computeHash = a.get("compute_hash") match {
      case Some("none") | Some("null") => None // explicit opt-out (ref Optional=None)
      case Some(h)                     => Some(h)
      case None                        => Some("sha256")
    },
    saveAdditionalColumns = a.get("save_additional_columns")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil),
    numSamplesPerShard = a.getOrElse("number_sample_per_shard", "10000").toInt,
    oomShardCount = a.getOrElse("oom_shard_count", "5").toInt,
    encodeFormat = a.getOrElse("encode_format", "text"),
    outputFormat = a.getOrElse("output_format", "parquet"),
    maxPages = a.get("max_pages").orElse(a.get("max_num_pages")).map(_.toInt),
    minWordsPerPage = a.getOrElse("min_words_per_page", "0").toInt,
    maxImagesPerPage = a.get("max_images_per_page").map(_.toInt),
    minImageSize = a.getOrElse("min_image_size", "0").toInt,
    maxImageArea = a.get("max_image_area").map(_.toDouble).getOrElse(Double.MaxValue),
    disableAllReencoding =
      a.get("disable_all_reencoding").exists(_.toBoolean),
    maxAspectRatio = a.get("max_aspect_ratio").map(_.toDouble).getOrElse(Double.MaxValue),
    getLanguage = a.getOrElse("get_language", "false").toBoolean,
    getDrawings = a.getOrElse("get_drawings", "false").toBoolean,
    extractExif = a.getOrElse("extract_exif", "false").toBoolean,
    countWords = a.getOrElse("count_words", "true").toBoolean,
    removeDigits = a.getOrElse("remove_digits", "false").toBoolean,
    saveFigures = a.getOrElse("save_figures", "false").toBoolean,
    timeoutSec = a.getOrElse("timeout", "10").toInt,
    retries = a.getOrElse("retries", "0").toInt,
    userAgentToken = a.get("user_agent_token"),
    disallowedHeaderDirectives = a.get("disallowed_header_directives")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil))

  def readManifest(spark: SparkSession, path: String, format: String): org.apache.spark.sql.DataFrame =
    format match {
      case "txt"             => ManifestReader.txt(spark, path)
      case "csv"             => ManifestReader.csv(spark, path)
      case "tsv"             => ManifestReader.tsv(spark, path)
      case "json" | "jsonl"  => ManifestReader.json(spark, path)
      case "parquet"         => ManifestReader.parquet(spark, path)
      case other => throw new IllegalArgumentException(s"unknown input_format: $other")
    }

  def main(args: Array[String]): Unit = {
    val a = parseArgs(args)
    val urlList = a.getOrElse("url_list",
      throw new IllegalArgumentException("--url_list is required"))
    val outputFolder = a.getOrElse("output_folder", "documents")
    val cfg = buildConfig(a)
    // only stop the session if this CLI created it (embedding a Main call
    // in a larger app/test must not tear down the host's session)
    val preExisting = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession).isDefined
    val spark = SparkSession.builder()
      .appName("graft")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    // decoder is pluggable (no PDF lib ships in this build; see
    // sources/DocDecode.scala for the substitution point)
    val decoder: PageDecoder = a.get("decoder_class") match {
      case Some(cls) => Class.forName(cls).getDeclaredConstructor()
        .newInstance().asInstanceOf[PageDecoder]
      case None =>
        System.err.println("[graft] no --decoder_class given; real %PDF- payloads " +
          "decode via the zero-dep subset decoder (sources/MiniPdf.scala), " +
          "other payloads via the deterministic stand-in")
        graft.sources.AutoPdfDecoder()
    }
    val resume = a.getOrElse("incremental_mode", "incremental") match {
      case "incremental" => true
      case "overwrite"   => false
      case other => throw new IllegalArgumentException(s"unknown incremental_mode: $other")
    }
    val manifest = readManifest(spark, urlList, a.getOrElse("input_format", "txt"))
    val t0 = System.nanoTime()
    val result = Pipeline.run(spark, manifest, cfg, decoder,
      output = Some(outputFolder), resume = resume)
    // counts from the run's own observation: reading them re-runs nothing
    val s = graft.operators.Metrics.summary(result.observation, (System.nanoTime() - t0) / 1e9)
    val counts = Seq("docs", "count", "successes", "failed_to_download", "failed_to_extract")
      .map(k => s"$k=${s(k).toLong}").mkString(", ")
    println(f"[graft] done: $counts, ${s("docs_per_sec")}%.1f docs/s")
    if (!preExisting) spark.stop()
  }
}

package pipebench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Pipeline, PipelineConfig}
import graft.operators.DocPipeline
import graft.sinks.Sinks
import graft.sources.{ManifestReader, PageDecoder}

/** A staged document corpus: one payload file per document plus a text
  * manifest of their URLs (the reference's default `url_list` format). Documents are served to `Pipeline.run` through
  * its `fetcher` hook, which reads the payload file a URL names. */
final class IngestData(val docs: IndexedSeq[Corpus.Doc], dir: String) {
  val manifestPath = s"$dir/manifest.txt"
  private val warmupPath = s"$dir/warmup.txt"
  private val payloadDir = s"$dir/payloads"
  val payloadBytes: Long = docs.map(_.bytes.length.toLong).sum

  private val byUrl: Map[String, Corpus.Doc] = docs.map(d => d.url -> d).toMap
  require(byUrl.size == docs.size, "duplicate URL in the corpus")
  // independent truth: dense ranks in URL order, digests of the bytes
  private val rank: Map[String, Int] = docs.map(_.url).sorted.zipWithIndex.toMap
  private val sha256: Map[String, String] = docs.map { d =>
    d.url -> java.security.MessageDigest.getInstance("SHA-256").digest(d.bytes)
      .map(b => f"${b & 0xff}%02x").mkString
  }.toMap

  def stage(): Unit = {
    Files.createDirectories(Paths.get(payloadDir))
    docs.foreach(d => Files.write(Paths.get(payloadDir, d.name), d.bytes))
    def urls(ds: Seq[Corpus.Doc]) = ds.map(_.url).mkString("", "\n", "\n").getBytes("UTF-8")
    Files.write(Paths.get(manifestPath), urls(docs))
    Files.write(Paths.get(warmupPath), urls(docs.indices.collect { case i if i % 4 == 0 => docs(i) }))
  }

  /** Opens the staged corpus the way a run does; returns the row count. */
  def readable(spark: SparkSession): Long = {
    val n = manifest(spark).count()
    val files = Files.list(Paths.get(payloadDir))
    try require(n == docs.size && files.count() == docs.size, "staged corpus incomplete")
    finally files.close()
    n
  }

  /** `fetcher` hook: payload = the staged file the URL's last segment names. */
  def fetcher: DataFrame => DataFrame = {
    val base = payloadDir
    val read = udf((url: String) =>
      Files.readAllBytes(Paths.get(base, url.substring(url.lastIndexOf('/') + 1))))
    df => df.withColumn("payload", read(col("url")))
      .withColumn("status", lit("success"))
      .withColumn("error_message", lit(null).cast("string"))
  }

  /** The URL list, read as the CLI reads `--input_format txt`. */
  def manifest(spark: SparkSession): DataFrame =
    graft.Main.readManifest(spark, manifestPath, "txt")

  /** One run of the job; `warmup` runs it on every fourth document only. */
  def run(spark: SparkSession, cfg: PipelineConfig, decoder: PageDecoder, out: String,
          warmup: Boolean = false): Unit =
    Pipeline.run(spark, graft.Main.readManifest(spark, if (warmup) warmupPath else manifestPath, "txt"),
      cfg, decoder, Some(out), fetcher = Some(fetcher))

  // ------------------------------------------------------------- checks

  private def oom(cfg: PipelineConfig): Int =
    math.ceil(math.log10(math.max(10, cfg.numSamplesPerShard))).toInt

  def expectedKey(url: String, cfg: PipelineConfig): String = {
    val d = rank(url).toLong
    val v = (d / cfg.numSamplesPerShard) * math.pow(10, oom(cfg)).toLong + d % cfg.numSamplesPerShard
    s"%0${oom(cfg) + cfg.oomShardCount}d".format(v)
  }

  private def wordsIn(text: String): Int =
    if (text == null) -1 else text.split("\\s+").count(_.nonEmpty)

  private final case class Row(url: String, key: String, pageNo: Int, pageKey: String,
                               totalWords: Int, status: String, sha: String, textWords: Int)

  /** Checks one run's output directory against the planted truth.
    *
    * A planted-failing document counts as a failed operation when it
    * yields payload rows, or when the stats sidecar does not account for
    * it under `failed_to_extract` with a reason. Every other mismatch is
    * an error, which makes the whole run incorrect. */
  def check(spark: SparkSession, cfg: PipelineConfig, out: String): Outcome = {
    val errors = ArrayBuffer.empty[String]
    val webdataset = cfg.outputFormat == "webdataset"
    val base = s"$out/payload"
    val meta = spark.read.parquet(if (webdataset) s"$base/_metadata.parquet" else base)
    val cols = Seq("url", "key", "page_no", "page_key", "total_words", "status", "sha256")
    val textWords: String => Int = if (webdataset) {
      val t = checkTars(base, cfg, errors)
      pk => t.getOrElse(pk, -1)
    } else {
      // whitespace-separated tokens, counted where the rows are
      val m = meta.select(col("page_key"),
          size(filter(split(col(cfg.encodeFormat), "\\s+"), t => length(t) > 0)))
        .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
      pk => m.getOrElse(pk, -1)
    }
    val rows = meta.select(cols.map(col): _*).collect().map { r =>
      Row(r.getString(0), r.getString(1), r.getInt(2), r.getString(3), r.getInt(4),
        r.getString(5), r.getString(6), textWords(r.getString(3)))
    }
    val byDoc = rows.groupBy(_.url)
    byDoc.keys.filterNot(byUrl.contains).take(3).foreach(u => errors += s"row for unknown url $u")
    var withPayload = 0
    var emptyUnfed, errorUnfed = 0
    var pages = 0
    docs.foreach { d =>
      val rs = byDoc.getOrElse(d.url, Array.empty[Row])
      d.fail match {
        case None =>
          pages += d.pages.size
          val key = expectedKey(d.url, cfg)
          if (rs.map(_.pageNo).sorted.toSeq != d.pages.indices)
            errors += s"${d.name}: pages ${rs.map(_.pageNo).sorted.mkString(",")} != 0 until ${d.pages.size}"
          rs.foreach { r =>
            val want = d.pages.lift(r.pageNo).getOrElse(-1)
            if (r.status != "success") errors += s"${d.name}: status ${r.status}"
            if (r.key != key) errors += s"${d.name}: key ${r.key} != $key"
            if (r.pageKey != key + r.pageNo) errors += s"${d.name}: page_key ${r.pageKey}"
            if (r.totalWords != want || r.textWords != want)
              errors += s"${d.name} p${r.pageNo}: words ${r.totalWords}/${r.textWords} != $want"
            if (r.sha != sha256(d.url)) errors += s"${d.name}: sha256 mismatch"
          }
        case Some(cls) =>
          if (rs.nonEmpty) withPayload += 1
          else if (cls == "empty_page") emptyUnfed += 1
          else errorUnfed += 1
      }
    }
    if (webdataset && meta.count() != pages)
      errors += s"sidecar has ${meta.count()} rows, expected $pages pages"
    val unaccounted = if (emptyUnfed + errorUnfed == 0) 0 else {
      val stats = spark.read.json(s"$out/stats").collect()
      // JSON drops null fields: a sidecar whose every reason is null has
      // no error_message column at all
      def reason(r: org.apache.spark.sql.Row): String =
        if (r.schema.fieldNames.contains("error_message")) r.getAs[String]("error_message") else null
      def accounted(p: String => Boolean) = stats.iterator
        .filter(r => r.getAs[String]("status") == "failed_to_extract")
        .filter { r => val m = reason(r); m != null && p(m) }
        .map(_.getAs[Long]("count")).sum
      math.max(0L, emptyUnfed - accounted(_ == "empty page")).toInt +
        math.max(0L, errorUnfed - accounted(_ != "empty page")).toInt
    }
    Outcome(docs.size, withPayload + unaccounted, errors.toVector)
  }

  /** Webdataset layout: every page one `.txt`/`.json` pair in the tar its
    * key's shard names, no `.tar.tmp` left behind. Returns page_key →
    * words of its `.txt` member. */
  private def checkTars(base: String, cfg: PipelineConfig,
                        errors: ArrayBuffer[String]): Map[String, Int] = {
    import org.apache.commons.compress.archivers.tar.TarArchiveInputStream
    val names = Files.list(Paths.get(base))
    val all = try names.toArray.map(_.toString).toSeq finally names.close()
    all.filter(_.endsWith(".tar.tmp")).take(3).foreach(p => errors += s"left behind: $p")
    val words = scala.collection.mutable.HashMap.empty[String, Int]
    val seen = scala.collection.mutable.HashMap.empty[String, Int]
    all.filter(_.endsWith(".tar")).foreach { path =>
      val shard = Paths.get(path).getFileName.toString.stripSuffix(".tar")
      val in = new TarArchiveInputStream(new java.io.BufferedInputStream(Files.newInputStream(Paths.get(path))))
      try {
        var e = in.getNextEntry
        while (e != null) {
          val name = e.getName
          val dot = name.lastIndexOf('.')
          val (pk, ext) = (name.substring(0, dot), name.substring(dot + 1))
          val docKey = pk.take(oom(cfg) + cfg.oomShardCount)
          if (docKey.dropRight(oom(cfg)) != shard) errors += s"$name in wrong tar $shard"
          seen(name) = seen.getOrElse(name, 0) + 1
          if (ext == "txt") words(pk) = wordsIn(new String(in.readAllBytes(), "UTF-8"))
          else if (ext != "json") errors += s"unexpected member $name"
          e = in.getNextEntry
        }
      } finally in.close()
    }
    seen.filter(_._2 != 1).take(3).foreach { case (n, c) => errors += s"$n appears $c times" }
    words.keys.filterNot(pk => seen.contains(s"$pk.json")).take(3).foreach(pk => errors += s"$pk has no .json")
    words.toMap
  }

  // ------------------------------------------------------- layer replay

  /** The same pipeline, composed from each layer's public function, with
    * a span around every layer and each intermediate materialized so a
    * span holds only its own layer's work. */
  def replay(spark: SparkSession, cfg: PipelineConfig, decoder: PageDecoder,
             tr: Tracer, lis: EngineListener, dir: String): (Map[String, Double], DataFrame) = {
    def noop(df: DataFrame): Unit = df.write.format("noop").mode(SaveMode.Overwrite).save()
    val normalized = ManifestReader.normalize(manifest(spark), cfg.urlCol,
      cfg.verifyHashCol, cfg.verifyHashType, cfg.saveAdditionalColumns).cache()
    normalized.count()
    val (keyed, keys) = tr.span("operators.keys") {
      val k = DocPipeline.withKeysDense(normalized, col("url"), cfg).cache(); k.count(); k
    }
    val fetched = tr.span("fetch") { val f = fetcher(keyed).cache(); f.count(); f }._1
    val hashS = tr.seconds("operators.hash") {
      noop(DocPipeline.withComputedHash(fetched, "payload", "sha256").select("sha256"))
    }
    val hashed = DocPipeline.withComputedHash(fetched, "payload", "sha256")
    val decoded = tr.span("operators.decode") {
      val d = DocPipeline.decodePages(hashed, decoder, "payload").cache(); d.count(); d
    }._1
    val (tagged, extract) = tr.span("operators.extract") {
      // `imgs` is left out: materialized for every page, a bare raster
      // page's `<img/>` divides by zero in `Extraction.imgKeep`, which
      // `Pipeline.run` only escapes because its payload filter runs first
      val t = DocPipeline.explodePages(decoded.drop("payload"), cfg).drop("imgs")
        .withColumnRenamed("text", cfg.encodeFormat).cache()
      t.count(); t
    }
    val nPages = tagged.count()
    val ((payload, stats), channels) = tr.span("operators.channels") {
      val (p, s) = DocPipeline.channels(tagged)
      val pc = p.cache(); val sc = s.cache(); pc.count(); sc.count(); (pc, sc)
    }
    val pq = s"$dir/replay_parquet"
    val parquetS = tr.seconds("sinks.parquet") {
      Sinks.parquet(payload, pq, SaveMode.Overwrite, maxRecordsPerFile = cfg.numSamplesPerShard)
    }
    val wds = s"$dir/replay_webdataset"
    val sharded = payload.withColumn("__shard", DocPipeline.shardOfKey(col("key"), cfg))
    val wdsS = tr.seconds("sinks.webdataset") {
      Sinks.webdataset(sharded, wds, keyCol = "page_key", payloadCol = cfg.encodeFormat,
        shardCol = Some("__shard"))
    }
    val statsS = tr.seconds("sinks.stats") { Sinks.stats(stats, s"$dir/replay_stats") }
    org.apache.spark.PipebenchBridge.drain(spark.sparkContext)
    def shuffleMb(g: String) = lis.tasksOf(_ == g).map(_.shuffleWrite).sum / 1e6
    val m = Map(
      "operators.keys.s" -> keys.seconds,
      "operators.keys.shuffle_mb" -> shuffleMb("operators.keys"),
      "operators.hash.mb_per_s" -> payloadBytes / 1e6 / hashS,
      "operators.extract.pages_per_s" -> nPages / extract.seconds,
      "operators.channels.s" -> channels.seconds,
      "sinks.parquet.s" -> parquetS,
      "sinks.parquet.mb_per_s" -> Bench.dirBytes(pq) / 1e6 / parquetS,
      "sinks.webdataset.s" -> wdsS,
      "sinks.webdataset.shuffle_mb" -> shuffleMb("sinks.webdataset"),
      "sinks.webdataset.files" -> Bench.dataFiles(wds).toDouble,
      "sinks.stats.s" -> statsS)
    val text = payload.select(col("page_key").as("key"), col(cfg.encodeFormat).as("text")).cache()
    text.count()
    Seq(normalized, keyed, fetched, decoded, tagged, payload, stats).foreach(_.unpersist())
    (m, text)
  }
}

/** One pass's check result: documents attempted, failed, and errors. */
final case class Outcome(attempted: Int, failed: Int, errors: Vector[String])

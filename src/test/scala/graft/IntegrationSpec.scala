package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{DocPipeline, Metrics, Similarity}
import graft.sinks.Sinks
import graft.sources.{FakePdfDecoder, HttpFetch, PageDecoder}

/** [[FakePdfDecoder]] that counts its calls into an accumulator. */
final case class CountingDecoder(calls: org.apache.spark.util.LongAccumulator)
    extends PageDecoder {
  private val inner = FakePdfDecoder(4)
  def decode(payload: Array[Byte]): Either[String, Seq[String]] = {
    calls.add(1L)
    inner.decode(payload)
  }
}

/** The reference's whole pipeline, end to end, against a live local
  * server: manifest → fetch → hash verify → decode → explode → filter →
  * channels → sink. This is the flow `download()` runs
  * (`/root/reference/doc2dataset/main.py:66-237`), minus nothing. */
class FetchPipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val docBody = (1 to 120).map(i => s"word$i").mkString(" ")
  private val md5good = java.security.MessageDigest.getInstance("MD5")
    .digest(docBody.getBytes(StandardCharsets.UTF_8))
    .map("%02x".format(_)).mkString

  test("manifest -> fetch -> verify -> decode -> explode -> channels -> parquet") {
    val server = HttpServer.create(new InetSocketAddress(0), 0)
    def serve(body: String, headers: Map[String, String] = Map.empty) = new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        headers.foreach { case (k, v) => ex.getResponseHeaders.add(k, v) }
        val b = body.getBytes(StandardCharsets.UTF_8)
        ex.sendResponseHeaders(200, b.length.toLong); ex.getResponseBody.write(b); ex.close()
      }
    }
    server.createContext("/doc0", serve(docBody))
    server.createContext("/doc1", serve(docBody))                       // hash mismatch below
    server.createContext("/doc2", serve(docBody, Map("X-Robots-Tag" -> "noai")))
    server.start()
    val port = server.getAddress.getPort
    try {
      val cfg = PipelineConfig(minWordsPerPage = 5, saveFigures = true,
        verifyHashCol = Some("checksum"), verifyHashType = "md5",
        computeHash = Some("md5"), numSamplesPerShard = 100)
      cfg.validate()
      // manifest with one good hash, one wrong hash, one robots-blocked,
      // one dead url — the reference's full failure surface
      val manifest = Seq(
        (0L, s"http://127.0.0.1:$port/doc0", md5good),
        (1L, s"http://127.0.0.1:$port/doc1", "00000000000000000000000000000000"),
        (2L, s"http://127.0.0.1:$port/doc2", md5good),
        (3L, "http://127.0.0.1:1/dead", md5good),
      ).toDF("row_id", "link", "checksum")
      val normalized = graft.sources.ManifestReader.normalize(
        manifest, "link", cfg.verifyHashCol, cfg.verifyHashType, Seq("row_id"))
      val keyed = DocPipeline.withKeys(normalized, col("row_id"), cfg)
      val fetched = HttpFetch.fetch(keyed, threadsPerTask = 4, timeoutSec = 5,
        disallowed = HttpFetch.defaultDisallowed)
      val verified = DocPipeline.verifyHash(fetched, "payload", "md5")
      val decoded = DocPipeline.decodePages(verified, FakePdfDecoder(40), "payload")
      val tagged = DocPipeline.explodePages(decoded.drop("payload"), cfg)
      val (payload, stats) = DocPipeline.channels(tagged)

      val byKey = tagged.groupBy("row_id").agg(
          max(when(col("status") === "success", 1).otherwise(0)).as("any_ok"),
          first(col("status")).as("st"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(byKey(0L) == 1, "good doc must yield success pages")
      assert(byKey(1L) == 0, "hash mismatch must not yield success pages")
      assert(byKey(2L) == 0, "X-Robots-Tag noai must not yield success pages")
      assert(byKey(3L) == 0, "dead url must not yield success pages")

      // good doc: 120 words / 40 per page = 3 pages
      assert(payload.count() == 3)
      val statHist = Metrics.statusHistogram(tagged).collect()
        .map(r => r.getString(0)).toSet
      assert(statHist.contains("success") && statHist.contains("failed_to_download"))

      // sink roundtrip
      val out = "target/tmp/e2e_out"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
      Sinks.parquet(payload, out)
      assert(spark.read.parquet(out).count() == 3)
    } finally server.stop(0)
  }
}

class PipelineRunSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("one-call download() parity: run -> parquet + stats + resume append") {
    val cfg = PipelineConfig(minWordsPerPage = 2, computeHash = Some("md5"),
      numSamplesPerShard = 100, saveAdditionalColumns = Seq("tag"))
    val manifest = Seq(
      ("u1", "alpha beta gamma delta epsilon zeta", "t1"),
      ("u2", "one two three four five six seven", "t2"),
    ).toDF("url", "body", "tag")
    // fetcher override: payload from the manifest body (no network)
    val fakeFetch = (df: org.apache.spark.sql.DataFrame) => df
      .join(manifest.select(col("url"), col("body")), Seq("url"))
      .withColumn("payload", encode(col("body"), "UTF-8")).drop("body")
      .withColumn("status", lit("success"))
      .withColumn("error_message", lit(null).cast("string"))
    val out = new java.io.File("target/tmp/pipeline_run")
    org.apache.commons.io.FileUtils.deleteQuietly(out)

    val r = Pipeline.run(spark, manifest, cfg, graft.sources.FakePdfDecoder(4),
      Some(out.getAbsolutePath), fetcher = Some(fakeFetch))
    val written = spark.read.parquet(s"${out.getAbsolutePath}/payload")
    assert(written.count() == 4, "2 docs x ~7 words / 4 per page -> 2 pages each")
    assert(written.columns.contains("md5") && written.columns.contains("tag")
      && written.columns.contains("text"), written.columns.mkString(","))
    assert(Metrics.summary(r.observation, 1.0)("count") == 4.0)
    val statsBack = spark.read.json(s"${out.getAbsolutePath}/stats")
    assert(statsBack.count() >= 1)

    // resume: re-running adds nothing (all keys done) and keeps old rows
    Pipeline.run(spark, manifest, cfg, graft.sources.FakePdfDecoder(4),
      Some(out.getAbsolutePath), fetcher = Some(fakeFetch), resume = true)
    assert(spark.read.parquet(s"${out.getAbsolutePath}/payload").count() == 4,
      "resume must not duplicate or erase prior output")

    // typed facade: the always-present columns as Dataset[PageRecord]
    val typed = r.typedPayload().collect()
    assert(typed.length == 4 && typed.forall(_.status == "success"))
    assert(typed.forall(p => p.page_key == p.key + p.page_no))
  }

  test("every sink: stats sidecar counts each (status, reason) exactly, one decode per document") {
    val body = "w1 w2 w3 w4 w5 w6 w7 w8"
    val md5 = (t: String) => java.security.MessageDigest.getInstance("MD5")
      .digest(t.getBytes(StandardCharsets.UTF_8)).map("%02x".format(_)).mkString
    // two good documents (2 pages each), one hash mismatch, one decode
    // error, one page with no visible text, one page below min words
    val manifest = Seq(
      ("u0", body, md5(body)),
      ("u1", body, null),
      ("u2", body, "00000000000000000000000000000000"),
      ("u3", "", null),
      ("u4", "<b></b>", null),
      ("u5", "lonely", null),
    ).toDF("url", "body", "checksum")
    val fakeFetch = (df: org.apache.spark.sql.DataFrame) => df
      .join(manifest.select(col("url"), col("body")), Seq("url"))
      .withColumn("payload", encode(col("body"), "UTF-8")).drop("body")
      .withColumn("status", lit("success"))
      .withColumn("error_message", lit(null).cast("string"))
    val expected = Map(
      ("success", null) -> 4L,
      ("failed_to_download", "hash mismatch") -> 1L,
      ("failed_to_extract", "cannot open document: empty payload") -> 1L,
      ("failed_to_extract", "empty page") -> 1L,
      ("failed_to_extract", "too few words") -> 1L)
    for (format <- Seq("parquet", "jsonl", "files", "webdataset", "tfrecord", "dummy")) {
      val cfg = PipelineConfig(minWordsPerPage = 2, numSamplesPerShard = 10,
        verifyHashCol = Some("checksum"), computeHash = Some("md5"), outputFormat = format)
      val calls = spark.sparkContext.longAccumulator(s"decode_calls_$format")
      val out = new java.io.File(s"target/tmp/pipeline_sidecar_$format")
      org.apache.commons.io.FileUtils.deleteQuietly(out)
      val r = Pipeline.run(spark, manifest, cfg, CountingDecoder(calls),
        Some(out.getAbsolutePath), fetcher = Some(fakeFetch))
      val stats = spark.read.json(s"${out.getAbsolutePath}/stats").collect()
        .map(x => (x.getAs[String]("status"), x.getAs[String]("error_message")) -> x.getAs[Long]("count"))
      assert(stats.toMap == expected && stats.length == expected.size, s"$format: ${stats.toSeq}")
      assert(r.stats.count() == expected.size, format)
      val s = Metrics.summary(r.observation, 1.0)
      assert(s("failed_to_download") == 1.0 && s("failed_to_extract") == 3.0 &&
        s("successes") == 4.0, s"$format: $s")
      // six documents, eight rows (two documents give two pages each)
      assert(s("docs") == 6.0 && s("count") == 8.0 && s("docs_per_sec") == 6.0, s"$format: $s")
      // five documents reach the decoder (the hash mismatch never does),
      // each exactly once however many outputs the sink writes
      assert(calls.value == 5L, s"$format: ${calls.value} decoder calls for 5 documents")
    }
  }

  test("parquet output respects numSamplesPerShard as rows-per-file") {
    val cfg = PipelineConfig(minWordsPerPage = 1, numSamplesPerShard = 10)
    val manifest = (0 until 30)
      .map(i => (f"u$i%02d", "w1 w2 w3 w4 w5 w6 w7 w8")).toDF("url", "body")
    val fakeFetch = (df: org.apache.spark.sql.DataFrame) => df
      .join(manifest.select(col("url"), col("body")), Seq("url"))
      .withColumn("payload", encode(col("body"), "UTF-8")).drop("body")
      .withColumn("status", lit("success"))
      .withColumn("error_message", lit(null).cast("string"))
    val out = new java.io.File("target/tmp/pipeline_sized")
    org.apache.commons.io.FileUtils.deleteQuietly(out)
    Pipeline.run(spark, manifest, cfg, graft.sources.FakePdfDecoder(4),
      Some(out.getAbsolutePath), fetcher = Some(fakeFetch))
    // 30 docs x 2 pages = 60 rows at <=10/file => every part file small
    val parts = new java.io.File(out, "payload").listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(parts.nonEmpty)
    parts.foreach { f =>
      val n = spark.read.parquet(f.getAbsolutePath).count()
      assert(n <= 10, s"${f.getName} has $n rows > numSamplesPerShard")
    }
  }

  test("webdataset output: per-page tar entries, shard-named tars, shard-level resume") {
    import org.apache.commons.compress.archivers.tar.TarArchiveInputStream
    // numSamplesPerShard=10 -> 1 index digit; 12 docs -> shards 00000 (docs
    // 0-9) and 00001 (docs 10-11); 8-word bodies / 4 per page -> 2 pages/doc
    val cfg = PipelineConfig(minWordsPerPage = 1, numSamplesPerShard = 10,
      outputFormat = "webdataset", computeHash = None)
    val manifest = (0 until 12)
      .map(i => (f"u$i%02d", "w1 w2 w3 w4 w5 w6 w7 w8")).toDF("url", "body")
    val fakeFetch = (df: org.apache.spark.sql.DataFrame) => df
      .join(manifest.select(col("url"), col("body")), Seq("url"))
      .withColumn("payload", encode(col("body"), "UTF-8")).drop("body")
      .withColumn("status", lit("success"))
      .withColumn("error_message", lit(null).cast("string"))
    val out = new java.io.File("target/tmp/pipeline_wds")
    org.apache.commons.io.FileUtils.deleteQuietly(out)

    Pipeline.run(spark, manifest, cfg, graft.sources.FakePdfDecoder(4),
      Some(out.getAbsolutePath), fetcher = Some(fakeFetch))
    val payloadDir = new java.io.File(out, "payload")
    def tarNames() = payloadDir.listFiles().map(_.getName)
      .filter(_.endsWith(".tar")).sorted.toSeq
    assert(tarNames() == Seq("00000.tar", "00001.tar"),
      s"one tar per shard, shard-named: ${tarNames()}")
    def entries(name: String): Seq[String] = {
      val in = new TarArchiveInputStream(
        new java.io.FileInputStream(new java.io.File(payloadDir, name)))
      try Iterator.continually(in.getNextEntry).takeWhile(_ != null).map(_.getName).toVector
      finally in.close()
    }
    val e0 = entries("00000.tar")
    // 10 docs x 2 pages x (payload + json) = 40 entries, PAGE-keyed:
    // doc key 000000 pages -> 0000000.txt / 0000001.txt (no collisions)
    assert(e0.length == 40, s"per-page entries: ${e0.length}")
    assert(e0.contains("0000000.txt") && e0.contains("0000001.txt"), e0.take(6))
    assert(e0.distinct.length == e0.length, "page entries must not collide")
    assert(entries("00001.tar").length == 8)
    val sidecar = spark.read.parquet(s"${payloadDir.getAbsolutePath}/_metadata.parquet")
    assert(sidecar.count() == 24, "sidecar: one metadata row per page")

    // shard-level resume: delete one tar -> only that shard is redone
    val intact = new java.io.File(payloadDir, "00000.tar")
    val mtimeBefore = intact.lastModified()
    assert(new java.io.File(payloadDir, "00001.tar").delete())
    Pipeline.run(spark, manifest, cfg, graft.sources.FakePdfDecoder(4),
      Some(out.getAbsolutePath), fetcher = Some(fakeFetch), resume = true)
    assert(tarNames() == Seq("00000.tar", "00001.tar"), "missing shard redone")
    assert(intact.lastModified() == mtimeBefore, "complete shard left untouched")
    assert(entries("00001.tar").length == 8, "redone shard is complete")
    val sidecarAfter = spark.read.parquet(s"${payloadDir.getAbsolutePath}/_metadata.parquet")
    assert(sidecarAfter.count() == 24, "sidecar append must not duplicate redone pages")
  }

  test("lifecycle: run -> deleteKeys -> shard redo keeps the forgotten page forgotten") {
    import org.apache.commons.compress.archivers.tar.TarArchiveInputStream
    val cfg = PipelineConfig(minWordsPerPage = 1, numSamplesPerShard = 10,
      outputFormat = "webdataset", computeHash = None)
    val manifest = (0 until 12)
      .map(i => (f"u$i%02d", "w1 w2 w3 w4 w5 w6 w7 w8")).toDF("url", "body")
    val fakeFetch = (df: org.apache.spark.sql.DataFrame) => df
      .join(manifest.select(col("url"), col("body")), Seq("url"))
      .withColumn("payload", encode(col("body"), "UTF-8")).drop("body")
      .withColumn("status", lit("success"))
      .withColumn("error_message", lit(null).cast("string"))
    val out = new java.io.File("target/tmp/pipeline_lifecycle")
    org.apache.commons.io.FileUtils.deleteQuietly(out)
    Pipeline.run(spark, manifest, cfg, graft.sources.FakePdfDecoder(4),
      Some(out.getAbsolutePath), fetcher = Some(fakeFetch))
    val payloadDir = new java.io.File(out, "payload")
    def entries(name: String): Seq[String] = {
      val in = new TarArchiveInputStream(
        new java.io.FileInputStream(new java.io.File(payloadDir, name)))
      try Iterator.continually(in.getNextEntry).takeWhile(_ != null).map(_.getName).toVector
      finally in.close()
    }
    assert(entries("00000.tar").contains("0000001.txt"))
    // right-to-be-forgotten: page 0000001 goes away, only shard 00000 rewrites
    // pipeline sidecars key pages by page_key — the deletion must name it
    val (rew, tot) = graft.sources.WebDataset.deleteKeys(
      spark, payloadDir.getAbsolutePath, Set("0000001"), keyCol = "page_key")
    assert(rew === 1 && tot === 2)
    assert(!entries("00000.tar").contains("0000001.txt"))
    // interrupted-shard simulation: the affected shard's tar vanishes and
    // resume redoes it — the tombstoned page must NOT be resurrected
    assert(new java.io.File(payloadDir, "00000.tar").delete())
    Pipeline.run(spark, manifest, cfg, graft.sources.FakePdfDecoder(4),
      Some(out.getAbsolutePath), fetcher = Some(fakeFetch), resume = true)
    val redone = entries("00000.tar")
    assert(redone.nonEmpty && !redone.contains("0000001.txt"),
      s"tombstoned page resurrected: ${redone.filter(_.endsWith(".txt")).take(6)}")
    assert(redone.contains("0000000.txt"), "sibling pages of the doc must come back")
    val side = spark.read.parquet(s"${payloadDir.getAbsolutePath}/_metadata.parquet")
      .select("page_key").collect().map(_.getString(0)).toSet
    assert(!side.contains("0000001"), "sidecar must not regain the forgotten page")
  }

  test("runStream: streaming pipeline output equals the batch run (per url+page)") {
    val cfg = PipelineConfig(minWordsPerPage = 1, numSamplesPerShard = 10,
      computeHash = Some("md5"))
    val bodies = (0 until 8)
      .map(i => (f"u$i%02d", s"a$i b$i c$i d$i e$i f$i g$i h$i")).toDF("url", "body")
    val fakeFetch = (df: org.apache.spark.sql.DataFrame) => df
      .join(bodies, Seq("url"))
      .withColumn("payload", encode(col("body"), "UTF-8")).drop("body")
      .withColumn("status", lit("success"))
      .withColumn("error_message", lit(null).cast("string"))

    // stage the manifest as files -> file-stream source
    val mdir = new java.io.File("target/tmp/stream_manifest")
    org.apache.commons.io.FileUtils.deleteQuietly(mdir); mdir.mkdirs()
    val urls = (0 until 8).map(i => f"u$i%02d")
    java.nio.file.Files.write(new java.io.File(mdir, "m1.txt").toPath,
      urls.take(5).mkString("\n").getBytes)
    java.nio.file.Files.write(new java.io.File(mdir, "m2.txt").toPath,
      urls.drop(5).mkString("\n").getBytes)
    val out = new java.io.File("target/tmp/stream_pipeline")
    org.apache.commons.io.FileUtils.deleteQuietly(out)

    val manifestStream = spark.readStream.text(mdir.getAbsolutePath)
      .withColumnRenamed("value", "url")
    val q = Pipeline.runStream(spark, manifestStream, cfg,
      graft.sources.FakePdfDecoder(4), out.getAbsolutePath,
      s"${out.getAbsolutePath}/_checkpoint", fetcher = Some(fakeFetch))
    q.awaitTermination()

    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("url", "page_no", "text", "md5")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getString(3))).toSet
    val streamed = rows(spark.read.parquet(s"${out.getAbsolutePath}/payload"))
    val batch = rows(Pipeline.run(spark,
      bodies.select("url").toDF("url"), cfg,
      graft.sources.FakePdfDecoder(4), fetcher = Some(fakeFetch)).payload
      .withColumnRenamed(cfg.encodeFormat, "text"))
    assert(streamed.nonEmpty && streamed == batch,
      "streaming twin must produce the batch rows (keys aside)")
    // re-running the stream adds nothing: checkpoint makes files exactly-once
    val q2 = Pipeline.runStream(spark, manifestStream, cfg,
      graft.sources.FakePdfDecoder(4), out.getAbsolutePath,
      s"${out.getAbsolutePath}/_checkpoint", fetcher = Some(fakeFetch))
    q2.awaitTermination()
    assert(rows(spark.read.parquet(s"${out.getAbsolutePath}/payload")) == batch)
  }

  test("tfrecord output: pipeline writes, DSv2 source reads it back") {
    val cfg = PipelineConfig(minWordsPerPage = 1, numSamplesPerShard = 10,
      outputFormat = "tfrecord", computeHash = None)
    val manifest = (0 until 12)
      .map(i => (f"u$i%02d", "w1 w2 w3 w4 w5 w6 w7 w8")).toDF("url", "body")
    val fakeFetch = (df: org.apache.spark.sql.DataFrame) => df
      .join(manifest.select(col("url"), col("body")), Seq("url"))
      .withColumn("payload", encode(col("body"), "UTF-8")).drop("body")
      .withColumn("status", lit("success"))
      .withColumn("error_message", lit(null).cast("string"))
    val out = new java.io.File("target/tmp/pipeline_tfrec")
    org.apache.commons.io.FileUtils.deleteQuietly(out)
    Pipeline.run(spark, manifest, cfg, graft.sources.FakePdfDecoder(4),
      Some(out.getAbsolutePath), fetcher = Some(fakeFetch))
    val payloadDir = new java.io.File(out, "payload")
    val files = payloadDir.listFiles().map(_.getName).filter(_.endsWith(".tfrecord")).sorted
    assert(files.toSeq == Seq("00000.tfrecord", "00001.tfrecord"), files.mkString(","))
    // the engine reads its own sink: sidecar-inferred schema, full rows
    val back = spark.read.format("tfrecord").load(payloadDir.getAbsolutePath)
    assert(back.count() == 24, "12 docs x 2 pages")
    assert(back.columns.contains("page_key") && back.columns.contains("text"))
    val texts = back.select("text").distinct().collect().map(_.getString(0))
    assert(texts.exists(_.contains("w1 w2 w3 w4")) && texts.exists(_.contains("w5 w6 w7 w8")),
      s"both pages' text survives the round-trip: ${texts.mkString(" | ")}")
  }
}

class IvfSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("IVF top-k: high recall at nprobe=4/nlist=8, exact subset semantics") {
    val emb = spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(emb, col("vec_id"), col("embedding"),
        q, col("vec_id"), col("embedding"), k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(emb, col("vec_id"), col("embedding"),
        q, col("vec_id"), col("embedding"), k = 5, nlist = 8, nprobe = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.4, s"IVF recall too low: $recall")
    assert(ivf.forall { case (a, b) => a != b })
  }
}

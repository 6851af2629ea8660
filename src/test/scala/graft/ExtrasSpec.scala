package graft

import java.io.File
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{DocPipeline, Metrics}
import graft.sinks.TfRecord
import graft.sources.FakePdfDecoder

class TfRecordSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("tfrecord sink: CRC-valid framing, parseable Example protos, sidecar") {
    val out = new File("target/tmp/tfrec"); org.apache.commons.io.FileUtils.deleteQuietly(out)
    val df = Seq(
      ("k0", "hello", 42L, 1.5, Seq(1f, 2f)),
      ("k1", "world", 7L, 2.5, Seq(3f, 4f)),
    ).toDF("key", "text", "n", "score", "vec")
    TfRecord.write(df.repartition(1), out.getAbsolutePath)
    val files = out.listFiles().filter(_.getName.endsWith(".tfrecord"))
    assert(files.length == 1)
    val records = TfRecord.readRecords(files(0).getAbsolutePath) // validates both CRCs
    assert(records.length == 2)
    // each Example must embed the utf8 feature names
    val blob = new String(records.head.map(b => if (b >= 32 && b < 127) b.toChar else '.'))
    for (name <- Seq("key", "text", "n", "score", "vec")) assert(blob.contains(name), s"missing feature $name")
    val sidecar = spark.read.parquet(s"${out.getAbsolutePath}/_metadata.parquet")
    assert(sidecar.count() == 2 && !sidecar.columns.contains("text"))
  }

  test("readRecords is strict: a corrupt tail FAILS the writer-verification read") {
    val out = new File("target/tmp/tfrec_strict"); org.apache.commons.io.FileUtils.deleteQuietly(out)
    val df = Seq(("k0", "hello"), ("k1", "world")).toDF("key", "text")
    TfRecord.write(df.repartition(1), out.getAbsolutePath)
    val f = out.listFiles().filter(_.getName.endsWith(".tfrecord")).head
    // flip one byte inside the LAST record's payload: the salvaging reader
    // would silently return 1 record; the verification reader must throw
    val bytes = java.nio.file.Files.readAllBytes(f.toPath)
    bytes(bytes.length - 10) = (bytes(bytes.length - 10) ^ 0xFF).toByte
    val damaged = new File(out, "damaged.tfrecord")
    java.nio.file.Files.write(damaged.toPath, bytes)
    val ex = intercept[java.io.IOException] {
      TfRecord.readRecords(damaged.getAbsolutePath)
    }
    assert(ex.getMessage.contains("writer-verification"))
  }

  test("extractImageFeatures drops recognized-but-corrupt payloads instead of failing the task") {
    import javax.imageio.ImageIO
    import java.awt.image.BufferedImage
    // valid 2x2 PNG
    val img = new BufferedImage(2, 2, BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0xFFFFFF); img.setRGB(1, 1, 0xFFFFFF)
    val bos = new java.io.ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    val good = bos.toByteArray
    // truncated PNG: valid signature+IHDR prefix so ImageIO RECOGNIZES the
    // format (returns a reader, then throws mid-decode) — the case the
    // null-check alone does not cover
    val corrupt = good.take(good.length / 2)
    val junk = "not an image at all".getBytes
    val df = Seq((1L, good), (2L, corrupt), (3L, junk), (4L, null: Array[Byte]))
      .toDF("doc_id", "media")
    val feats = graft.operators.Multimodal.extractImageFeatures(df).collect()
    assert(feats.map(_.doc_id).toSeq == Seq(1L))
    assert(feats.head.width == 2 && feats.head.height == 2)
  }

  test("tfrecord read: write -> read round-trip preserves values") {
    import org.apache.spark.sql.types._
    val out = new File("target/tmp/tfrec_rt"); org.apache.commons.io.FileUtils.deleteQuietly(out)
    val df = Seq(
      ("k0", 42L, 1.5f, Seq(1f, 2f, 3f)),
      ("k1", 7L, 2.5f, Seq(4f, 5f)),
    ).toDF("key", "n", "score", "vec")
    TfRecord.write(df.repartition(1), out.getAbsolutePath, payloadCol = "key")
    val schema = StructType(Seq(
      StructField("key", StringType), StructField("n", LongType),
      StructField("score", FloatType), StructField("vec", ArrayType(FloatType))))
    val back = TfRecord.read(spark, out.getAbsolutePath + "/*.tfrecord", schema)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getFloat(2), r.getSeq[Float](3)))
      .sortBy(_._1)
    assert(back.toSeq == Seq(
      ("k0", 42L, 1.5f, Seq(1f, 2f, 3f)),
      ("k1", 7L, 2.5f, Seq(4f, 5f))))
  }

  test("tfrecord DSv2: spark.read.format with inferred sidecar schema + pruning") {
    import org.apache.spark.sql.types._
    val out = new File("target/tmp/tfrec_dsv2"); org.apache.commons.io.FileUtils.deleteQuietly(out)
    val df = Seq(
      ("k0", "hello", 42L, Seq(1f, 2f)),
      ("k1", "world", 7L, Seq(3f, 4f)),
      ("k2", "again", 9L, Seq(5f, 6f)),
    ).toDF("key", "text", "n", "vec")
    TfRecord.write(df.repartition(2), out.getAbsolutePath)
    // schema inferred from the _metadata.parquet sidecar + payload column
    val back = spark.read.format("tfrecord").load(out.getAbsolutePath)
    assert(back.columns.toSet == Set("key", "text", "n", "vec"))
    val rows = back.collect().map(r =>
      (r.getAs[String]("key"), r.getAs[String]("text"), r.getAs[Long]("n"),
        r.getAs[Seq[Float]]("vec"))).sortBy(_._1)
    assert(rows.toSeq == Seq(
      ("k0", "hello", 42L, Seq(1f, 2f)),
      ("k1", "world", 7L, Seq(3f, 4f)),
      ("k2", "again", 9L, Seq(5f, 6f))))
    // one InputPartition per .tfrecord file => read parallelism = file count
    assert(back.rdd.getNumPartitions == 2)
    // column pruning reaches the scan's readSchema
    val pruned = back.select("key")
    val scanLine = pruned.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("BatchScan")).getOrElse("")
    assert(!scanLine.contains("vec"), s"pruned scan must not read vec: $scanLine")
    assert(pruned.collect().map(_.getString(0)).sorted.toSeq == Seq("k0", "k1", "k2"))
    // explicit schema works without the sidecar
    val explicit = spark.read.format("tfrecord")
      .schema(StructType(Seq(StructField("key", StringType), StructField("n", LongType))))
      .load(out.getAbsolutePath)
    assert(explicit.collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq ==
      Seq(("k0", 42L), ("k1", 7L), ("k2", 9L)))
  }

  test("tfrecord DSv2: predicates push into the scan and results stay exact") {
    import org.apache.spark.sql.types._
    val out = new File("target/tmp/tfrec_push"); org.apache.commons.io.FileUtils.deleteQuietly(out)
    val df = (0 until 100).map(i => (f"k$i%03d", i.toLong, s"body $i"))
      .toDF("key", "n", "text")
    TfRecord.write(df.repartition(2), out.getAbsolutePath)
    val back = spark.read.format("tfrecord").load(out.getAbsolutePath)

    val filtered = back.filter(col("n") >= 90L && col("key").startsWith("k09"))
    // the supported predicates must reach the scan (reader-side row skip)
    val scanLine = filtered.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("BatchScan")).getOrElse("")
    assert(scanLine.contains("PushedFilters") &&
      scanLine.contains("GreaterThanOrEqual(n,90)") &&
      scanLine.contains("StringStartsWith(key,k09)"), scanLine)
    assert(filtered.collect().map(_.getAs[Long]("n")).sorted.toSeq ==
      (90L until 100L).toSeq)

    // reader-level: pushed filters prune rows before Spark sees them
    val files = out.listFiles().filter(_.getName.endsWith(".tfrecord")).sortBy(_.getName)
    val conf = new graft.sinks.Sinks.SerializableHadoopConf(
      spark.sessionState.newHadoopConf())
    val schema = StructType(Seq(StructField("key", StringType), StructField("n", LongType)))
    val rdr = new graft.sources.TfRecordPartitionReader(
      files(0).getAbsolutePath, schema, conf,
      Array(org.apache.spark.sql.sources.GreaterThanOrEqual("n", 95L)))
    var got = 0
    while (rdr.next()) { assert(rdr.get().getLong(1) >= 95L); got += 1 }
    rdr.close()
    assert(got > 0 && got <= 10, s"reader must emit only matching rows, got $got")

    // an unsupported filter shape (array column) must not be claimed
    val sb = new graft.sources.TfRecordScanBuilder(out.getAbsolutePath,
      StructType(Seq(StructField("key", StringType),
        StructField("vec", ArrayType(FloatType)))))
    assert(sb.pushFilters(Array(
      org.apache.spark.sql.sources.EqualTo("vec", Seq(1f)))).length == 1)
    assert(sb.pushedFilters().isEmpty)
  }

  test("jsonl.gz sink roundtrip") {
    val out = new File("target/tmp/jsonlgz"); org.apache.commons.io.FileUtils.deleteQuietly(out)
    val df = Seq(("a", 1L), ("b", 2L)).toDF("key", "n")
    graft.sinks.Sinks.jsonlGz(df.repartition(1), out.getAbsolutePath)
    assert(out.listFiles().exists(_.getName.endsWith(".json.gz")), "gzip json parts")
    val back = spark.read.json(out.getAbsolutePath)
    assert(back.count() == 2 && back.columns.toSet == Set("key", "n"))
  }

  test("proto encoders: known byte layouts") {
    // int64_list [1]: feature{int64_list{value:[1]}} =
    // field3 msg( field1 packed varint(1) )
    assert(TfRecord.featureInts(Seq(1L)).toSeq == Seq(0x1a, 0x03, 0x0a, 0x01, 0x01).map(_.toByte))
    assert(TfRecord.featureBytes(Seq("ab".getBytes)).toSeq ==
      Seq(0x0a, 0x04, 0x0a, 0x02, 0x61, 0x62).map(_.toByte))
  }
}

class MetricsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("observe-based counters ride the action (logger.py parity)") {
    val tagged = Seq("success", "success", "failed_to_download", "failed_to_extract")
      .toDF("status")
    val (df, obs) = Metrics.observed(tagged)
    df.write.format("noop").mode("overwrite").save()
    val s = Metrics.summary(obs, wallSec = 2.0)
    assert(s("count") == 4.0 && s("successes") == 2.0)
    assert(s("failed_to_download") == 1.0 && s("failed_to_extract") == 1.0)
    assert(s("docs_per_sec") == 2.0 && s("success_ratio") == 0.5)
  }

  test("capped status histogram top-k") {
    val tagged = (Seq.fill(5)(("success", null: String)) ++
      Seq.fill(3)(("failed_to_download", "timeout")) ++
      Seq(("failed_to_extract", "empty page"))).toDF("status", "error_message")
    val top2 = Metrics.statusHistogram(tagged, k = 2).collect()
    assert(top2.length == 2)
    assert(top2(0).getString(0) == "success" && top2(0).getLong(2) == 5L)
    // past the cap the buffer halves to its most frequent pairs; a
    // frequent pair seen before the overflow keeps its exact count
    val many = tagged.filter(col("status") === "success").union(
        spark.range(Metrics.HistogramCap + 200L).select(lit("failed_to_extract"),
          concat(lit("reason "), col("id").cast("string"))))
      .coalesce(1)
    val capped = Metrics.statusHistogram(many, k = Metrics.HistogramCap).collect()
    assert(capped.length <= Metrics.HistogramCap)
    assert(capped(0).getString(0) == "success" && capped(0).getLong(2) == 5L)
  }

  test("run stats stay exact when task buffers are serialized and merged") {
    // 4 documents: d1 two good pages, d2 page 0 empty and page 1 good,
    // d3 failed download (no page), d4 a null status on page 0
    val rows = Seq(
      ("success", null: String, Some(0)), ("success", null, Some(1)),
      ("failed_to_extract", "empty page", Some(0)), ("success", null, Some(1)),
      ("failed_to_download", "timeout: é", None), (null, null, Some(0)))
    val tagged = rows.toDF("status", "error_message", "page_no").repartition(4)
    val (df, obs) = Metrics.observed(tagged)
    df.write.format("noop").mode("overwrite").save()
    val s = Metrics.summary(obs, wallSec = 1.0)
    assert(s("count") == 6.0 && s("docs") == 4.0 && s("successes") == 3.0, s)
    assert(s("failed_to_download") == 1.0 && s("failed_to_extract") == 1.0, s)
    val want = rows.groupBy(r => (r._1, r._2)).map { case (k, v) => k -> v.size.toLong }
    val observed = Metrics.statusCounts(obs).map(c => (c.status, c.error_message) -> c.count).toMap
    assert(observed == want)
    // the same aggregate through a partial and a final aggregation
    val aggregated = Metrics.statusHistogram(tagged).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(aggregated == want)
  }
}

class HashVerifySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("hash verify: mismatch -> failed_to_download; match/missing pass (downloader.py:352-381)") {
    val md5good = "900150983cd24fb0d6963f7d28e17f72" // md5("abc")
    val rows = Seq(
      ("good", "abc", md5good, "success", null: String),
      ("bad", "abc", "deadbeef", "success", null: String),
      ("nohash", "abc", null: String, "success", null: String),
      ("alreadyfailed", null: String, md5good, "failed_to_download", "http 404"),
    ).toDF("k", "body", "md5", "status", "error_message")
      .withColumn("payload", encode(col("body"), "UTF-8"))
    val got = DocPipeline.verifyHash(rows, "payload", "md5")
      .select("k", "status", "error_message", "md5").collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getString(2), r.getString(3)))).toMap
    assert(got("good") == (("success", null, md5good)))
    assert(got("bad") == (("failed_to_download", "hash mismatch", "deadbeef")))
    assert(got("nohash")._1 == "success" && got("nohash")._3 == md5good,
      "no manifest hash: computed hash stored, row passes")
    assert(got("alreadyfailed")._1 == "failed_to_download" && got("alreadyfailed")._2 == "http 404")
  }
}

class DrawingsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("drawings + exif columns wired through explode (extractor.py:76-77)") {
    val cfg = PipelineConfig(getDrawings = true, extractExif = true, minWordsPerPage = 1)
    val docs = Seq((7L, "one two three four five six seven eight"))
      .toDF("doc_id", "text")
      .withColumn("payload", encode(col("text"), "UTF-8"))
    val keyed = DocPipeline.withKeys(docs, col("doc_id"), cfg)
    val decoded = DocPipeline.decodePages(keyed, FakePdfDecoder(4), "payload", withDrawings = true)
    val tagged = DocPipeline.explodePages(decoded.drop("payload"), cfg)
    val rows = tagged.select("page_no", "drawings", "exif").collect()
    assert(rows.length == 2)
    assert(rows.forall(r => r.getString(1).startsWith("<svg")), "per-page SVG drawings")
    assert(rows.forall(_.isNullAt(2)), "exif assembled but never populated (ref parity)")
    // drawings are per-page distinct (page number embedded by the decoder)
    assert(rows.map(_.getString(1)).distinct.length == 2)
  }
}

class ApproxSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("approx_count_distinct within 5% of exact on testdata") {
    import org.apache.spark.sql.functions._
    val approxRows = SparkEntry.queries("q41_approx_distinct")(spark, TestSpark.sf0001)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("approx_parts")).toMap
    // exact counts computed here, not inside q41 (the query demonstrates
    // the sketch; dragging an exact countDistinct along doubles its cost)
    val exactRows = Tables.lineitem(spark, TestSpark.sf0001)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("exact_parts"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approxRows.nonEmpty && approxRows.keySet == exactRows.keySet)
    approxRows.foreach { case (flag, approx) =>
      val exact = exactRows(flag).toDouble
      assert(math.abs(approx - exact) / exact < 0.05, s"$flag: approx $approx vs exact $exact")
    }
  }

  test("percentile_approx within 1% of exact interpolated percentiles") {
    val approx = SparkEntry.queries("q57_percentile_approx")(spark, TestSpark.sf0001)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val exact = SparkEntry.queries("q55_percentiles")(spark, TestSpark.sf0001)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(approx.keySet == exact.keySet && approx.nonEmpty)
    for ((flag, (a50, a90, aq25)) <- approx) {
      val (e50, e90, eq25) = exact(flag)
      // the sketch returns an observed value, exact interpolates — compare
      // relative to the metric's scale, not element-wise equality
      assert(math.abs(a50 - e50) / e50 < 0.01, s"$flag p50: $a50 vs $e50")
      assert(math.abs(a90 - e90) / e90 < 0.01, s"$flag p90: $a90 vs $e90")
      assert(math.abs(aq25 - eq25) / math.max(eq25, 1.0) < 0.05, s"$flag q25: $aq25 vs $eq25")
    }
  }
}

class MainSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("CLI arg parsing: --k v and --k=v forms") {
    val a = Main.parseArgs(Array("--url_list", "m.txt", "--min_words_per_page=100",
      "--output_format", "tfrecord"))
    assert(a == Map("url_list" -> "m.txt", "min_words_per_page" -> "100",
      "output_format" -> "tfrecord"))
    intercept[IllegalArgumentException](Main.parseArgs(Array("url_list")))
    intercept[IllegalArgumentException](Main.parseArgs(Array("--url_list")))
  }

  test("CLI flags map onto PipelineConfig with reference defaults") {
    val cfg = Main.buildConfig(Map(
      "min_words_per_page" -> "100", "max_images_per_page" -> "5",
      "compute_hash" -> "md5", "save_additional_columns" -> "a,b",
      "max_pages" -> "3", "get_language" -> "true",
      "disallowed_header_directives" -> "noai,noindex"))
    cfg.validate()
    assert(cfg.minWordsPerPage == 100 && cfg.maxImagesPerPage.contains(5))
    assert(cfg.computeHash.contains("md5") && cfg.maxPages.contains(3))
    assert(cfg.saveAdditionalColumns == Seq("a", "b") && cfg.getLanguage)
    assert(cfg.disallowedHeaderDirectives == Seq("noai", "noindex"))
    // compute_hash none => no hash column at all (ref Optional[str]=None)
    assert(Main.buildConfig(Map("compute_hash" -> "none")).computeHash.isEmpty)
    // defaults match the library defaults when flags are absent
    assert(Main.buildConfig(Map.empty).numSamplesPerShard == 10000)
  }

  test("CLI manifest readers accept every reference input_format") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createDirectories(Paths.get("target/tmp/cli_manifest"))
    val txt = dir.resolve("m.txt")
    Files.write(txt, "http://a/1\nhttp://a/2\n".getBytes)
    val df = Main.readManifest(spark, txt.toString, "txt")
    assert(df.count() == 2 && df.columns.contains("url"))
    intercept[IllegalArgumentException](Main.readManifest(spark, txt.toString, "xml"))
  }
}

class MainE2eSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("CLI end-to-end: manifest file -> Main.main -> parquet output") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    import java.net.InetSocketAddress
    val server = HttpServer.create(new InetSocketAddress(0), 0)
    val body = "alpha beta gamma delta epsilon zeta eta theta"
    server.createContext("/doc", new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        val b = body.getBytes("UTF-8")
        ex.sendResponseHeaders(200, b.length.toLong)
        ex.getResponseBody.write(b); ex.close()
      }
    })
    server.start()
    try {
      val port = server.getAddress.getPort
      val dir = new File("target/tmp/cli_e2e"); org.apache.commons.io.FileUtils.deleteQuietly(dir)
      dir.mkdirs()
      val manifest = new File(dir, "manifest.txt")
      java.nio.file.Files.write(manifest.toPath,
        (0 until 3).map(i => s"http://127.0.0.1:$port/doc?i=$i").mkString("\n").getBytes)
      val out = new File(dir, "out")
      spark.sparkContext.setLogLevel("WARN") // keep the shared session hot
      Main.main(Array(
        "--url_list", manifest.getAbsolutePath,
        "--output_folder", out.getAbsolutePath,
        "--input_format", "txt",
        "--output_format", "parquet",
        "--min_words_per_page", "2",
        "--incremental_mode", "overwrite"))
      assert(!spark.sparkContext.isStopped, "CLI must not stop a pre-existing session")
      val payload = spark.read.parquet(s"${out.getAbsolutePath}/payload")
      assert(payload.count() == 3, "3 docs x 1 page (default decoder: 40 words/page)")
      assert(payload.columns.contains("sha256") && payload.columns.contains("page_key"))
      assert(spark.read.json(s"${out.getAbsolutePath}/stats").count() >= 1)
    } finally server.stop(0)
  }
}

class SketchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._
  import graft.functions.Sketch

  test("count-min: est ≥ exact always, within εN, and invariant to partitioning") {
    // skewed multiset: "hot" 500×, "warm" 50×, 200 singletons
    val words = (Seq.fill(500)("hot") ++ Seq.fill(50)("warm") ++
      (0 until 200).map(i => s"rare$i"))
    val n = words.size.toLong
    val eps = math.E / Sketch.Width
    for (parts <- Seq(1, 7)) {
      val df = words.toDF("word").repartition(parts)
      val sk = df.agg(Sketch.cms(col("word"))).collect()(0).getSeq[Long](0).toIndexedSeq
      val exact = words.groupBy(identity).map { case (w, g) => w -> g.size.toLong }
      for ((w, c) <- exact) {
        val est = Sketch.estimate(sk, w)
        assert(est >= c, s"CMS must never undercount: $w est=$est exact=$c")
        assert(est <= c + (eps * n).ceil.toLong,
          s"εN bound blown: $w est=$est exact=$c n=$n")
      }
    }
    // partitioning-invariance: the merged counters are identical arrays
    val sk1 = words.toDF("word").repartition(1)
      .agg(Sketch.cms(col("word"))).collect()(0).getSeq[Long](0)
    val sk7 = words.toDF("word").repartition(7)
      .agg(Sketch.cms(col("word"))).collect()(0).getSeq[Long](0)
    assert(sk1 == sk7, "merge must be partitioning-invariant")
  }

  test("codegen CmsProbe ≡ scalar estimate, including multi-byte UTF-8") {
    // the probe hashes UTF8String BYTES in place; the build path hashes
    // String.getBytes(UTF_8) — parity must hold beyond ASCII or the
    // prefilter could undercount and drop a true heavy hitter
    val words = Seq("plain", "héllo", "héllo", "über", "日本語", "日本語", "日本語",
      "mixedÆscii", "", "a")
    val df = words.toDF("word")
    val sk = df.agg(Sketch.cms(col("word"))).collect()(0).getSeq[Long](0)
    val probed = df
      .select(col("word"), Sketch.probe(sk.toArray, col("word")).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for (w <- words.distinct)
      assert(probed(w) == Sketch.estimate(sk.toIndexedSeq, w),
        s"probe/estimate parity broken for '$w'")
    // and the estimate still dominates the exact count
    val exact = words.groupBy(identity).map { case (w, g) => w -> g.size.toLong }
    for ((w, c) <- exact) assert(probed(w) >= c)
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{DocPipeline, Multimodal}
import graft.sources.FakePdfDecoder

class PipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("config validation mirrors the reference's arguments_validator") {
    PipelineConfig().validate()
    intercept[IllegalArgumentException](PipelineConfig(verifyHashType = "crc32").validate())
    intercept[IllegalArgumentException](
      PipelineConfig(verifyHashCol = Some("h"), verifyHashType = "md5",
        computeHash = Some("sha256")).validate())
    intercept[IllegalArgumentException](
      PipelineConfig(saveAdditionalColumns = Seq("status")).validate())
    intercept[IllegalArgumentException](PipelineConfig(outputFormat = "xml").validate())
  }

  test("fake decoder: deterministic pages, reference-shaped xhtml") {
    val d = FakePdfDecoder(4)
    val Right(pages) = d.decode("a b c d e f g h i j".getBytes("UTF-8"))
    assert(pages.length == 3)
    assert(pages(0) == "<div><p>a b c d</p></div>")
    assert(pages(2).contains("<img"))
    assert(d.decode(null).isLeft && d.decode(Array.empty[Byte]).isLeft)
    assert(d.decode("x".getBytes("UTF-8")) == d.decode("x".getBytes("UTF-8")))
  }

  test("dimensionless <img> tags: explodePages keeps them, never divides by zero") {
    val bare = "<img/>"
    val flat = "<img width=\"0\" height=\"10\"/>"
    val docs = Seq(("0000000", Seq(s"<div><p>bare raster</p>$bare</div>",
        s"<div><p>flat image</p>$flat</div>")))
      .toDF("key", "pages").withColumn("decode_error", lit(null).cast("string"))
    def pages(cfg: PipelineConfig) = DocPipeline.explodePages(docs, cfg)
      .orderBy("page_no").select("imgs", "status").collect()
      .map(r => (r.getSeq[String](0), r.getString(1))).toSeq
    val cfg = PipelineConfig(saveFigures = true, numSamplesPerShard = 100)
    // no size gate: an unknown ratio passes, both images stay
    assert(pages(cfg) == Seq((Seq(bare), "success"), (Seq(flat), "success")))
    // a size gate drops both, still without evaluating a ratio
    assert(pages(cfg.copy(minImageSize = 1, maxAspectRatio = 3.0)) ==
      Seq((Seq.empty, "success"), (Seq.empty, "success")))
  }

  test("an out-of-int-range img dimension is a success row, never a failed job") {
    // the reference parses dimensions with Python's unbounded int; an ANSI
    // int cast of these digits throws CAST_INVALID_INPUT
    val huge = "<img width=\"99999999999\" height=\"40\"/>"
    val longer = "<img width=\"" + "9" * 400 + "\" height=\"40\"/>"
    val docs = Seq(("0000000", Seq(s"<div><p>poison chapter</p>$huge$longer</div>")))
      .toDF("key", "pages").withColumn("decode_error", lit(null).cast("string"))
    def page(cfg: PipelineConfig) = DocPipeline.explodePages(docs, cfg)
      .select("imgs", "status").collect()
      .map(r => (r.getSeq[String](0), r.getString(1))).toSeq
    val cfg = PipelineConfig(saveFigures = true, numSamplesPerShard = 100)
    assert(page(cfg) == Seq((Seq(huge, longer), "success")))
    // with thresholds the dimensions are parsed: both pass the size gate,
    // and both are far too stretched for a 3:1 ratio
    assert(page(cfg.copy(minImageSize = 40)) == Seq((Seq(huge, longer), "success")))
    assert(page(cfg.copy(minImageSize = 40, maxAspectRatio = 3.0)) == Seq((Seq.empty, "success")))
    assert(docs.select(graft.functions.Extraction.imgDim(lit(huge), "width").cast("long"))
      .head().getLong(0) == 99999999999L)
  }

  test("without an image threshold, imgs is every img tag and no filter runs") {
    val sized = "<img width=\"200\" height=\"100\"/>"
    val bare = "<img src=\"x.png\"/>"
    val oversized = "<img width=\"99999999999\" height=\"1\"/>"
    val docs = Seq(("0000000", Seq(s"<div><p>three images</p>$sized$bare$oversized</div>")))
      .toDF("key", "pages").withColumn("decode_error", lit(null).cast("string"))
    val cfg = PipelineConfig(numSamplesPerShard = 100)
    val out = DocPipeline.explodePages(docs, cfg)
    val expected = Seq(sized, bare, oversized)
    assert(out.select("imgs").head().getSeq[String](0) == expected)
    assert(docs.select(graft.functions.Extraction.imgTags(col("pages")(0))).head()
      .getSeq[String](0) == expected)
    val exprs = out.queryExecution.analyzed.flatMap(_.expressions)
    assert(!exprs.exists(_.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.ArrayFilter])),
      "the default plan must not evaluate the per-image filter")
  }

  test("pipeline end-to-end: explode, filters, status channels, keys") {
    val cfg = PipelineConfig(minWordsPerPage = 3, maxPages = Some(2),
      saveFigures = true, numSamplesPerShard = 100)
    val docs = Seq(
      (1L, "one two three four five six seven eight nine ten"), // 3 pages of 4 -> capped at 2
      (2L, "a b"),                                              // 1 page, 2 words -> below min
    ).toDF("doc_id", "text")
      .withColumn("payload", encode(col("text"), "UTF-8")).drop("text")
    val keyed = DocPipeline.withKeys(docs, col("doc_id"), cfg)
    val decoded = DocPipeline.decodePages(keyed, FakePdfDecoder(4), "payload")
    val tagged = DocPipeline.explodePages(decoded.drop("payload"), cfg)
    val (payload, stats) = DocPipeline.channels(tagged)

    val ok = payload.select("doc_id", "page_no", "total_words", "page_key")
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(ok.toSet == Set((1L, 0), (1L, 1)), "maxPages=2 keeps first two pages of doc 1 only")
    val statuses = stats.collect().map(r => (r.getString(0), r.getLong(2))).toMap
    assert(statuses("success") == 2L)
    assert(statuses.getOrElse("failed_to_extract", 0L) == 1L, "doc 2 page below min words")

    // dense-id keys: doc_id=1 -> shard 0, index 1 -> %07d "0000001"
    // (oom_sample=2 for 100/shard + oom_shard=5), page_no appended
    // (ref downloader.py:212)
    val keys = payload.select("page_key").as[String].collect().toSet
    assert(keys == Set("00000010", "00000011"), s"zero-padded doc key + page_no: $keys")
  }

  test("save_figures text semantics: img tags kept, failing imgs removed from text, digits gated") {
    // ref extractor.py:141-165 — with save_figures the payload keeps its
    // <img> tags, per-image size failures are removed from the text, and
    // remove_digits only applies on the figure-less path
    val xhtml = """<div><p>alpha 1234 beta</p>""" +
      """<img width="300" height="300" src="big"/>""" +
      """<img width="5" height="5" src="tiny"/></div>"""
    val docs = Seq((1L, Seq(xhtml), null: String)).toDF("doc_id", "pages", "decode_error")

    val figCfg = PipelineConfig(saveFigures = true, removeDigits = true,
      minImageSize = 10, minWordsPerPage = 1, numSamplesPerShard = 100)
    val fig = DocPipeline.explodePages(
      DocPipeline.withKeys(docs, col("doc_id"), figCfg), figCfg)
      .select("text", "images_per_page", "status").collect()(0)
    assert(fig.getString(0).contains("src=\"big\""), "passing img tag stays in the text")
    assert(!fig.getString(0).contains("tiny"), "failing img tag removed from the text")
    assert(fig.getString(0).contains("1234"), "remove_digits is a no-op when save_figures")
    assert(fig.getInt(1) == 2, "images_per_page counts PRE-filter images")
    assert(fig.getString(2) == "success")

    val plainCfg = PipelineConfig(saveFigures = false, removeDigits = true,
      minWordsPerPage = 1, numSamplesPerShard = 100)
    val plain = DocPipeline.explodePages(
      DocPipeline.withKeys(docs, col("doc_id"), plainCfg), plainCfg)
      .select("text").collect()(0).getString(0)
    assert(!plain.contains("<img") && !plain.contains("1234"),
      s"figure-less path strips tags and digits: $plain")
  }

  test("dense-id keys: identical to global-window keys on a multi-partition manifest") {
    val cfg = PipelineConfig(numSamplesPerShard = 10)
    val urls = spark.range(0, 137)
      .select(concat(lit("http://host/doc"), format_string("%05d", col("id"))).as("url"))
      .repartition(7) // multi-partition, non-sorted arrival order
    val dense = DocPipeline.withKeysDense(urls, col("url"), cfg)
      .select("url", "key").as[(String, String)].collect().toMap
    val windowed = DocPipeline.withKeysOrdered(urls, col("url"), cfg)
      .select("url", "key").as[(String, String)].collect().toMap
    assert(dense.size == 137 && dense == windowed,
      "two-pass dense ids must reproduce the row_number-over-stable-sort keys")
    // and re-running yields the same keys (determinism across jobs)
    val again = DocPipeline.withKeysDense(urls, col("url"), cfg)
      .select("url", "key").as[(String, String)].collect().toMap
    assert(again == dense)
  }

  test("dense ids stay dense under forced partial range sampling") {
    // RangePartitioner samples bounds per partition; with sampleSize << rows
    // the bounds are estimates, and (pre-fix) the counts job and the final
    // job would RE-SAMPLE independently — rows migrating between partitions
    // across the two jobs minted duplicate / non-dense ids. The eager
    // localCheckpoint freezes one layout for both jobs; this test forces
    // aggressively-partial sampling and checks exact dense 0..n-1 ids.
    val key = "spark.sql.execution.rangeExchange.sampleSizePerPartition"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "10")
    try {
      val n = 50000
      val urls = spark.range(0, n)
        // xxhash64-shuffled sort-key prefix (range sample really decides);
        // "-id" suffix keeps every url unique so the order is total
        .select(concat(lit("doc"), format_string("%08d", pmod(xxhash64(col("id")), lit(100000000L))),
          lit("-"), format_string("%06d", col("id"))).as("url"))
        .repartition(13)
      val ids = DocPipeline.withDenseIds(urls, col("url"), "id")
        .select("url", "id").as[(String, Long)].collect()
      assert(ids.length == n)
      assert(ids.map(_._2).sorted.toSeq == (0L until n.toLong), "ids must be exactly 0..n-1")
      assert(ids.sortBy(_._1).map(_._2).toSeq == (0L until n.toLong),
        "id order must equal the stable sort order on url")
    } finally { prev match { case Some(v) => spark.conf.set(key, v); case None => spark.conf.unset(key) } }
  }

  test("entry flagship returns success pages with contract columns") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
    val cols = df.columns.toSet
    assert(Set("key", "status", "page_no", "text", "total_words", "language",
      "images_per_page", "page_key").subsetOf(cols), s"missing contract columns: $cols")
    assert(df.filter(col("status") =!= "success").count() == 0)
  }

  test("multimodal decode plumbing: schema + deterministic stub") {
    val docs = Seq((1L, "hello world")).toDF("doc_id", "text")
    // the stub is the EXPLICIT harness argument since r18 (the default
    // codec is the real JDK reader, which drops non-media payloads)
    val out = Multimodal.decodeMetadata(Multimodal.withBinaryPayload(docs, "text"),
      codec = Multimodal.FakeImageCodec).collect()
    assert(out.length == 1)
    // and the DEFAULT (real) path drops the synthesized payload rather
    // than fabricating metadata for it
    assert(Multimodal.decodeMetadata(
      Multimodal.withBinaryPayload(docs, "text")).collect().isEmpty)
    val m = out(0)
    assert(m.n_bytes == 11 && m.width == 64 + 11 && m.channels == 3 && m.format == "jpeg")
    val resized = Multimodal.FakeImageCodec.resize(
      Multimodal.MediaMeta(800, 400, 3, "png"), maxSide = 200)
    assert(resized.width == 200 && resized.height == 100)
    assert(Multimodal.FakeImageCodec.sampleFrames("abcdefgh".getBytes, 3) == Seq(0L, 3L, 6L))
  }

  private def pngBytes(w: Int, h: Int, rgb: Int, format: String = "png"): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, format, bos)
    bos.toByteArray
  }

  private def wavBytes(nFrames: Int, sampleRate: Float = 16000f, channels: Int = 1): Array[Byte] = {
    val fmt = new javax.sound.sampled.AudioFormat(sampleRate, 16, channels, true, false)
    val pcm = new Array[Byte](nFrames * fmt.getFrameSize)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, nFrames.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  test("JDK codec: real PNG/JPEG/BMP header decode through the Spark path") {
    // real images generated by the JDK encoder, decoded by the REAL
    // codec through the same mapPartitions plumbing as the stub
    val rows = Seq(
      (1L, pngBytes(20, 10, 0x336699, "png")),
      (2L, pngBytes(7, 5, 0xAA0000, "jpg")),
      (3L, pngBytes(33, 44, 0x00FF00, "bmp")),
      (4L, "not an image at all, just bytes".getBytes("UTF-8")))
    val df = rows.toDF("doc_id", "media").repartition(2)
    val out = Multimodal.decodeRealMetadata(df).collect()
      .map(d => d.doc_id -> d).toMap
    assert(out(1L).width == 20 && out(1L).height == 10 && out(1L).format == "png")
    assert(out(2L).width == 7 && out(2L).height == 5 && out(2L).format.startsWith("jp"))
    assert(out(3L).width == 33 && out(3L).height == 44 && out(3L).format == "bmp")
    // r18: junk payload DROPS by default (never fabricated, never a
    // task failure); the stub fallback is an explicit harness opt-in
    assert(!out.contains(4L), "junk must drop through the real path")
    val withStub = Multimodal.decodeRealMetadata(df,
      fallback = Some(Multimodal.FakeImageCodec)).collect()
      .map(d => d.doc_id -> d).toMap
    assert(withStub(4L).format == "jpeg" || withStub(4L).format == "png")
  }

  test("JDK codec: AIFF and AU route to the audio path like WAV") {
    for (tpe <- Seq(javax.sound.sampled.AudioFileFormat.Type.AIFF,
                    javax.sound.sampled.AudioFileFormat.Type.AU)) {
      val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 2, true, true)
      val pcm = new Array[Byte](300 * fmt.getFrameSize)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, 300L)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais, tpe, bos)
      val mm = Multimodal.JdkImageCodec.decodeMeta(bos.toByteArray)
      assert(mm.width == 300 && mm.height == 8000 && mm.channels == 2,
        s"$tpe routed wrong: $mm")
      assert(mm.format == tpe.getExtension.toLowerCase, mm.format)
    }
  }

  test("JDK codec: TIFF decodes too (the JDK ships a TIFF plugin since 9)") {
    val tiff = pngBytes(24, 18, 0x406080, "tiff")
    val mm = Multimodal.JdkImageCodec.decodeMeta(tiff)
    assert(mm.width == 24 && mm.height == 18 && mm.format.startsWith("tif"), mm.toString)
    val lum = Multimodal.JdkImageCodec.meanLuminance(tiff)
    val expected = 0.299 * 0x40 + 0.587 * 0x60 + 0.114 * 0x80
    assert(math.abs(lum - expected) < 1.0, s"luminance $lum vs $expected")
  }

  test("JDK codec: real WAV header decode and real pixel resize") {
    val wav = wavBytes(nFrames = 800, sampleRate = 16000f, channels = 1)
    val am = Multimodal.JdkImageCodec.decodeAudioMeta(wav)
    assert(am.sampleRateHz == 16000 && am.channels == 1 && am.frames == 800)
    assert(am.format == "wav")
    // decodeMeta routes WAV through the audio path (frames/rate/channels)
    val mm = Multimodal.JdkImageCodec.decodeMeta(wav)
    assert(mm.width == 800 && mm.height == 16000 && mm.channels == 1)
    // real resize: 80x40 PNG into a 20-box -> 20x10, re-decodable
    val resized = Multimodal.JdkImageCodec.resizeImage(pngBytes(80, 40, 0x123456), maxSide = 20)
    val rm = Multimodal.JdkImageCodec.decodeMeta(resized)
    assert(rm.width == 20 && rm.height == 10 && rm.format == "png")
    // uniform-color image keeps its luminance through the bilinear resize
    val lum = Multimodal.JdkImageCodec.meanLuminance(resized)
    val expected = 0.299 * 0x12 + 0.587 * 0x34 + 0.114 * 0x56
    assert(math.abs(lum - expected) < 1.5, s"luminance $lum vs $expected")
  }

  private def withShufflePartitions[T](n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, prev)
  }

  test("withDenseIdsAndCount: ids are row_number() - 1 with more partitions than rows, and with no rows") {
    val df = Seq(("m", 5), ("c", 1), ("x", 9), ("a", 3), ("q", 0)).toDF("k", "v")
    withShufflePartitions(16) {
      val (ranked, n) = DocPipeline.withDenseIdsAndCount(df, col("k"), "rid")
      val got = ranked.select("k", "rid").as[(String, Long)].collect().toMap
      val want = df.select(col("k"),
        (row_number().over(org.apache.spark.sql.expressions.Window.orderBy("k")) - 1).cast("long"))
        .as[(String, Long)].collect().toMap
      assert(n == 5L && got == want)
      val (empty, zero) = DocPipeline.withDenseIdsAndCount(df.filter(col("v") > 100), col("k"), "rid")
      assert(zero == 0L && empty.count() == 0L && empty.columns.toSeq == Seq("k", "v", "rid"))
    }
  }

  test("withDenseIdsAndCount runs three jobs: range sample, shuffle, one counting pass") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = "dense-id-jobs"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    val input = spark.range(0, 1000, 1, 5).select((col("id") * 7919 % 1000).as("k"))
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "dense ids")
    val (ranked, n) = try DocPipeline.withDenseIdsAndCount(input, col("k"), "rid")
      finally {
        sc.clearJobGroup()
        org.apache.spark.sql.GraftBridge.drainListeners(sc)
        sc.removeSparkListener(listener)
      }
    assert(jobs.get == 3, s"jobs run while numbering: ${jobs.get}")
    assert(n == 1000L)
    val ids = ranked.select("k", "rid").as[(Long, Long)].collect()
    assert(ids.forall { case (k, rid) => k == rid }, "k is a permutation of 0..999")
  }

  test("withDenseIdsAndCount: the free total equals the frame's row count") {
    val df = (1 to 137).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    val (ranked, n) = graft.operators.DocPipeline
      .withDenseIdsAndCount(df, col("k"), "rid")
    assert(n == 137L)
    assert(ranked.count() == 137L)
    // ids stay dense 0..n-1
    val ids = ranked.select(col("rid")).collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == (0L until 137L).toSeq)
  }
}

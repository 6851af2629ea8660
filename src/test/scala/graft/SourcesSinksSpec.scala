package graft

import java.io.File
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.sinks.Sinks
import graft.sources.{HttpFetch, ManifestReader}

class HttpFetchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def withServer(f: Int => Unit): Unit = {
    val server = HttpServer.create(new InetSocketAddress(0), 0)
    def h(status: Int, body: String, headers: Map[String, String] = Map.empty) =
      new HttpHandler {
        def handle(ex: HttpExchange): Unit = {
          headers.foreach { case (k, v) => ex.getResponseHeaders.add(k, v) }
          val b = body.getBytes(StandardCharsets.UTF_8)
          ex.sendResponseHeaders(status, b.length.toLong)
          ex.getResponseBody.write(b); ex.close()
        }
      }
    server.createContext("/ok", h(200, "hello payload"))
    server.createContext("/missing", h(404, "nope"))
    server.createContext("/noai", h(200, "secret", Map("X-Robots-Tag" -> "noai")))
    server.start()
    try f(server.getAddress.getPort) finally server.stop(0)
  }

  test("fetch: success, 404, and X-Robots-Tag opt-out statuses") {
    withServer { port =>
      val urls = Seq(s"http://127.0.0.1:$port/ok", s"http://127.0.0.1:$port/missing",
        s"http://127.0.0.1:$port/noai", "http://127.0.0.1:1/refused").toDF("url")
      val got = HttpFetch.fetch(urls, threadsPerTask = 4, timeoutSec = 5,
          disallowed = HttpFetch.defaultDisallowed)
        .select("url", "status", "payload").collect()
        .map(r => r.getString(0).split("/").last ->
          (r.getString(1), Option(r.get(2)).map(b => new String(r.getAs[Array[Byte]](2), "UTF-8"))))
        .toMap
      assert(got("ok") == ("success", Some("hello payload")))
      assert(got("missing")._1 == "failed_to_download")
      assert(got("noai")._1 == "failed_to_download", "X-Robots-Tag noai must be dropped")
      assert(got("refused")._1 == "failed_to_download")
    }
  }

  test("isDisallowed directive parsing (downloader.py:20-34)") {
    val dis = HttpFetch.defaultDisallowed
    assert(HttpFetch.isDisallowed(Map("X-Robots-Tag" -> Seq("noai")), None, dis))
    assert(HttpFetch.isDisallowed(Map("x-robots-tag" -> Seq("noindex, nofollow")), None, dis))
    assert(!HttpFetch.isDisallowed(Map("X-Robots-Tag" -> Seq("all")), None, dis))
    // agent-scoped directive applies only to that token
    assert(HttpFetch.isDisallowed(Map("X-Robots-Tag" -> Seq("mybot: noai")), Some("mybot"), dis))
    assert(!HttpFetch.isDisallowed(Map("X-Robots-Tag" -> Seq("otherbot: noai")), Some("mybot"), dis))
    assert(!HttpFetch.isDisallowed(Map.empty, None, dis))
  }

  test("manifest normalize: rename + projection (reader.py:60-69,114-120)") {
    import spark.implicits._
    val df = Seq(("http://x", "abc", "extra", 1)).toDF("link", "checksum", "note", "junk")
    val got = ManifestReader.normalize(df, urlCol = "link", verifyHashCol = Some("checksum"),
      verifyHashType = "md5", additional = Seq("note"))
    assert(got.columns.toSeq == Seq("note", "md5", "url"))
  }
}

class SinksSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpDir(name: String): String = {
    val d = new File(s"target/tmp/sinks_$name")
    org.apache.commons.io.FileUtils.deleteQuietly(d)
    d.mkdirs(); d.getAbsolutePath
  }

  def sample = Seq(
    ("0000", "payload zero", "en"),
    ("0001", "payload one", "de"),
  ).toDF("key", "text", "lang")

  test("files sink: per-sample payload + json meta in shard dirs") {
    val out = tmpDir("files")
    Sinks.files(sample.repartition(1), out, sampleDigits = 3)
    val f = new File(s"$out/0/0000.txt")
    assert(f.exists(), s"payload file missing under $out")
    assert(org.apache.commons.io.FileUtils.readFileToString(f, "UTF-8") == "payload zero")
    val meta = org.apache.commons.io.FileUtils.readFileToString(new File(s"$out/0/0000.json"), "UTF-8")
    assert(meta.contains("\"key\": \"0000\"") && meta.contains("\"lang\": \"en\""))
  }

  test("webdataset sink: tar of (payload, meta) + parquet sidecar") {
    import org.apache.commons.compress.archivers.tar.TarArchiveInputStream
    val out = tmpDir("wds")
    Sinks.webdataset(sample.repartition(1), out)
    val tars = new File(out).listFiles().filter(_.getName.endsWith(".tar"))
    assert(tars.length == 1)
    val tin = new TarArchiveInputStream(new java.io.FileInputStream(tars(0)))
    val names = Iterator.continually(tin.getNextEntry).takeWhile(_ != null).map(_.getName).toSet
    tin.close()
    assert(names == Set("0000.txt", "0000.json", "0001.txt", "0001.json"), s"tar entries: $names")
    val sidecar = spark.read.parquet(s"$out/_metadata.parquet")
    assert(sidecar.count() == 2 && !sidecar.columns.contains("text"))
  }

  test("resume anti-join drops already-written keys (main.py:140-151 analog)") {
    val out = tmpDir("resume")
    sample.filter(col("key") === "0000").write.mode("overwrite").parquet(out)
    val remaining = Sinks.resumeAntiJoin(sample, out).select("key").as[String].collect().toSet
    assert(remaining == Set("0001"))
    // missing prior output -> everything flows
    assert(Sinks.resumeAntiJoin(sample, s"$out/_nope").count() == 2)
    // empty prior dir (exists, no readable files) -> everything flows
    val empty = tmpDir("resume_empty"); new File(empty).mkdirs()
    assert(Sinks.resumeAntiJoin(sample, empty).count() == 2)
    // CORRUPT prior output must FAIL the run, not silently re-process
    // every key (the fail-open would double-write the whole corpus)
    val corrupt = tmpDir("resume_corrupt"); new File(corrupt).mkdirs()
    val fw = new java.io.FileOutputStream(new File(corrupt, "part-00000.parquet"))
    fw.write("this is not a parquet file".getBytes("UTF-8")); fw.close()
    val e = intercept[Exception](Sinks.resumeAntiJoin(sample, corrupt).count())
    assert(!e.isInstanceOf[org.apache.spark.sql.AnalysisException] ||
      e.getMessage.toLowerCase.contains("parquet"),
      s"corrupt done-scan must surface, got: ${e.getClass.getSimpleName}: ${e.getMessage}")
    // corrupt JSON prior output infers _corrupt_record (schema WITHOUT
    // keyCol) — the keyCol AnalysisException must surface, not be
    // swallowed as "no prior output" (that fail-open double-writes)
    val badJson = tmpDir("resume_badjson"); new File(badJson).mkdirs()
    val jw = new java.io.FileOutputStream(new File(badJson, "part-00000.json"))
    jw.write("{not valid json at all\n".getBytes("UTF-8")); jw.close()
    intercept[org.apache.spark.sql.AnalysisException](
      Sinks.resumeAntiJoin(sample, badJson, format = "json").count())
    // prior output readable but missing keyCol: schema mismatch is real
    // prior output we cannot trust — must throw, not pass everything
    val noKey = tmpDir("resume_nokey")
    sample.select(col("key").as("other")).write.mode("overwrite").parquet(noKey)
    intercept[org.apache.spark.sql.AnalysisException](
      Sinks.resumeAntiJoin(sample, noKey).count())
  }

  test("webdataset round trip: sink → WebDataset.read returns every (key, payload, meta)") {
    val out = tmpDir("wds_rt")
    val df = Seq(
      ("s0_0000", "alpha text", "en", "s0"),
      ("s0_0001", "beta text", "de", "s0"),
      ("s1_0000", "gamma text", "fr", "s1"),
    ).toDF("key", "text", "lang", "shard")
    Sinks.webdataset(df, out, shardCol = Some("shard"))
    val back = graft.sources.WebDataset.read(spark, out)
    val rows = back.collect().map(r => (r.getString(0),
      new String(r.getAs[Array[Byte]](1), "UTF-8"), r.getString(2), r.getString(3))).toSet
    assert(rows.map(_._1) === Set("s0_0000", "s0_0001", "s1_0000"))
    assert(rows.find(_._1 == "s0_0001").get._2 === "beta text")
    assert(rows.find(_._1 == "s1_0000").get._3.contains("\"lang\": \"fr\""))
    assert(rows.map(_._4) === Set("s0", "s1"))
    // read parallelism = shard count
    assert(back.rdd.getNumPartitions === 2)
  }

  test("webdataset: a shard that cannot be moved into place fails the write") {
    val out = tmpDir("wds_blocked")
    // a non-empty directory squats on s1's tar name
    val squatter = new File(s"$out/s1.tar")
    squatter.mkdirs()
    java.nio.file.Files.write(new File(squatter, "x").toPath, Array[Byte](1))
    val df = Seq(("s0_0000", "alpha", "s0"), ("s1_0000", "beta", "s1"))
      .toDF("key", "text", "shard")
    val e = intercept[Exception](Sinks.webdataset(df, out, shardCol = Some("shard")))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("s1.tar")), e.toString)
    assert(squatter.isDirectory, "the blocked shard must not be half-replaced")
    assert(!new File(s"$out/_metadata.parquet/_SUCCESS").exists,
      "no sidecar commit for a failed shard write")
  }

  test("deleteKeys rewrites ONLY affected shards; data and sidecar rows vanish") {
    val out = tmpDir("wds_del")
    val df = Seq(
      ("s0_0000", "keep zero", "en", "s0"),
      ("s0_0001", "delete me", "de", "s0"),
      ("s1_0000", "keep one", "fr", "s1"),
    ).toDF("key", "text", "lang", "shard")
    Sinks.webdataset(df, out, shardCol = Some("shard"))
    val untouched = new File(s"$out/s1.tar")
    val bytesBefore = java.nio.file.Files.readAllBytes(untouched.toPath)
    val (rewritten, total) = graft.sources.WebDataset.deleteKeys(
      spark, out, Set("s0_0001"))
    assert(rewritten === 1 && total === 2)
    // untouched shard is byte-identical (not rewritten)
    assert(java.util.Arrays.equals(bytesBefore,
      java.nio.file.Files.readAllBytes(untouched.toPath)))
    val back = graft.sources.WebDataset.read(spark, out)
      .select("key").collect().map(_.getString(0)).toSet
    assert(back === Set("s0_0000", "s1_0000"))
    val side = spark.read.parquet(s"$out/_metadata.parquet")
      .select("key").collect().map(_.getString(0)).toSet
    assert(side === Set("s0_0000", "s1_0000"))
    // forgotten stays forgotten: resume must NOT re-process the deleted
    // key (the tombstone log outranks "not present in sink contents")
    val manifest = df.drop("text")
    val viaShards = Sinks.resumeShards(manifest, out, col("shard"), "tar")
      .select("key").collect().map(_.getString(0)).toSet
    assert(!viaShards.contains("s0_0001"), s"tombstoned key re-surfaced: $viaShards")
    val viaKeys = Sinks.resumeAntiJoin(manifest, s"$out/_metadata.parquet")
      .select("key").collect().map(_.getString(0)).toSet
    assert(!viaKeys.contains("s0_0001"), s"tombstoned key re-surfaced: $viaKeys")
  }

  test("deleteKeys tolerates dotless foreign tar members (no stem, never doomed)") {
    import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveOutputStream}
    val out = tmpDir("wds_dotless")
    new File(out).mkdirs()
    val tar = new File(out, "s0.tar")
    val os = new TarArchiveOutputStream(new java.io.FileOutputStream(tar))
    def put(name: String, body: String): Unit = {
      val b = body.getBytes(StandardCharsets.UTF_8)
      val e = new TarArchiveEntry(name); e.setSize(b.length.toLong)
      os.putArchiveEntry(e); os.write(b); os.closeArchiveEntry()
    }
    // a dotless member (e.g. a MANIFEST a foreign tool added) rides along
    put("MANIFEST", "foreign member")
    put("k0.txt", "delete me"); put("k0.json", "{}")
    put("k1.txt", "keep"); put("k1.json", "{}")
    os.close()
    val (rewritten, total) = graft.sources.WebDataset.deleteKeys(spark, out, Set("k0"))
    assert(rewritten === 1 && total === 1)
    val back = graft.sources.WebDataset.read(spark, out)
      .select("key").collect().map(_.getString(0)).toSet
    assert(back === Set("k1"))
    // the dotless member survived the rewrite
    val in = new org.apache.commons.compress.archivers.tar.TarArchiveInputStream(
      new java.io.FileInputStream(tar))
    val names = Iterator.continually(in.getNextEntry).takeWhile(_ != null)
      .map(_.getName).toSet
    in.close()
    assert(names === Set("MANIFEST", "k1.txt", "k1.json"))
  }

  test("WebDataset.read: duplicate stems in a foreign tar emit ONE row (first pair wins)") {
    import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveOutputStream}
    val out = tmpDir("wds_dupstem")
    new File(out).mkdirs()
    val os = new TarArchiveOutputStream(new java.io.FileOutputStream(new File(out, "s0.tar")))
    def put(name: String, body: String): Unit = {
      val b = body.getBytes(StandardCharsets.UTF_8)
      val e = new TarArchiveEntry(name); e.setSize(b.length.toLong)
      os.putArchiveEntry(e); os.write(b); os.closeArchiveEntry()
    }
    // tar --append style: k appears twice; first complete pair wins
    put("k.txt", "first"); put("k.json", "{\"v\":1}")
    put("k.txt", "second"); put("k.json", "{\"v\":2}")
    put("other.txt", "solo") // unpaired payload: emitted with null meta
    os.close()
    val rows = graft.sources.WebDataset.read(spark, out)
      .collect().map(r => r.getString(0) ->
        (new String(r.getAs[Array[Byte]](1), StandardCharsets.UTF_8), r.getString(2))).toMap
    assert(rows.size === 2)
    assert(rows("k") === (("first", "{\"v\":1}")))
    assert(rows("other") === (("solo", null)))
  }

  test("tombstone filter fails closed: a corrupt log errors, never fail-open") {
    val out = tmpDir("tombstone_corrupt")
    new File(out).mkdirs()
    // resume consults the tombstone log; garbage bytes must ERROR the
    // run (fail-open would re-fetch forgotten keys — a compliance leak)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(out, "_tombstones.parquet"),
      "not a parquet file".getBytes(StandardCharsets.UTF_8))
    val df = Seq(("k1", "v")).toDF("key", "text")
    val ex = intercept[Exception] {
      Sinks.dropTombstoned(df, out, "key").collect()
    }
    assert(!ex.isInstanceOf[java.io.FileNotFoundException])
    // and an absent log is still a clean no-op
    val clean = tmpDir("tombstone_none")
    new File(clean).mkdirs()
    assert(Sinks.dropTombstoned(df, clean, "key").count() === 1L)
  }

  test("compactParquet merges small files atomically and preserves every row") {
    val out = tmpDir("compact")
    val df = spark.range(0, 10000).selectExpr("id", "id * 2 AS v")
    df.repartition(40).write.mode("overwrite").parquet(out)
    val filesBefore = new File(out).listFiles.count(f =>
      f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    assert(filesBefore >= 30, s"setup must fragment: $filesBefore files")
    val (b, a) = Sinks.compactParquet(spark, out, targetFileBytes = 10L * 1024 * 1024)
    assert(b === filesBefore && a === 1, s"expected 40→1, got $b→$a")
    val back = spark.read.parquet(out)
    assert(back.count() === 10000L)
    assert(back.agg(sum("v")).as[Long].collect()(0) === (0L until 10000L).map(_ * 2).sum)
    assert(!new File(out + ".compact_tmp").exists && !new File(out + ".compact_old").exists,
      "no tmp/trash residue")
  }

  test("stats sink writes status histogram json") {
    val out = tmpDir("stats")
    val tagged = Seq(("success", null: String), ("success", null: String),
      ("failed_to_extract", "too few words")).toDF("status", "error_message")
    Sinks.stats(tagged, out)
    val back = spark.read.json(out)
    val m = back.collect().map(r => r.getAs[String]("status") -> r.getAs[Long]("count")).toMap
    assert(m == Map("success" -> 2L, "failed_to_extract" -> 1L))
  }

  test("orc sink round-trips through spark.read.orc") {
    val out = tmpDir("orc")
    Sinks.orc(sample, out)
    val back = spark.read.orc(out).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(back === sample.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet)
  }

  test("partitioned parquet: a partition-column filter prunes directories at plan time") {
    import org.apache.spark.sql.execution.FormattedMode
    val out = tmpDir("part")
    Sinks.partitionedParquet(sample, out, Seq("lang"))
    assert(new File(s"$out/lang=en").isDirectory && new File(s"$out/lang=de").isDirectory)
    val read = spark.read.parquet(out).filter(col("lang") === "en")
    val p = read.queryExecution.explainString(FormattedMode)
    assert(p.contains("PartitionFilters") && p.contains("lang"),
      "partition filter did not reach the scan:\n" + p.take(1200))
    assert(read.collect().map(_.getAs[String]("key")).toSeq === Seq("0000"))
  }
}

class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import graft.streaming.StreamingOps

  test("streaming tumbling window equals batch twin") {
    val staging = new File("target/tmp/stream_events").getAbsolutePath
    StreamingOps.stageEventsForStreaming(spark, TestSpark.sf0001, staging)
    val batch = StreamingOps.windowedAgg(Tables.events(spark, TestSpark.sf0001), "1 hour")
      .collect().map(_.toSeq).toSet
    val stream = StreamingOps.runToMemory(spark,
        StreamingOps.windowedAgg(StreamingOps.eventsStream(spark, staging), "1 hour"),
        "spec_stream_1h")
      .collect().map(_.toSeq).toSet
    assert(stream == batch, s"stream(${stream.size}) != batch(${batch.size})")
  }

  test("dedup within watermark drops replayed event_ids (batch twin)") {
    val ev = Tables.events(spark, TestSpark.sf0001)
    val doubled = ev.union(ev)
    assert(StreamingOps.dedupWithinWatermark(doubled).count() == ev.count())
  }

  test("streaming session windows equal batch twin") {
    val staging = new File("target/tmp/stream_events_sess").getAbsolutePath
    StreamingOps.stageEventsForStreaming(spark, TestSpark.sf0001, staging)
    val batch = StreamingOps.sessionAgg(Tables.events(spark, TestSpark.sf0001), "30 minutes")
      .collect().map(_.toSeq).toSet
    val stream = StreamingOps.runToMemory(spark,
        StreamingOps.sessionAgg(StreamingOps.eventsStream(spark, staging), "30 minutes"),
        "spec_stream_sess")
      .collect().map(_.toSeq).toSet
    assert(stream == batch, s"stream(${stream.size}) != batch(${batch.size})")
  }

  test("observeStream: per-micro-batch observed metrics sum to exact totals") {
    import org.apache.spark.sql.streaming.Trigger
    val staging = new File("target/tmp/stream_observe").getAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(new File(staging))
    val ev = Tables.events(spark, TestSpark.sf0001)
    ev.write.mode("overwrite").parquet(staging)
    val tagged = StreamingOps.eventsStream(spark, staging)
      .withColumn("status",
        when(col("value") >= 0.5, "success").otherwise("failed_to_download"))
    val q = graft.operators.Metrics.observeStream(tagged)
      .writeStream.format("memory").queryName("spec_observe")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val totals = q.recentProgress.flatMap(p =>
        Option(p.observedMetrics.get("graft_stats")))
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val expected = ev.count()
    val expectedSucc = ev.filter(col("value") >= 0.5).count()
    assert(totals.map(_._1).sum === expected,
      s"observed counts must sum to $expected: $totals")
    assert(totals.map(_._2).sum === expectedSucc)
    assert(spark.table("spec_observe").count() === expected)
  }

  test("streaming dedupWithinWatermark suppresses duplicate event_ids") {
    // stage the events twice -> the stream replays every event_id twice
    val staging = new File("target/tmp/stream_events_dup").getAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(new File(staging))
    val ev = Tables.events(spark, TestSpark.sf0001)
    ev.write.mode("append").parquet(staging)
    ev.write.mode("append").parquet(staging)
    val stream = StreamingOps.dedupWithinWatermark(
        StreamingOps.eventsStream(spark, staging))
      .groupBy().count()
    val got = StreamingOps.runToMemory(spark, stream, "spec_stream_dedup")
      .collect()(0).getLong(0)
    assert(got == ev.count(), s"expected ${ev.count()} unique events, got $got")
  }
}

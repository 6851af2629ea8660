package pipebench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.PipelineConfig
import graft.sources.{AutoPdfDecoder, PageDecoder}

/** Pipeline benchmark entry point.
  *
  *   Bench --workload <ingest_pdf|ingest_shards|curate_dedup> --seed <n>
  *         --seconds <s> --trace <0|1> --work <scratch dir> [--spans <file>]
  *
  * Prints one JSON summary as its last stdout line. With `--trace 0` it
  * carries the end-to-end metrics, with `--trace 1` the per-layer ones.
  */
object Bench {

  /** A workload: what it stages, the job one pass runs, how a pass's
    * output is checked, and the layer replay of the traced run. */
  trait Workload {
    def docs: Int
    def stage(spark: SparkSession): Unit
    def readable(spark: SparkSession): Long
    /** One run of the job; `warmup` runs it on a quarter of the corpus. */
    def pass(spark: SparkSession, decoder: PageDecoder, out: String, warmup: Boolean): Unit
    def check(spark: SparkSession, out: String): Outcome
    /** Bytes the job reads: staged payloads or staged page text. */
    def inputBytes: Long
    def replay(spark: SparkSession, tr: Tracer, lis: EngineListener, dir: String): Map[String, Double]
  }

  /** The default CLI configuration, as `graft.Main` builds it from flags. */
  def cliConfig(flags: (String, String)*): PipelineConfig = graft.Main.buildConfig(flags.toMap)

  final class Ingest(data: IngestData, cfg: PipelineConfig, probe: IndexedSeq[Corpus.Doc]) extends Workload {
    def docs: Int = data.docs.size
    def stage(spark: SparkSession): Unit = data.stage()
    def readable(spark: SparkSession): Long = data.readable(spark)
    def pass(spark: SparkSession, decoder: PageDecoder, out: String, warmup: Boolean): Unit =
      data.run(spark, cfg, decoder, out, warmup)
    def check(spark: SparkSession, out: String): Outcome = data.check(spark, cfg, out)
    def inputBytes: Long = data.payloadBytes
    def replay(spark: SparkSession, tr: Tracer, lis: EngineListener, dir: String): Map[String, Double] = {
      val (layers, text) = data.replay(spark, cfg, AutoPdfDecoder(), tr, lis, dir)
      layers ++ CurateData.replay(spark, text, tr, lis) ++ decodeRoutes(data.docs, probe, tr)
    }
  }

  final class Curate(data: CurateData, side: IngestData, probe: IndexedSeq[Corpus.Doc]) extends Workload {
    def docs: Int = data.docs
    def stage(spark: SparkSession): Unit = data.stage(spark)
    def readable(spark: SparkSession): Long = data.readable(spark)
    def pass(spark: SparkSession, decoder: PageDecoder, out: String, warmup: Boolean): Unit =
      data.run(spark, out, warmup)
    def check(spark: SparkSession, out: String): Outcome = data.check(spark, out)
    def inputBytes: Long = dirBytes(data.path)
    // the job decodes nothing: the document layers are timed on a side
    // corpus (the decoder-route probe), the dedup layers on the job's input
    def replay(spark: SparkSession, tr: Tracer, lis: EngineListener, dir: String): Map[String, Double] = {
      side.stage()
      val (layers, _) = side.replay(spark, cliConfig(), AutoPdfDecoder(), tr, lis, dir)
      layers ++ CurateData.replay(spark, spark.read.parquet(data.path), tr, lis) ++
        decodeRoutes(IndexedSeq.empty, probe, tr)
    }
  }

  def workload(name: String, seed: Long, dir: String): Workload = {
    lazy val probe = Corpus.routeProbe(seed)
    name match {
      case "ingest_pdf" =>
        new Ingest(new IngestData(Corpus.ingestPdf(seed, 300), s"$dir/stage"), cliConfig(), probe)
      case "ingest_shards" =>
        new Ingest(new IngestData(Corpus.ingestShards(seed, 300), s"$dir/stage"),
          cliConfig("output_format" -> "webdataset", "number_sample_per_shard" -> "8"), probe)
      case "curate_dedup" =>
        new Curate(new CurateData(Corpus.curation(seed, 1500, 200, 250), s"$dir/stage"),
          new IngestData(probe.filter(_.url.nonEmpty), s"$dir/side"), probe)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
  }

  /** `sources.decode.*`: each route's decoder called directly on staged
    * payloads, one thread, after one untimed warm-up call per document.
    * Routes the workload's corpus lacks are timed on the probe corpus. */
  def decodeRoutes(docs: IndexedSeq[Corpus.Doc], probe: IndexedSeq[Corpus.Doc],
                   tr: Tracer): Map[String, Double] = {
    val dec = AutoPdfDecoder()
    val present = docs.map(_.route).toSet
    val sample = (docs ++ probe.filterNot(d => present.contains(d.route)))
      .groupBy(_.route).map { case (r, ds) => r -> ds.take(60) }
    sample.values.flatten.foreach(d => dec.decode(d.bytes))
    var bytes, ns = 0L
    val perRoute = tr.span("sources.decode") {
      Corpus.Routes.map { r =>
        val ds = sample.getOrElse(r, IndexedSeq.empty)
        val t0 = System.nanoTime()
        ds.foreach(d => dec.decode(d.bytes))
        val dt = System.nanoTime() - t0
        bytes += ds.map(_.bytes.length.toLong).sum; ns += dt
        s"sources.decode.$r.ms_per_doc" -> dt / 1e6 / math.max(1, ds.size)
      }
    }._1
    perRoute.toMap + ("sources.decode.mb_per_s" -> bytes / 1e6 / (ns / 1e9))
  }

  // ----------------------------------------------------------- helpers

  private def files(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }
  }

  /** Bytes of the data files under `dir` (checksum and marker files excluded). */
  def dirBytes(dir: String): Long = files(dir).filter(isData).map(Files.size).sum

  /** Number of data files under `dir`. */
  def dataFiles(dir: String): Int = files(dir).count(isData)

  private def isData(p: Path): Boolean = {
    val n = p.getFileName.toString
    !n.startsWith(".") && !n.startsWith("_")
  }

  private def delete(dir: String): Unit =
    files(dir).foreach(Files.delete)

  def session(dir: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    // graft.Main's session settings; master and scratch paths are local
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .getOrCreate()
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  /** Peak heap retained while `body` runs: the largest heap in use right
    * after any collection that ends during it. (Heap in use before a
    * collection only shows how far the collector lets the young
    * generation fill.) */
  private def peakHeap[T](body: => T): (T, Long) = {
    import com.sun.management.GarbageCollectionNotificationInfo
    import javax.management.{Notification, NotificationEmitter, NotificationListener}
    import javax.management.openmbean.CompositeData
    @volatile var peak = 0L
    val listener: NotificationListener = (n: Notification, _: AnyRef) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools.contains(pool) => u.getUsed }.sum
        if (used > peak) peak = used
      }
    val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.asInstanceOf[NotificationEmitter])
    emitters.foreach(_.addNotificationListener(listener, null, null))
    try {
      val out = body
      Thread.sleep(20) // notifications arrive on their own thread
      // no collection during `body`: the heap in use now is the best bound
      (out, if (peak > 0) peak else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
    } finally emitters.foreach(_.removeNotificationListener(listener))
  }

  /** Untimed passes over a quarter of the corpus before any pass is
    * measured: they warm the JVM at a quarter of the cost. */
  val WarmupPasses = 3

  final case class PassStats(no: Int, out: String, wallS: Double, cpuS: Double, peakBytes: Long)

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  // --------------------------------------------------------------- main

  def main(args: Array[String]): Unit = {
    val a = graft.Main.parseArgs(args)
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val dir = a("work")
    val processStart = ManagementFactory.getRuntimeMXBean.getStartTime

    // set-up 1 runs from process start; the corpus synthesis and staging
    // in between are the benchmark's own work and are left out
    var spark = session(dir)
    val firstReady = (System.currentTimeMillis() - processStart) / 1e3
    val synth0 = System.nanoTime()
    val wl = workload(name, seed, dir)
    wl.stage(spark)
    System.err.println(f"[pipebench] corpus: ${wl.docs}%d docs, ${wl.inputBytes / 1e6}%.1f MB, " +
      f"synthesized and staged in ${(System.nanoTime() - synth0) / 1e9}%.2f s")
    val setups = scala.collection.mutable.ArrayBuffer(firstReady + time(wl.readable(spark)))
    for (_ <- 1 to 2) {
      spark.stop()
      setups += time { spark = session(dir); wl.readable(spark) }
    }
    System.err.println(s"[pipebench] set-up: ${setups.map(s => f"$s%.3f").mkString(", ")} s")

    val lis = new EngineListener
    if (trace) spark.sparkContext.addSparkListener(lis)
    val tr = new Tracer(spark.sparkContext)
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    var attempted, failed = 0L
    var passNo = 0

    /** One pass of the job into a fresh output directory, then, unless it
      * is a warm-up pass, its check (outside the measured window). */
    def pass(decoder: PageDecoder, traced: Boolean, warmup: Boolean = false): PassStats = {
      passNo += 1
      val out = s"$dir/out/pass$passNo"
      System.gc()
      val cpu0 = os.getProcessCpuTime
      val t0 = System.nanoTime()
      val (_, peak) = peakHeap {
        if (traced) tr.span(s"e2e.$passNo")(wl.pass(spark, decoder, out, warmup))
        else wl.pass(spark, decoder, out, warmup)
      }
      val stats = PassStats(passNo, out, (System.nanoTime() - t0) / 1e9, (os.getProcessCpuTime - cpu0) / 1e9, peak)
      val c0 = System.nanoTime()
      val o = if (warmup) Outcome(0, 0, Vector.empty) else wl.check(spark, out)
      System.err.println(f"[pipebench] pass $passNo%d${if (traced) " traced" else ""}%s: " +
        f"${stats.wallS}%.3f s, cpu ${stats.cpuS}%.2f s, peak heap ${stats.peakBytes / 1e6}%.0f MB, " +
        f"check ${(System.nanoTime() - c0) / 1e9}%.2f s, failed ${o.failed}%d/${o.attempted}%d")
      attempted += o.attempted; failed += o.failed
      errors ++= o.errors.map(e => s"pass $passNo: $e")
      if (!traced) delete(out)
      stats
    }

    val decoder = AutoPdfDecoder()
    // warm JVM: a 100 TB job runs long past its first passes
    for (_ <- 1 to WarmupPasses) pass(decoder, traced = false, warmup = true)
    val metrics: Seq[(String, Double, String)] = if (!trace) {
      val timed = scala.collection.mutable.ArrayBuffer.empty[PassStats]
      while (timed.size < 3 || timed.map(_.wallS).sum < seconds) timed += pass(decoder, traced = false)
      val kdocs = wl.docs / 1000.0
      Seq(
        ("docs_per_s", median(timed.map(p => wl.docs / p.wallS).toSeq), "docs/s"),
        ("cpu_s_per_kdoc", median(timed.map(_.cpuS / kdocs).toSeq), "s"),
        ("peak_mem_mb", median(timed.map(_.peakBytes / 1e6).toSeq), "MB"),
        ("setup_s", median(setups.toSeq), "s"))
    } else traced(spark, wl, tr, lis, seconds, dir, pass(_, _))

    if (a.contains("spans")) Files.write(Paths.get(a("spans")), tr.toJson.getBytes("UTF-8"))
    errors.take(20).foreach(e => System.err.println(s"[pipebench] check failed: $e"))
    spark.stop()
    println(summary(errors.isEmpty, attempted, failed, metrics))
  }

  private def time(body: => Any): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  /** The traced run: untraced and traced passes alternate (the difference
    * of their medians is the tracing overhead), then every layer is
    * replayed on its own inside a span. */
  private def traced(spark: SparkSession, wl: Workload, tr: Tracer, lis: EngineListener,
                     seconds: Double, dir: String,
                     pass: (PageDecoder, Boolean) => PassStats): Seq[(String, Double, String)] = {
    val calls = spark.sparkContext.longAccumulator("decode_calls")
    val counting = CountingDecoder(AutoPdfDecoder(), calls)
    val plain, withTrace = scala.collection.mutable.ArrayBuffer.empty[PassStats]
    // ABBA order, so a JVM still warming up favours neither side
    while (withTrace.size < 2 || (plain ++ withTrace).map(_.wallS).sum < seconds) {
      def traced(): Unit = { calls.reset(); withTrace += pass(counting, true) }
      if (withTrace.size % 2 == 0) { plain += pass(AutoPdfDecoder(), false); traced() }
      else { traced(); plain += pass(AutoPdfDecoder(), false) }
    }
    val last = withTrace.last
    val callsPerDoc = calls.value.toDouble / wl.docs
    org.apache.spark.PipebenchBridge.drain(spark.sparkContext)
    // engine counters of the last traced pass
    val lastGroup = s"e2e.${last.no}"
    val ts = lis.tasksOf(_ == lastGroup)
    val durations = ts.map(_.durationMs.toDouble).sorted
    val engine = Map(
      "pipeline.decode_calls_per_doc" -> callsPerDoc,
      "pipeline.jobs" -> lis.jobCount(_ == lastGroup).toDouble,
      "pipeline.tasks" -> ts.size.toDouble,
      "pipeline.trace_overhead_s" -> (median(withTrace.map(_.wallS).toSeq) - median(plain.map(_.wallS).toSeq)),
      "sinks.out_bytes_per_in_byte" -> dirBytes(last.out) / wl.inputBytes.toDouble,
      "engine.shuffle_write_mb" -> ts.map(_.shuffleWrite).sum / 1e6,
      "engine.spill_mb" -> ts.map(_.spillDisk).sum / 1e6,
      "engine.gc_s" -> ts.map(_.gcMs).sum / 1e3,
      "engine.executor_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "engine.task_time_max_over_median" ->
        (if (durations.isEmpty) 0.0 else durations.last / math.max(1.0, median(durations))))
    val layers = wl.replay(spark, tr, lis, s"$dir/replay")
    (engine ++ layers).toSeq.sortBy(_._1).map { case (k, v) => (k, v, unit(k)) }
  }

  private val ratios = Set("verified_per_candidate", "out_bytes_per_in_byte", "task_time_max_over_median")

  def unit(metric: String): String = {
    val last = metric.split('.').last
    if (last == "s" || (last.endsWith("_s") && !last.endsWith("per_s"))) "s"
    else if (last == "ms_per_doc") "ms"
    else if (last == "mb_per_s") "MB/s"
    else if (last == "pages_per_s") "pages/s"
    else if (last.endsWith("_mb")) "MB"
    else if (last == "decode_calls_per_doc") "calls/doc"
    else if (ratios.contains(last)) "ratio"
    else "count"
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  def summary(correct: Boolean, attempted: Long, failed: Long,
              metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}

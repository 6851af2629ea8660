package graft

/** Driver-run benchmark: every SparkEntry query on SPARK_GRAFT_SF_DIR.
  * Emits best-so-far per-query JSON lines after every round (and rewrites
  * BENCH_full.json incrementally, so a killed run keeps its finished
  * rounds), then the final per-query lines, the full summary line
  * (28 KB — untruncated copy in BENCH_full.json), and LAST a compact
  * summary line (~200 bytes: total, rounds, calibration, n) that survives
  * a ~4 KB stdout tail capture intact; a full run also writes it to
  * BENCH_summary.json. build.sbt forks `run` with its stdout passed
  * through unprefixed and no `[success]` trailer, so that line is the
  * last one on stdout.
  * Each query is forced through a noop sink —
  * `count()` would let Catalyst prune projections (a regex-heavy query
  * would "finish" without evaluating the regex), under-measuring real
  * work. noop executes the full physical plan minus sink IO.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus
    val spark = GraftSession.local(cpus)
    // warmup: pay parquet-footer + codegen + JIT init outside the timings
    try spark.read.parquet(s"$sfDir/lineitem.parquet")
      .limit(1000).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    // stage the streaming replay input outside the timings too: q39
    // measures the streaming query, not the one-time test-harness copy
    // of the batch table into a stream-readable directory
    try graft.streaming.StreamingOps.stageEventsForStreaming(
      spark, sfDir, graft.streaming.StreamingOps.defaultStagingDir(spark, sfDir))
    catch { case _: Throwable => () }
    // min over three INTERLEAVED rounds: this box shows sporadic multi-
    // second stalls (external load) that can span back-to-back runs of one
    // query — r03 recorded 13 s for two queries that steady-state at ~1 s.
    // Interleaving puts minutes between a query's samples, so one stall
    // can only poison one of its three timings; the min is steady-state.
    // CPU calibration: a fixed deterministic spin (SplitMix-style LCG),
    // single-threaded and all-threads, timed on THIS run — the box's
    // throughput varies by epoch (r9: builder-run 115.6 s vs driver-run
    // 170.6 s on identical code, broad and uniform), so every bench
    // artifact carries its own speed measurement and totals can be
    // normalized across runs instead of guessed at (SCALE.md §bench).
    def spin(iters: Long): Long = {
      var x = 0x9E3779B97F4A7C15L; var i = 0L
      while (i < iters) { x = x * 6364136223846793005L + 1442695040888963407L; x ^= x >>> 33; i += 1 }
      x
    }
    def timeSec(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    spin(50000000L) // JIT warmup
    val cal1 = timeSec(spin(500000000L))
    val calN = timeSec {
      val ts = (1 to cpus.toInt).map(_ => new Thread(new Runnable {
        def run(): Unit = spin(500000000L)
      }))
      ts.foreach(_.start()); ts.foreach(_.join())
    }
    System.err.println(f"[bench] cal_1t=$cal1%.2fs cal_${cpus}t=$calN%.2fs")
    // --- per-query telemetry (round-14): GC-time delta, peak heap and
    // task retries per timing window, recorded into the artifact so a
    // driver-box outlier (q17 r12, q180/q183/q361 r13 — all untouched
    // code) is attributable to GC/contention instead of costing a
    // round of plan re-audits. Peak heap uses the pool peak-usage
    // counters (reset per query); retries, shuffle and spill volume
    // come from TaskCounters.
    import java.lang.management.{ManagementFactory, MemoryType}
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans
    def gcMs(): Long = {
      var s = 0L
      gcBeans.forEach(b => s += math.max(0L, b.getCollectionTime))
      s
    }
    val poolBeans = ManagementFactory.getMemoryPoolMXBeans
    def resetPeaks(): Unit =
      poolBeans.forEach(p => if (p.getType == MemoryType.HEAP) p.resetPeakUsage())
    def peakHeapMb(): Long = {
      var s = 0L
      poolBeans.forEach(p => if (p.getType == MemoryType.HEAP) s += p.getPeakUsage.getUsed)
      s >> 20
    }
    val counters = TaskCounters.attach(spark)

    // SPARK_GRAFT_ONLY=q52,q84 runs just the matching queries
    val names = SparkEntry.selected.sortBy(_._1)
    val best = scala.collection.mutable.Map.empty[String, Double]
    // per query: gc ms, peak heap MB and task counters of the BEST round
    // (steady-state footprint), worst-round sec + gc ms (the
    // outlier-explainer), and total task retries across all rounds
    final case class Tele(var bestGcMs: Long = 0, var bestPeakMb: Long = 0,
                          var worstSec: Double = 0.0, var worstGcMs: Long = 0,
                          var retries: Long = 0,
                          var counts: Map[String, Long] = TaskCounters.Names.map(_ -> 0L).toMap)
    val tele = scala.collection.mutable.Map.empty[String, Tele]
    val roundTotals = scala.collection.mutable.ArrayBuffer.empty[Double]
    def fmt(d: Double): String = f"$d%.3f"
    def qid(n: String): Int =
      n.drop(1).takeWhile(_.isDigit) match { case "" => Int.MaxValue; case s => s.toInt }
    // r20 (VERDICT r19 Next #1b): the driver's kill budget can expire
    // mid-suite (r19: rc=124 after round 1 of 3 under external box load),
    // which previously left ZERO per-query data. Rewrite BENCH_full.json
    // after every round — an interrupted run still carries the complete
    // rounds finished so far — and keep the final write identical in
    // shape so compare_bench.py needs no change. A SPARK_GRAFT_ONLY run
    // covers a subset, so it leaves the full-suite files alone. Both
    // files land in the working directory: the project root under
    // `sbt run`.
    def writeArtifact(file: String, line: String): Unit =
      if (SparkEntry.only.isEmpty) try java.nio.file.Files.write(
        java.nio.file.Paths.get(file), (line + "\n").getBytes("UTF-8"))
      catch { case _: Throwable => () }
    def writeFull(soloSec: scala.collection.Map[String, Double]): String = {
      val byId = names.map { case (n, _) => n -> best(n) }
        .sortBy { case (n, _) => (qid(n), n) }
      val qs = byId.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
      val ts = byId.map { case (k, _) =>
        val t = tele.getOrElse(k, Tele())
        val solo = soloSec.get(k).map(fmt).getOrElse("-1")
        val io = TaskCounters.Names.init.map(t.counts).mkString(",")
        "\"" + k + s"""":[${t.bestGcMs},${t.bestPeakMb},${t.retries},${fmt(t.worstSec)},${t.worstGcMs},$solo,$io]"""
      }.mkString("{", ",", "}")
      val total = byId.map(_._2).sum
      val rounds = roundTotals.map(fmt).mkString("[", ",", "]")
      val line =
        s"""{"sf":"$sfDir","unit":"sec","cal_1t":${fmt(cal1)},"cal_nt":${fmt(calN)},""" +
          s""""rounds":$rounds,"telemetry":$ts,"queries":$qs,"metric":"total","value":${fmt(total)}}"""
      writeArtifact("BENCH_full.json", line)
      line
    }
    for (round <- 1 to 3) {
      val r0 = System.nanoTime()
      for ((name, fn) <- names) {
        resetPeaks()
        val g0 = gcMs(); val c0 = counters.totals()
        val t0 = System.nanoTime()
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
        }
        val sec = (System.nanoTime() - t0) / 1e9
        val dGc = gcMs() - g0
        val dc = counters.since(c0)
        val t = tele.getOrElseUpdate(name, Tele())
        t.retries += dc("retries")
        if (sec < best.getOrElse(name, Double.MaxValue)) {
          t.bestGcMs = dGc; t.bestPeakMb = peakHeapMb(); t.counts = dc
        }
        if (sec > t.worstSec) { t.worstSec = sec; t.worstGcMs = dGc }
        best(name) = math.min(best.getOrElse(name, Double.MaxValue), sec)
        // release the LRU of scoped caches OUTSIDE the timing window:
        // leftover persisted frames from earlier queries otherwise
        // squat on storage memory and inflate later heavy queries
        // (q235 measured 1.3 s solo vs 5.7 s in-suite before this) —
        // and a solo run, the comparable baseline, starts cold anyway
        graft.operators.Dedup.unpersistAll()
      }
      roundTotals += (System.nanoTime() - r0) / 1e9
      // r20 (VERDICT r19 Next #1b/#1c): stream best-so-far per-query lines
      // as each round completes (tagged with the round so the final
      // untagged block stays the canonical record), rewrite BENCH_full
      // incrementally, and timestamp each round on stderr so an rc=124
      // run shows WHERE the wall-clock went (contention vs a stall).
      for ((n, v) <- names.map { case (nm, _) => nm -> best(nm) }
             .sortBy { case (nm, _) => (qid(nm), nm) })
        println(s"""{"round":$round,"query":"$n","sec":${fmt(v)}}""")
      writeFull(Map.empty)
      System.err.println(s"[bench] round $round done at ${java.time.Instant.now} " +
        f"(${roundTotals.last}%.1f s)")
      // Shuffle files and localCheckpoint blocks are reclaimed by the
      // ContextCleaner only when their references are GC'd — on a
      // large-heap driver a whole 222-query round can finish without a
      // single full GC, so files from EVERY query of EVERY round pile
      // up in the shuffle dirs (the r9 driver run degraded ~1.7× vs
      // the builder run on the same code; per-round totals above make
      // the drift measurable). One explicit GC per round bounds the
      // accumulation at one round's worth, outside any per-query
      // timing window.
      System.gc()
      Thread.sleep(200) // let the async cleaner issue its deletes
    }
    System.err.println(roundTotals.zipWithIndex
      .map { case (t, i) => s"round${i + 1}=${f"$t%.1f"}s" }.mkString("[bench] ", " ", ""))
    // --- solo-warm sampling (round-15): the residual in-suite inflation
    // on codegen-heavy queries is JIT/code-cache re-profiling churn
    // across 369 distinct call sites, not plan cost (q361 r14: 2.48 s
    // in-suite vs 1.44 s solo-warm, measured manually). Re-run the
    // top-K most expensive queries back-to-back at the end — two
    // consecutive runs, keep the min: the first re-JITs the query's own
    // stages, the second times the steady state a solo session sees.
    // The artifact then carries plan-cost truth (solo_sec) beside
    // in-suite truth (sec) without a manual session.
    val soloK = 10
    val soloSec = scala.collection.mutable.Map.empty[String, Double]
    for ((name, fn) <- names.sortBy { case (n, _) => -best.getOrElse(n, 0.0) }
           .take(soloK)) {
      var m = Double.MaxValue
      for (_ <- 1 to 2) {
        val t0 = System.nanoTime()
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          System.err.println(s"[bench] solo $name failed: ${e.getMessage}")
        }
        m = math.min(m, (System.nanoTime() - t0) / 1e9)
        graft.operators.Dedup.unpersistAll()
      }
      soloSec(name) = m
      System.err.println(f"[bench] solo $name: $m%.3fs (in-suite ${best(name)}%.3fs)")
    }
    // code-cache occupancy at end of run (the q361 eviction diagnosis):
    // peak == reserved means C2 eviction churn is live at this size
    poolBeans.forEach { p =>
      if (p.getName.startsWith("CodeHeap"))
        System.err.println(s"[bench] ${p.getName}: peak=${p.getPeakUsage.getUsed >> 20}MB" +
          s" max=${p.getPeakUsage.getMax >> 20}MB")
    }
    val results = names.map { case (name, _) => name -> best(name) }
    // Per-query lines (numeric-id order), then the full summary JSON line
    // (unchanged shape — the round-for-round comparable record, also
    // written untruncated to BENCH_full.json), then — LAST, r20 per
    // VERDICT r19 Next #1a — a COMPACT summary line with no per-query map
    // and no telemetry, small enough to survive the driver's ~4 KB stdout
    // tail capture intact. Two rounds of rc=0 runs parsed to null because
    // the 28 KB full line's head (`{"sf":...`) fell off the tail; the
    // compact line is the measurement-contract fix (old full line kept,
    // additions only — OPTIMIZATION_r20.md §bench-contract).
    val byId = results.sortBy { case (n, _) => (qid(n), n) }
    for ((n, v) <- byId) {
      val t = tele.getOrElse(n, Tele())
      val solo = soloSec.get(n).map(s => s""","solo_sec":${fmt(s)}""").getOrElse("")
      val io = TaskCounters.json(t.counts - "retries")
      println(s"""{"query":"$n","sec":${fmt(v)},"gc_ms":${t.bestGcMs},""" +
        s""""peak_mb":${t.bestPeakMb},"retries":${t.retries},""" +
        s""""worst_sec":${fmt(t.worstSec)},"worst_gc_ms":${t.worstGcMs},$io$solo}""")
    }
    val line = writeFull(soloSec)
    println(line)
    val total = results.map(_._2).sum
    val rounds = roundTotals.map(fmt).mkString("[", ",", "]")
    val summary =
      s"""{"sf":"$sfDir","cpus":$cpus,"unit":"sec","cal_1t":${fmt(cal1)},""" +
        s""""cal_nt":${fmt(calN)},"rounds":$rounds,"n":${results.size},""" +
        s""""metric":"total","value":${fmt(total)}}"""
    writeArtifact("BENCH_summary.json", summary)
    println(summary)
    spark.stop()
  }
}

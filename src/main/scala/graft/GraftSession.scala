package graft

import org.apache.spark.sql.SparkSession

/** The one local session the harness mains (Bench, Verify, PlanDump,
  * ProbePlans, ScaleProbe, BandScale) and the test suite run on, so the
  * plans a test gates, PLANS.md documents and Bench times come from the
  * same settings. `graft.Main` keeps its own builder: it is the
  * spark-submit entry point and takes its master from there. */
object GraftSession {

  /** Cores for a harness session: `SPARK_GRAFT_CPUS`, else this
    * machine's core count. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A `local[cpus]` session with one shuffle partition per core. */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // static Guava cache of compiled generated classes, default 100
      // entries — 361 queries × ~5 codegen stages evict every entry
      // between a query's interleaved visits, so heavy codegen queries
      // re-Janino + re-JIT on EVERY round and time interpreted-cold
      // (q235: 5.6 s in-suite vs 1.3 s solo). Sized to hold the suite.
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      // r19: let AQE re-optimize (coalesce/skew-split) the shuffle
      // partitioning of plans that build or read persisted frames —
      // default false only for partitioning-compat, and every cached
      // frame in this repo feeds order-free aggregations (decimal sums,
      // min/max-struct, sorted collect_set), so results are unchanged
      // (full oracle sweep re-proven under the conf). Measured on the
      // cache-heavy batch (q157/q177/q180/q203/q206/q228/q253/q312/
      // q314/q337): 22.0–22.5 s WITH vs 24.9–43.7 s control, with the
      // wins concentrated exactly on cacheScoped consumers
      // (OPTIMIZATION_r19.md §configs). Scale-independent: AQE
      // coalescing on cached intermediates is equally right at 100 TB.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

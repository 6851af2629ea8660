package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Observation, Row}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** Pipeline observability (ref `logger.py` SpeedLogger / StatusTableLogger
  * / per-shard stats JSON, SURVEY §2.6) — re-expressed as `df.observe`
  * named metrics: zero extra passes, counters ride the existing action,
  * no sidecar polling process.
  */
object Metrics {

  /** One bucket of the status histogram: how many rows carried this
    * (status, error_message) pair. */
  final case class StatusCount(status: String, error_message: String, count: Long)

  /** Distinct (status, error_message) pairs a histogram holds before it
    * halves to its most frequent half — the reference's `CappedCounter`
    * rule (`logger.py:13-43`). The reference caps at 1e5; here every
    * task ships its buffer to the driver inside an observation, so the
    * cap stays small. Counts are exact while a run has at most this many
    * distinct pairs. */
  val HistogramCap = 1000

  /** Capped per-(status, error_message) counter as a typed aggregate:
    * partial buffers per task, merged on the driver (observations) or in
    * one final task (`df.agg`). Output is sorted by count descending,
    * then status and message, so equal inputs give equal outputs. */
  private object StatusHistogram
      extends Aggregator[(String, String), mutable.HashMap[(String, String), Long], Seq[StatusCount]] {
    type Buf = mutable.HashMap[(String, String), Long]
    private val order: Ordering[((String, String), Long)] =
      Ordering.by { case ((s, m), n) => (-n, Option(s), Option(m)) }

    private def capped(b: Buf): Buf =
      if (b.size <= HistogramCap) b
      else mutable.HashMap.from(b.toSeq.sorted(order).take(HistogramCap / 2))

    def zero: Buf = mutable.HashMap.empty
    def reduce(b: Buf, in: (String, String)): Buf = {
      b.update(in, b.getOrElse(in, 0L) + 1L)
      capped(b)
    }
    def merge(a: Buf, b: Buf): Buf = {
      b.foreach { case (k, n) => a.update(k, a.getOrElse(k, 0L) + n) }
      capped(a)
    }
    def finish(b: Buf): Seq[StatusCount] =
      b.toSeq.sorted(order).map { case ((s, m), n) => StatusCount(s, m, n) }
    def bufferEncoder: Encoder[Buf] = Encoders.kryo[Buf]
    def outputEncoder: Encoder[Seq[StatusCount]] = ExpressionEncoder[Seq[StatusCount]]()
  }

  /** The status histogram of a frame's rows, as one
    * `array<struct<status, error_message, count>>` aggregate column. A
    * frame without `error_message` counts every row under a null reason. */
  def histogram(df: DataFrame): Column = {
    val agg = udaf(StatusHistogram, Encoders.tuple(Encoders.STRING, Encoders.STRING))
    val reason =
      if (df.columns.contains("error_message")) col("error_message") else lit(null).cast(StringType)
    agg(col("status"), reason)
  }

  private def counters: Seq[Column] = Seq(
    count(lit(1)).as("count"),
    sum(when(col("status") === "success", 1L).otherwise(0L)).as("successes"),
    sum(when(col("status") === "failed_to_download", 1L).otherwise(0L)).as("failed_to_download"),
    sum(when(col("status") === "failed_to_extract", 1L).otherwise(0L)).as("failed_to_extract"))

  /** Attach the reference's per-run counters and the capped status
    * histogram to a status-tagged frame. After any action on the
    * returned frame, `summary(obs, wallSec)` yields docs/sec + ratios
    * (ref `logger.py:113-117`) and [[statusCounts]] the histogram. Attach
    * it BEFORE any success filter, or failures are never counted. */
  def observed(df: DataFrame, name: String = "graft_stats"): (DataFrame, Observation) = {
    val obs = Observation(name)
    (df.observe(obs, counters.head, (counters.tail :+ histogram(df).as("histogram")): _*), obs)
  }

  /** Streaming twin of [[observed]]: the SAME counters attached to a
    * streaming frame. `Observation` is batch-only — on a stream the
    * metrics arrive per micro-batch in
    * `StreamingQueryProgress.observedMetrics(name)`, so a monitor sums
    * them across progress events (each row is observed in exactly one
    * micro-batch; the totals are exact, not sampled). */
  def observeStream(df: DataFrame, name: String = "graft_stats"): DataFrame =
    df.observe(name, counters.head, counters.tail: _*)

  /** ref `logger.py:162-184` stats dict: counts, ratios, duration, rate. */
  def summary(obs: Observation, wallSec: Double): Map[String, Double] = {
    val row = obs.get
    val n = row.getOrElse("count", 0L).asInstanceOf[Long].toDouble
    def g(k: String) = row.getOrElse(k, 0L).asInstanceOf[Long].toDouble
    Map(
      "count" -> n,
      "successes" -> g("successes"),
      "failed_to_download" -> g("failed_to_download"),
      "failed_to_extract" -> g("failed_to_extract"),
      "duration" -> wallSec,
      "docs_per_sec" -> (if (wallSec > 0) n / wallSec else 0.0),
      "success_ratio" -> (if (n > 0) g("successes") / n else 0.0))
  }

  /** The histogram an [[observed]] frame's action recorded; blocks until
    * that action has finished. */
  def statusCounts(obs: Observation): Seq[StatusCount] =
    obs.get.getOrElse("histogram", Seq.empty).asInstanceOf[Seq[Row]]
      .map(r => StatusCount(r.getString(0), r.getString(1), r.getLong(2)))

  /** Capped status histogram (ref `CappedCounter`, `logger.py:13-43`) as
    * rows (status, error_message, count), most frequent first, at most
    * `k` of them — the same aggregate the pipeline's observation runs. */
  def statusHistogram(df: DataFrame, k: Int = 100): DataFrame =
    df.agg(histogram(df).as("h")).select(inline(slice(col("h"), 1, k)))
}

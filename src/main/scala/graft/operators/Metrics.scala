package graft.operators

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.GraftBridge.{toColumn => column, toExpression => expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.TernaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

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

  /** The run's counters and capped status histogram of a frame's rows,
    * as one `struct<count, successes, failed_to_download,
    * failed_to_extract, docs, histogram>` aggregate column
    * ([[RunStats]]). `count` is rows (one per page, one per failed
    * document); `docs` is documents: rows of page 0 or of no page (a
    * failed or page-less document), or every row of a frame without
    * `page_no`. `histogram` is `array<struct<status, error_message,
    * count>>`, most frequent first; a frame without `error_message`
    * counts every row under a null reason. */
  def runStats(df: DataFrame): Column = {
    def orNull(c: String, t: DataType) =
      expression(if (df.columns.contains(c)) col(c).cast(t) else lit(null).cast(t))
    column(RunStats(expression(col("status")), orNull("error_message", StringType),
      orNull("page_no", LongType)).toAggregateExpression())
  }

  /** The status histogram of a frame's rows ([[runStats]]'s `histogram`). */
  def histogram(df: DataFrame): Column = runStats(df).getField("histogram")

  /** [[runStats]]'s counters as separate sums, for [[observeStream]]:
    * positional readers of streaming progress rows index them, so
    * `docs` comes last. */
  private def counters(df: DataFrame): Seq[Column] = Seq(
    count(lit(1)).as("count"),
    sum(when(col("status") === "success", 1L).otherwise(0L)).as("successes"),
    sum(when(col("status") === "failed_to_download", 1L).otherwise(0L)).as("failed_to_download"),
    sum(when(col("status") === "failed_to_extract", 1L).otherwise(0L)).as("failed_to_extract"),
    (if (df.columns.contains("page_no"))
      sum(when(col("page_no").isNull || col("page_no") === 0, 1L).otherwise(0L))
    else count(lit(1))).as("docs"))

  /** Attach the reference's per-run counters and the capped status
    * histogram ([[runStats]], one aggregate) to a status-tagged frame.
    * After any action on the returned frame, `summary(obs, wallSec)`
    * yields docs/sec + ratios (ref `logger.py:113-117`) and
    * [[statusCounts]] the histogram. Attach it BEFORE any success
    * filter, or failures are never counted. */
  def observed(df: DataFrame, name: String = "graft_stats"): (DataFrame, Observation) = {
    val obs = Observation(name)
    (df.observe(obs, runStats(df).as("stats")), obs)
  }

  /** Streaming twin of [[observed]]: the SAME counters attached to a
    * streaming frame. `Observation` is batch-only — on a stream the
    * metrics arrive per micro-batch in
    * `StreamingQueryProgress.observedMetrics(name)`, so a monitor sums
    * them across progress events (each row is observed in exactly one
    * micro-batch; the totals are exact, not sampled). */
  def observeStream(df: DataFrame, name: String = "graft_stats"): DataFrame = {
    val cs = counters(df)
    df.observe(name, cs.head, cs.tail: _*)
  }

  private def stats(obs: Observation): Row = obs.get("stats").asInstanceOf[Row]

  /** ref `logger.py:162-184` stats dict: counts, ratios, duration, rate.
    * `docs_per_sec` is documents per second; `count` stays rows. */
  def summary(obs: Observation, wallSec: Double): Map[String, Double] = {
    val row = stats(obs)
    def g(k: String) = row.getAs[Long](k).toDouble
    val n = g("count")
    Map(
      "count" -> n,
      "docs" -> g("docs"),
      "successes" -> g("successes"),
      "failed_to_download" -> g("failed_to_download"),
      "failed_to_extract" -> g("failed_to_extract"),
      "duration" -> wallSec,
      "docs_per_sec" -> (if (wallSec > 0) g("docs") / wallSec else 0.0),
      "success_ratio" -> (if (n > 0) g("successes") / n else 0.0))
  }

  /** The histogram an [[observed]] frame's action recorded; blocks until
    * that action has finished. */
  def statusCounts(obs: Observation): Seq[StatusCount] =
    stats(obs).getAs[Seq[Row]]("histogram")
      .map(r => StatusCount(r.getString(0), r.getString(1), r.getLong(2)))

  /** Capped status histogram (ref `CappedCounter`, `logger.py:13-43`) as
    * rows (status, error_message, count), most frequent first, at most
    * `k` of them — the same aggregate the pipeline's observation runs. */
  def statusHistogram(df: DataFrame, k: Int = 100): DataFrame =
    df.agg(histogram(df).as("h")).select(inline(slice(col("h"), 1, k)))
}

/** [[Metrics.runStats]] as a native Catalyst aggregate. An observation
  * pays its aggregate's set-up in every task: a typed `Aggregator`
  * generates encoder projections and Kryo-encodes its buffer per task,
  * and each declarative counter adds to a projection generated per task.
  * Here one plain buffer holds the counters and the histogram and writes
  * itself to bytes, so a task generates no code for it. `pageNo` is a
  * long, null when the frame has no pages. */
private[operators] case class RunStats(
    status: Expression, reason: Expression, pageNo: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[RunStats.Buf] with TernaryLike[Expression] {
  import RunStats._

  override def first: Expression = status
  override def second: Expression = reason
  override def third: Expression = pageNo
  override def nullable: Boolean = false
  override def dataType: DataType = RunStats.dataType
  override def prettyName: String = "run_stats"

  override def createAggregationBuffer(): Buf = new Buf
  override def update(b: Buf, input: InternalRow): Buf = {
    val s = string(status.eval(input))
    b.counts(0) += 1
    s match {
      case "success"            => b.counts(1) += 1
      case "failed_to_download" => b.counts(2) += 1
      case "failed_to_extract"  => b.counts(3) += 1
      case _ =>
    }
    val page = pageNo.eval(input)
    if (page == null || page.asInstanceOf[Long] == 0L) b.counts(4) += 1
    b.add((s, string(reason.eval(input))), 1L)
    b.capped()
  }
  override def merge(b: Buf, o: Buf): Buf = {
    for (i <- b.counts.indices) b.counts(i) += o.counts(i)
    o.histogram.foreach { case (k, n) => b.add(k, n) }
    b.capped()
  }
  override def eval(b: Buf): Any = {
    val h = b.histogram.toSeq.sorted(order).map { case ((s, m), n) =>
      InternalRow(utf8(s), utf8(m), n)
    }
    InternalRow.fromSeq(b.counts.toSeq :+ new GenericArrayData(h))
  }

  override def serialize(b: Buf): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(bytes)
    b.counts.foreach(out.writeLong)
    out.writeInt(b.histogram.size)
    b.histogram.foreach { case ((s, m), n) => writeString(out, s); writeString(out, m); out.writeLong(n) }
    out.flush()
    bytes.toByteArray
  }
  override def deserialize(bytes: Array[Byte]): Buf = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val b = new Buf
    for (i <- b.counts.indices) b.counts(i) = in.readLong()
    for (_ <- 0 until in.readInt()) {
      val s = readString(in)
      val m = readString(in)
      b.histogram((s, m)) = in.readLong()
    }
    b
  }

  override def withNewMutableAggBufferOffset(o: Int): RunStats = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): RunStats = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      s: Expression, r: Expression, p: Expression): RunStats = copy(status = s, reason = r, pageNo = p)
}

private[operators] object RunStats {
  private val Counters = Seq("count", "successes", "failed_to_download", "failed_to_extract", "docs")

  val dataType: StructType = StructType(
    Counters.map(StructField(_, LongType, nullable = false)) :+
      StructField("histogram", ArrayType(StructType(Seq(
        StructField("status", StringType),
        StructField("error_message", StringType),
        StructField("count", LongType, nullable = false))), containsNull = false), nullable = false))

  /** The counters, in [[Counters]] order, and the (status, error_message)
    * histogram; `capped` halves it to its most frequent
    * [[Metrics.HistogramCap]]`/2` pairs once it grows past the cap. */
  final class Buf {
    val counts = new Array[Long](Counters.size)
    var histogram = mutable.HashMap.empty[(String, String), Long]
    def add(k: (String, String), n: Long): Unit =
      histogram.update(k, histogram.getOrElse(k, 0L) + n)
    def capped(): Buf = {
      if (histogram.size > Metrics.HistogramCap)
        histogram = mutable.HashMap.from(histogram.toSeq.sorted(order).take(Metrics.HistogramCap / 2))
      this
    }
  }

  /** Most frequent first, then status and message: equal inputs give
    * equal outputs. */
  private val order: Ordering[((String, String), Long)] =
    Ordering.by { case ((s, m), n) => (-n, Option(s), Option(m)) }

  private def string(v: Any): String = if (v == null) null else v.toString
  private def utf8(s: String): UTF8String = if (s == null) null else UTF8String.fromString(s)

  private def writeString(out: DataOutputStream, s: String): Unit =
    if (s == null) out.writeInt(-1)
    else { val b = s.getBytes(UTF_8); out.writeInt(b.length); out.write(b) }
  private def readString(in: DataInputStream): String = {
    val n = in.readInt()
    if (n < 0) null else { val b = new Array[Byte](n); in.readFully(b); new String(b, UTF_8) }
  }
}

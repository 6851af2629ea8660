package graft

import java.util.concurrent.atomic.AtomicLongArray

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{GraftBridge, SparkSession}

/** Task counters of every job a session runs: shuffle records and bytes
  * written and read and bytes spilled to disk, summed over successful
  * tasks, and `retries`, the tasks that ended in anything but success.
  * [[totals]] first waits for the listener bus to deliver every queued
  * event, so counters read right after an action are complete. Take
  * totals before and after a query and subtract ([[since]]) for that
  * query's own figures. */
final class TaskCounters private (sc: SparkContext) extends SparkListener {
  import TaskCounters.{Names, Retries}

  private val sums = new AtomicLongArray(Names.size)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.reason != Success) sums.incrementAndGet(Retries)
    else if (e.taskMetrics != null) {
      val m = e.taskMetrics
      Seq(m.shuffleWriteMetrics.recordsWritten, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.recordsRead, m.shuffleReadMetrics.totalBytesRead,
        m.diskBytesSpilled).zipWithIndex.foreach { case (v, i) => sums.addAndGet(i, v) }
    }

  /** Every counter, by name, over all tasks ended so far. */
  def totals(): Map[String, Long] = {
    GraftBridge.drainListeners(sc)
    Names.zipWithIndex.map { case (n, i) => n -> sums.get(i) }.toMap
  }

  /** Every counter's growth since `before`, an earlier [[totals]]. */
  def since(before: Map[String, Long]): Map[String, Long] = {
    val now = totals()
    Names.map(n => n -> (now(n) - before(n))).toMap
  }
}

object TaskCounters {
  val Names: Seq[String] = Seq("shuffle_write_records", "shuffle_write_bytes",
    "shuffle_read_records", "shuffle_read_bytes", "spill_bytes", "retries")
  private val Retries = Names.indexOf("retries")

  /** Counters registered on `spark`'s context. */
  def attach(spark: SparkSession): TaskCounters = {
    val c = new TaskCounters(spark.sparkContext)
    spark.sparkContext.addSparkListener(c)
    c
  }

  /** `counts`' fields as JSON, in [[Names]] order, without braces. */
  def json(counts: Map[String, Long]): String =
    Names.filter(counts.contains).map(n => s""""$n":${counts(n)}""").mkString(",")
}

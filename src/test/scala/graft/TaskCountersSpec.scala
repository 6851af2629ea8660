package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.scalatest.funsuite.AnyFunSuite

class TaskCountersSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("shuffle counters are complete straight after the action, with no sleep") {
    val sc = spark.sparkContext
    // a slow listener ahead of the counters on the same queue stands in
    // for a loaded machine: task-end events reach the counters well
    // after the action has returned
    val slow = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Thread.sleep(20)
    }
    sc.addSparkListener(slow)
    val counters = TaskCounters.attach(spark)
    try for (run <- 1 to 20) {
      val before = counters.totals()
      spark.range(100000).repartition(8).write.format("noop").mode("overwrite").save()
      val d = counters.since(before)
      assert(d("shuffle_write_records") === 100000L, s"run $run: $d")
      assert(d("shuffle_read_records") === 100000L, s"run $run: $d")
      assert(d("shuffle_write_bytes") > 0L && d("shuffle_read_bytes") > 0L, s"run $run: $d")
      assert(d("retries") === 0L, s"run $run: $d")
    } finally {
      sc.removeSparkListener(counters)
      sc.removeSparkListener(slow)
    }
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** The Bootstrap typed aggregator. */
class BootstrapSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val B = 25

  /** The naive explode-form twin (q235's original shape) computed with
    * plain Spark ops — the aggregator must reproduce it bit-for-bit. */
  private def naive(df: org.apache.spark.sql.DataFrame) = {
    val LP = 2147483647L
    val h = col("event_id") * 101L + col("b")
    val l3 = h % LP * 48271L % LP * 48271L % LP * 48271L % LP
    val u = (l3.cast("double") + 0.5) / 2147483647.0
    val w = when(u < 0.36787944117144233, 0L)
      .when(u < 0.7357588823428847, 1L).when(u < 0.9196986029286058, 2L)
      .when(u < 0.9810118431238463, 3L).when(u < 0.9963401531726563, 4L)
      .when(u < 0.9994058151824183, 5L).when(u < 0.999916758850712, 6L)
      .otherwise(7L)
    // w = 0 terms contribute floor(0.5) = 0 to swx, matching the
    // aggregator's skip of zero weights
    df.withColumn("b", explode(sequence(lit(1), lit(B))))
      .withColumn("w", w)
      .groupBy(col("g"), col("b").cast("long").as("b"))
      .agg(sum(floor(col("w") * col("value") * 10000.0 + 0.5)).cast("long").as("swx"),
        sum(col("w")).as("sw"))
  }

  test("poissonReps ≡ the naive explode form, bit-for-bit") {
    val df = (1L to 4000L).map(i =>
      (if (i % 3 == 0) "a" else "b", i, math.sin(i.toDouble) * 500.0))
      .toDF("g", "event_id", "value")
    val agg = df.groupBy(col("g"))
      .agg(graft.operators.Bootstrap.poissonReps(B)(col("event_id"), col("value")).as("r"))
      .select(col("g"), posexplode(arrays_zip(col("r.swx"), col("r.sw"))))
      .select(col("g"), (col("pos") + 1).cast("long").as("b"), col("col.swx"), col("col.sw"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val exp = naive(df).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(agg.size == exp.size)
    for ((k, v) <- exp) assert(agg(k) == v, s"mismatch at $k")
  }

  test("poissonReps is partition-layout invariant (merge order irrelevant)") {
    val df = (1L to 5000L).map(i => ("t", i, (i % 97).toDouble / 7.0))
      .toDF("g", "event_id", "value")
    def run(parts: Int) = df.repartition(parts).groupBy(col("g"))
      .agg(graft.operators.Bootstrap.poissonReps(B)(col("event_id"), col("value")).as("r"))
      .select(col("r.swx"), col("r.sw"))
      .collect().map(r => (r.getSeq[Long](0), r.getSeq[Long](1))).head
    val (x1, w1) = run(1)
    val (x13, w13) = run(13)
    assert(x1 == x13 && w1 == w13)
  }
}

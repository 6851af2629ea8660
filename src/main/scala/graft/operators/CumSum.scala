package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** Global running total over a total order WITHOUT a global window — the
  * naive `sum(w) over (order by ...)` serializes the whole table through
  * one partition, the same scale-killer as global `row_number` (SURVEY
  * §7.5.1). Two-pass form, the layout discipline of
  * [[DocPipeline.withDenseIds]]:
  *
  *   1. range-repartition + sort on the order; freeze the layout with an
  *      eager localCheckpoint (two jobs must see the same range bounds);
  *   2. per-partition weight sums (one row per partition) → cumulative
  *      offsets on the driver → broadcast back;
  *   3. running sum WITHIN each partition (parallel window) + offset.
  *
  * Weights should be integral at the oracle boundary: long addition is
  * exact in any grouping, while float prefix sums depend on association
  * order. The training-data use is budget selection: rank a corpus by
  * quality and keep documents until a token budget is spent.
  */
object CumSum {

  def withRunningTotal(df: DataFrame, order: Seq[Column], weight: Column,
                       outCol: String): DataFrame =
    withRunningTotals(df, order, Seq(weight -> outCol))

  /** [[withRunningTotal]] for SEVERAL weights in one layout pass: the
    * range-repartition + checkpoint + per-partition-offset discipline
    * is paid once and every weight gets its own running-total column —
    * the shape for statistics that cumulate two measures over one
    * order (e.g. both windows of a two-sample ECDF comparison). */
  def withRunningTotals(df: DataFrame, order: Seq[Column],
                        weights: Seq[(Column, String)]): DataFrame = {
    require(weights.nonEmpty, "need at least one (weight, outCol)")
    val spark = df.sparkSession
    val parts = math.max(1, spark.sessionState.conf.numShufflePartitions)
    val ws = weights.zipWithIndex
    val sorted = ws.foldLeft(
        df.repartitionByRange(parts, order: _*).sortWithinPartitions(order: _*)) {
        case (d, ((wc, _), i)) => d.withColumn(s"__w$i", wc.cast("long"))
      }
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint(true)
    val sums = sorted.groupBy(col("__pid"))
      .agg(sum(col("__w0")).as("__s0"),
        ws.tail.map { case (_, i) => sum(col(s"__w$i")).as(s"__s$i") }: _*)
      .collect()
      .map(r => (r.getInt(0), ws.map { case (_, i) => r.getLong(1 + i) }))
      .sortBy(_._1)
    val accs = Array.fill(weights.size)(0L)
    val offsets = sums.map { case (pid, ss) =>
      val row = Row.fromSeq(pid +: accs.toSeq)
      ss.zipWithIndex.foreach { case (s, i) => accs(i) += s }
      row
    }
    val offSchema = StructType(StructField("__pid", IntegerType) +:
      ws.map { case (_, i) => StructField(s"__o$i", LongType) })
    val offsetsDf = spark.createDataFrame(
      spark.sparkContext.parallelize(offsets.toIndexedSeq, 1), offSchema)
    val w = Window.partitionBy(col("__pid")).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val joined = sorted.join(broadcast(offsetsDf), Seq("__pid"))
    ws.foldLeft(joined) { case (d, ((_, name), i)) =>
        d.withColumn(name, col(s"__o$i") + sum(col(s"__w$i")).over(w))
      }
      .drop("__pid" +: ws.flatMap { case (_, i) => Seq(s"__w$i", s"__o$i") }: _*)
  }

  /** Exclusive prefix MAXIMUM over a total order — the same two-pass
    * discipline generalized from sums to max (max is associative and
    * commutative, so per-partition maxima + a driver prefix over the
    * partition maxima compose exactly). `outCol` holds the max of
    * `value` over all rows STRICTLY BEFORE the row in `order` (null for
    * the global first row) — the primitive behind sweep-line operators
    * like the Pareto frontier, where a row must compare against
    * everything ranked above it without a global window. */
  def withPrefixMax(df: DataFrame, order: Seq[Column], value: Column,
                    outCol: String): DataFrame = {
    val spark = df.sparkSession
    val parts = math.max(1, spark.sessionState.conf.numShufflePartitions)
    val sorted = df.repartitionByRange(parts, order: _*)
      .sortWithinPartitions(order: _*)
      .withColumn("__v", value.cast("double"))
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint(true)
    val maxes = sorted.groupBy(col("__pid")).agg(max(col("__v")).as("__m"))
      .collect().map(r => (r.getInt(0), if (r.isNullAt(1)) Double.NaN else r.getDouble(1)))
      .sortBy(_._1)
    // prefix max of PRECEDING partitions (null before the first)
    var acc = Double.NaN
    val offsets = maxes.map { case (pid, m) =>
      val row = (pid, acc)
      if (acc.isNaN || (!m.isNaN && m > acc)) acc = if (m.isNaN) acc else m
      row
    }
    val offsetsDf = spark.createDataFrame(offsets.toIndexedSeq).toDF("__pid", "__prior")
    val w = Window.partitionBy(col("__pid")).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    sorted.join(broadcast(offsetsDf), Seq("__pid"))
      .withColumn("__local", max(col("__v")).over(w))
      .withColumn(outCol, greatest(
        when(isnan(col("__prior")), lit(null).cast("double")).otherwise(col("__prior")),
        col("__local")))
      .drop("__pid", "__prior", "__local", "__v")
  }

  /** Corpus-wide ECDF lookup table with NO global window, valid when the
    * value column is CONTINUOUS (|distinct| unbounded — the regime where
    * q195's bounded-distinct rollup + tiny-frame Window stops being
    * tiny): per-value counts (one partial-agg shuffle), then
    * [[withRunningTotal]] over the value-ordered count frame — the frame
    * may be corpus-sized and still never single-partitions. Output:
    * (`valueName`, `outCol`) with outCol = P(X <= v); the cumulative
    * count stays exact long arithmetic until the final divide. Join the
    * result back to the corpus on the value column (sort-merge at scale;
    * AQE broadcasts it when the probe side is small). */
  def ecdfTable(df: DataFrame, value: Column, valueName: String,
                outCol: String = "ecdf"): DataFrame = {
    val vc = df.groupBy(value.as(valueName)).agg(count(lit(1)).as("__c"))
    val cum = withRunningTotal(vc, Seq(col(valueName)), col("__c"), "__cum")
    val tot = cum.agg(sum(col("__c")).cast("double").as("__n"))
    cum.crossJoin(broadcast(tot))
      .select(col(valueName), (col("__cum").cast("double") / col("__n")).as(outCol))
  }

  /** Keep rows (in `order`) while the running `weight` total stays within
    * `budget` — inclusive: a row is kept if the total UP TO AND INCLUDING
    * it fits. */
  def budgetTake(df: DataFrame, order: Seq[Column], weight: Column,
                 budget: Long, cumCol: String = "cum_weight"): DataFrame =
    withRunningTotal(df, order, weight, cumCol).filter(col(cumCol) <= budget)
}

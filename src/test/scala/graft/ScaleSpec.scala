package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.Skew
import graft.streaming.StreamingOps

class SkewSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // one pathological key holding 90% of rows + a uniform tail
  private def skewed = {
    val hot = (0 until 9000).map(i => (1L, i.toLong))
    val tail = (0 until 1000).map(i => (2L + i % 50, i.toLong + 9000))
    (hot ++ tail).toDF("key", "row_id")
  }

  test("salted join == plain join on skewed data") {
    val dim = Seq((1L, "hot"), (2L, "cold"), (3L, "cold")).toDF("key", "label")
    val plain = skewed.join(dim, Seq("key")).groupBy("key", "label").count()
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val salted = Skew.saltedJoin(skewed, dim, "key", col("row_id"), salts = 8)
      .groupBy("key", "label").count()
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(salted == plain)
  }

  test("salted aggregation == plain aggregation, salts actually spread the hot key") {
    val plain = skewed.groupBy("key")
      .agg(count(lit(1)).as("n"), sum(col("row_id")).as("total"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val salted = Skew.saltedSumCount(skewed, "key", col("row_id"), col("row_id"), salts = 8)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(salted == plain)
    // the hot key must occupy >1 salt bucket in the partial phase
    val buckets = skewed.filter(col("key") === 1)
      .select(Skew.saltColumn(col("row_id"), 8).as("s"))
      .distinct().count()
    assert(buckets > 4, s"hot key only spread over $buckets salt buckets")
  }

  test("adaptive salts: planted skew widens, uniform data pays zero replication") {
    // hot key ~9000 rows, tail keys ~20 rows; 1000 rows/salt target
    val salts = Skew.adaptiveSalts(skewed, "key",
      targetRowsPerSalt = 1000L, sampleFraction = 0.2, maxSalts = 64)
    assert(salts > 1 && salts <= 64, s"planted skew must widen, got $salts")
    // uniform: 50 keys × 200 rows — hottest key is under the target
    val uniform = (0 until 10000).map(i => (i % 50L, i.toLong)).toDF("key", "row_id")
    val one = Skew.adaptiveSalts(uniform, "key",
      targetRowsPerSalt = 1000L, sampleFraction = 0.2, maxSalts = 64)
    assert(one === 1, s"uniform data must not replicate the dim, got $one")
    // and the adaptive join is still the plain join
    val dim = Seq((1L, "hot"), (2L, "cold"), (3L, "cold")).toDF("key", "label")
    val plain = skewed.join(dim, Seq("key")).groupBy("key", "label").count()
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val adaptive = Skew.saltedJoin(skewed, dim, "key", col("row_id"),
      Skew.adaptiveSalts(skewed, "key", targetRowsPerSalt = 1000L))
      .groupBy("key", "label").count()
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(adaptive == plain)
  }

  test("saltsFromCounts: exact counts catch the rare-hot key a sample can miss") {
    // exact tier from an already-computed counts frame (the skew-report
    // shape): hottest key 9000 rows / 1000-row target → 9 salts, no
    // sampling error possible
    val counts = skewed.groupBy("key").agg(count(lit(1)).as("n"))
    val salts = Skew.saltsFromCounts(counts, "n", targetRowsPerSalt = 1000L)
    assert(salts === 9, s"exact max 9000 / 1000 target must give 9, got $salts")
    // empty counts frame degrades to 1 (no replication), not a crash
    val none = Skew.saltsFromCounts(counts.filter(col("n") < 0), "n",
      targetRowsPerSalt = 1000L)
    assert(none === 1)
  }

  test("salt is deterministic across evaluations (retry safety)") {
    val a = skewed.select(col("row_id"), Skew.saltColumn(col("row_id"), 8).as("s"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val b = skewed.select(col("row_id"), Skew.saltColumn(col("row_id"), 8).as("s"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a == b)
  }
}

class StreamStreamJoinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("stream-stream time-bounded join equals the batch twin") {
    val staging = new java.io.File("target/tmp/ssjoin_events").getAbsolutePath
    StreamingOps.stageEventsForStreaming(spark, TestSpark.sf0001, staging)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSet // (click_id, purchase_id)
    val clicks = StreamingOps.eventsStream(spark, staging)
      .filter(col("event_type") === "click")
    val purchases = StreamingOps.eventsStream(spark, staging)
      .filter(col("event_type") === "purchase")
    val streamed = rows(StreamingOps.runToMemory(spark,
      StreamingOps.clickPurchaseJoin(clicks, purchases), "spec_ssjoin",
      org.apache.spark.sql.streaming.OutputMode.Append()))
    val ev = Tables.events(spark, TestSpark.sf0001)
    val batch = rows(StreamingOps.clickPurchaseJoin(
      ev.filter(col("event_type") === "click"),
      ev.filter(col("event_type") === "purchase")))
    assert(streamed.nonEmpty && streamed == batch)
  }
}

class BucketedJoinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("bucketed fact-fact join: no exchange before the join (SCALE.md claim)") {
    // SCALE.md: "bucketBy(l_orderkey) lineitem/orders removes both
    // shuffles in q04-class queries" — prove it, don't just assert it.
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
      spark.sql("DROP TABLE IF EXISTS b_orders")
      Tables.lineitem(spark, TestSpark.sf0001)
        .select("l_orderkey", "l_quantity").write
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable("b_lineitem")
      Tables.orders(spark, TestSpark.sf0001)
        .select("o_orderkey", "o_orderstatus").write
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("b_orders")
      val j = spark.table("b_lineitem").join(spark.table("b_orders"),
        col("l_orderkey") === col("o_orderkey"))
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(600))
      assert(!plan.contains("Exchange"),
        s"bucketed join must read co-located buckets, not shuffle:\n${plan.take(1200)}")
      // and the co-located plan computes the same result as the plain join
      val want = Tables.lineitem(spark, TestSpark.sf0001)
        .join(Tables.orders(spark, TestSpark.sf0001),
          col("l_orderkey") === col("o_orderkey")).count()
      assert(j.count() == want)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
      spark.sql("DROP TABLE IF EXISTS b_orders")
    }
  }
}

class StatefulStreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("flatMapGroupsWithState running totals equal groupBy on replay") {
    val staging = new java.io.File("target/tmp/stateful_events").getAbsolutePath
    StreamingOps.stageEventsForStreaming(spark, TestSpark.sf0001, staging)
    val stream = StreamingOps.statefulUserTotals(StreamingOps.eventsStream(spark, staging))
    val got = StreamingOps.runToMemory(spark, stream, "spec_stateful",
        org.apache.spark.sql.streaming.OutputMode.Update())
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val want = Tables.events(spark, TestSpark.sf0001)
      .groupBy("user_id").agg(count(lit(1)).as("n"), sum(col("value")).as("tv"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (uid, (n, tv)) =>
      assert(n == want(uid)._1, s"user $uid count")
      assert(math.abs(tv - want(uid)._2) < 1e-6, s"user $uid total")
    }
  }
}

class CumSumSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._
  import graft.operators.CumSum
  import org.apache.spark.sql.expressions.{Window => W}

  test("two-pass running total equals the global window, under partial range sampling") {
    val key = "spark.sql.execution.rangeExchange.sampleSizePerPartition"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "10")
    try {
      val n = 20000
      val df = spark.range(0, n).select(
        concat(lit("k"), format_string("%07d", xxhash64(col("id")) % 10000000L),
          format_string("%05d", col("id"))).as("k"),
        (pmod(xxhash64(col("id"), lit(7)), lit(100L)) + 1).as("w"))
        .repartition(11)
      val got = CumSum.withRunningTotal(df, Seq(col("k")), col("w"), "cum")
        .select("k", "cum").as[(String, Long)].collect().toMap
      val want = df.withColumn("cum",
          sum(col("w")).over(W.orderBy(col("k"))
            .rowsBetween(W.unboundedPreceding, W.currentRow)))
        .select("k", "cum").as[(String, Long)].collect().toMap
      assert(got.size == n && got == want,
        "two-pass cumsum must reproduce sum() over (order by) exactly")
    } finally { prev match { case Some(v) => spark.conf.set(key, v); case None => spark.conf.unset(key) } }
  }

  test("two-pass exclusive prefix max equals the global window, under partial range sampling") {
    val key = "spark.sql.execution.rangeExchange.sampleSizePerPartition"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "10")
    try {
      val n = 20000
      val df = spark.range(0, n).select(
        concat(lit("k"), format_string("%07d", xxhash64(col("id")) % 10000000L),
          format_string("%05d", col("id"))).as("k"),
        (pmod(xxhash64(col("id"), lit(7)), lit(1000L)).cast("double") / 7.0).as("v"))
        .repartition(11)
      val got = CumSum.withPrefixMax(df, Seq(col("k")), col("v"), "pm")
        .select("k", "pm").collect().map(r => r.getString(0) ->
          (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
      val want = df.withColumn("pm",
          max(col("v")).over(W.orderBy(col("k"))
            .rowsBetween(W.unboundedPreceding, -1)))
        .select("k", "pm").collect().map(r => r.getString(0) ->
          (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
      assert(got.size == n && got == want,
        "two-pass prefix max must reproduce max() over (order by rows to -1) exactly")
    } finally { prev match { case Some(v) => spark.conf.set(key, v); case None => spark.conf.unset(key) } }
  }

  test("multi-weight running totals equal two single-weight passes and the window") {
    val key = "spark.sql.execution.rangeExchange.sampleSizePerPartition"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "10")
    try {
      val n = 20000
      val df = spark.range(0, n).select(
        concat(lit("k"), format_string("%07d", xxhash64(col("id")) % 10000000L),
          format_string("%05d", col("id"))).as("k"),
        (pmod(xxhash64(col("id"), lit(7)), lit(100L)) + 1).as("w1"),
        pmod(xxhash64(col("id"), lit(13)), lit(50L)).as("w2"))
        .repartition(11)
      val got = CumSum.withRunningTotals(df, Seq(col("k")),
          Seq(col("w1") -> "c1", col("w2") -> "c2"))
        .select("k", "c1", "c2").as[(String, Long, Long)].collect()
        .map(t => t._1 -> (t._2, t._3)).toMap
      val w = W.orderBy(col("k")).rowsBetween(W.unboundedPreceding, W.currentRow)
      val want = df
        .withColumn("c1", sum(col("w1")).over(w))
        .withColumn("c2", sum(col("w2")).over(w))
        .select("k", "c1", "c2").as[(String, Long, Long)].collect()
        .map(t => t._1 -> (t._2, t._3)).toMap
      assert(got.size == n && got == want,
        "one-layout-pass multi-weight cumsum must reproduce both window sums exactly")
    } finally { prev match { case Some(v) => spark.conf.set(key, v); case None => spark.conf.unset(key) } }
  }

  test("KS drift: identical windows give 0; disjoint supports give 1; always in [0,1]") {
    import org.apache.spark.sql.DataFrame
    // mirror q198's shape on planted frames: per-type pooled-grid
    // cumulative counts, sup of the ECDF gap
    def ks(rows: Seq[(String, Double, String)]): Map[String, Double] = {
      val ev = rows.toDF("event_type", "value", "win")
      val c = ev.groupBy(col("event_type"), col("value")).agg(
        sum(when(col("win") === "ref", 1L).otherwise(0L)).as("cr"),
        sum(when(col("win") === "cur", 1L).otherwise(0L)).as("cc"))
      val cum = CumSum.withRunningTotals(c,
        Seq(col("event_type"), col("value")),
        Seq(col("cr") -> "gcr", col("cc") -> "gcc"))
      val tot = c.groupBy(col("event_type"))
        .agg(sum(col("cr")).as("tr"), sum(col("cc")).as("tc"))
        .orderBy(col("event_type")).collect()
      var (ar, ac) = (0L, 0L)
      val offs = tot.map { r =>
        val row = (r.getString(0), ar, ac, r.getLong(1), r.getLong(2))
        ar += r.getLong(1); ac += r.getLong(2); row
      }.toIndexedSeq
      cum.join(broadcast(offs.toDF("event_type", "offr", "offc", "tr", "tc")),
          Seq("event_type"))
        .select(col("event_type"),
          abs((col("gcr") - col("offr")).cast("double") / col("tr")
            - (col("gcc") - col("offc")).cast("double") / col("tc")).as("d"))
        .groupBy(col("event_type")).agg(max(col("d")).as("ks"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    }
    val same = (1 to 50).flatMap(i =>
      Seq(("a", i.toDouble, "ref"), ("a", i.toDouble, "cur")))
    val disjoint = (1 to 50).map(i => ("b", i.toDouble, "ref")) ++
      (51 to 100).map(i => ("b", i.toDouble, "cur"))
    val shifted = (1 to 100).map(i => ("c", i.toDouble, "ref")) ++
      (1 to 100).map(i => (("c", i.toDouble + 25.0, "cur")))
    val got = ks(same ++ disjoint ++ shifted)
    assert(got("a") == 0.0, s"identical distributions must give KS 0: ${got("a")}")
    assert(got("b") == 1.0, s"disjoint supports must give KS 1: ${got("b")}")
    // the helper skips q198's final floor-round, so allow double noise
    assert(math.abs(got("c") - 0.25) < 1e-9,
      s"25-shift of 100 uniform points gives KS 0.25: ${got("c")}")
  }

  test("budgetTake keeps exactly the prefix that fits") {
    val df = Seq(("a", 5L), ("b", 7L), ("c", 4L), ("d", 10L)).toDF("k", "w")
    val kept = CumSum.budgetTake(df, Seq(col("k")), col("w"), budget = 16L)
      .select("k").as[String].collect().sorted.toSeq
    assert(kept == Seq("a", "b", "c"), s"5+7+4=16 fits, +10 does not: $kept")
  }
}

class LayoutSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._
  import org.apache.spark.sql.functions._
  import graft.operators.Layout

  test("zValue is a bijective interleave on the declared bit range") {
    val df = spark.range(0, 256).select(
      (col("id") / 16).cast("long").as("x"), (col("id") % 16).cast("long").as("y"))
    val z = df.select(Layout.zValue(col("x"), col("y"), bits = 4).as("z"))
      .as[Long].collect()
    assert(z.toSet.size === 256, "16x16 grid must map to 256 distinct z-values")
    assert(z.min === 0L && z.max === 255L, "4+4 bits must fill 0..255")
  }

  test("z-order buckets box BOTH dimensions; single-column range layout does not") {
    // uniform 128x128 grid; 64 buckets each way
    val df = spark.range(0, 128 * 128).select(
      (col("id") / 128).cast("long").as("x"), (col("id") % 128).cast("long").as("y"))
    val zb = df.withColumn("b",
        shiftrightunsigned(Layout.zValue(col("x"), col("y"), bits = 7), 8))
      .groupBy("b").agg((max("x") - min("x")).as("xr"), (max("y") - min("y")).as("yr"))
      .agg(avg("xr"), avg("yr")).as[(Double, Double)].collect()(0)
    // x-range layout with the same bucket count: x boxed, y full-range
    val xb = df.withColumn("b", (col("x") / 2).cast("long"))
      .groupBy("b").agg((max("x") - min("x")).as("xr"), (max("y") - min("y")).as("yr"))
      .agg(avg("xr"), avg("yr")).as[(Double, Double)].collect()(0)
    assert(zb._1 <= 16 && zb._2 <= 16,
      s"z-order must bound both dims (got x=${zb._1}, y=${zb._2})")
    assert(xb._2 >= 120, "single-column layout leaves y unbounded")
    assert(zb._2 < xb._2 / 4, "z-order must beat single-column on the second dim by 4x+")
  }
}

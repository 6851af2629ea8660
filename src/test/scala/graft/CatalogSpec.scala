package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The query catalog: one uniquely named spec per query, the rows-only
  * set, and the machinery behind individual queries — the pround
  * overflow guard (the q275 Durbin–Watson find), the boundary-sweep
  * concurrency pattern (q266), the Shapley skeleton's axioms (q280), the
  * q323/q325 invariants, and the co-visitation session frames
  * (q148/q162/q183/q203–q206/q208/q228): the in-row pair transform vs
  * the (user_id, sid) self-join, and the session-set frame vs the old
  * distinct (user_id, sid, page) frame at fixture scale. */
class CatalogSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("the catalog holds 411 uniquely named specs") {
    val names = SparkEntry.catalog.map(_.name)
    assert(names.size == 411)
    assert(names.distinct.size == names.size)
    assert(SparkEntry.queries.keySet == names.toSet)
  }

  test("exactly the 13 sketch/LSH queries are rows-only") {
    val rowsOnly = SparkEntry.catalog.filter(_.oracle.isEmpty)
      .map(_.name.takeWhile(_ != '_')).toSet
    assert(rowsOnly == Set("q29", "q32", "q33", "q37", "q41", "q48", "q56",
      "q57", "q77", "q105", "q121", "q134", "q137"))
    assert(SparkEntry.oracleSql.keySet ==
      SparkEntry.catalog.filter(_.oracle.nonEmpty).map(_.name).toSet)
  }

  test("pround equals double-floor rounding at EVERY magnitude (incl. past 2^63/10^n)") {
    // Reference = the DuckDB-side semantics: FLOOR(x·10ⁿ + 0.5)/10ⁿ in
    // pure double arithmetic (math.floor never overflows — it returns a
    // double). Spark's floor() returns LONG, which clamps at 2^63; the
    // 2^52 identity guard in pround must reproduce the double-floor
    // value everywhere. Magnitudes span the long-exact region, the
    // 2^52..2^63 window where the old form still worked, and the
    // >2^63/10^n region where it silently clamped.
    def ref(x: Double, n: Int): Double = {
      val s = math.pow(10, n)
      math.floor(x * s + 0.5) / s
    }
    val xs = Seq(0.0, 1e-9, -1e-9, 0.1235, -0.1235, 123.4567891234,
      9.2e6, 9.3e6, 1.2248208e7, 1e10, -3.7e10, 9.0e15, 4.6e15,
      1.1e19, -2.5e19, 7.7e300)
    val scales = Seq(0, 4, 6, 9, 12)
    val df = xs.toDF("x")
    for (n <- scales) {
      val got = df.select(catalog.Parity.pround(col("x"), n).as("r"))
        .collect().map(_.getDouble(0))
      val want = xs.map(ref(_, n))
      got.zip(want).zip(xs).foreach { case ((g, w), x) =>
        assert(java.lang.Double.compare(g, w) == 0,
          s"pround($x, $n) = $g, double-floor reference = $w")
      }
    }
  }

  test("boundary-sweep peak concurrency == brute force, with touching intervals overlapping") {
    // the q266 pattern: +1 at start, -1 at end, running sum over
    // (ts, starts-before-ends) via the CumSum two-pass; peak must match
    // a brute-force count of intervals covering each boundary instant.
    // Includes touching intervals (end(a) == start(b) counts as 2 live)
    // and a same-instant start pair.
    val iv = Seq((0L, 10L), (10L, 20L), (5L, 15L), (30L, 30L), (30L, 40L),
      (2L, 3L), (100L, 200L), (150L, 160L), (150L, 155L))
    val sess = iv.zipWithIndex.map { case ((a, b), i) => (i.toLong, a, b) }
      .toDF("sid", "st", "en")
    val bounds = sess.select(col("st").as("ts"), lit(1L).as("delta"), col("sid"))
      .unionAll(sess.select(col("en").as("ts"), lit(-1L).as("delta"), col("sid")))
    val cum = graft.operators.CumSum.withRunningTotal(bounds,
      Seq(col("ts"), col("delta") * lit(-1L), col("sid")), col("delta"), "live")
    val peak = cum.agg(max(col("live"))).head.getLong(0)
    // brute force: at every boundary instant t, count intervals with
    // st <= t <= en
    val pts = iv.flatMap { case (a, b) => Seq(a, b) }.distinct
    val brute = pts.map(t => iv.count { case (a, b) => a <= t && t <= b }).max
    assert(peak == brute, s"sweep peak $peak != brute $brute")
  }

  test("Shapley skeleton satisfies the axiom preconditions") {
    val sk = catalog.EventQueries.shapleySkeleton
    assert(sk.size == 32) // 4 channels x 8 coalitions each
    val byChannel = sk.groupBy(_._1)
    assert(byChannel.keySet == Set("click", "error", "signup", "view"))
    for ((_, rows) <- byChannel) {
      assert(rows.size == 8)
      // weights over coalitions sum to exactly 1 (efficiency): each of
      // the 8 subsets carries k!(n-1-k)!/n!
      assert(math.abs(rows.map(_._4).sum - 1.0) < 1e-12)
      // m1 is m0 plus exactly the channel's bit
      rows.foreach { case (_, m0, m1, _) =>
        assert((m1 & m0) == m0 && Integer.bitCount(m1 - m0) == 1)
      }
    }
    // dummy-player check against a hand value function: v(S) = |S|/4
    // (linear game) must give every channel exactly 1/4
    def v(m: Int): Double = Integer.bitCount(m) / 4.0
    for ((_, rows) <- byChannel) {
      val phi = rows.map { case (_, m0, m1, w) => w * (v(m1) - v(m0)) }.sum
      assert(math.abs(phi - 0.25) < 1e-12)
    }
  }

  test("q323 coverage invariants: covered ≤ span, merged ≤ sessions") {
    val r = SparkEntry.queries("q323_coverage_timeline")(spark, TestSpark.sf0001)
      .head
    val covered = r.getAs[Long]("covered_seconds")
    val frac = r.getAs[Double]("coverage_frac")
    assert(covered >= 0L && frac >= 0.0 && frac <= 1.0)
    assert(r.getAs[Long]("n_merged") <= r.getAs[Long]("n_sessions"))
  }

  test("q325 interpolated values lie between their neighbors") {
    val rows = SparkEntry.queries("q325_linear_interp")(spark, TestSpark.sf0001)
      .orderBy(col("event_type"), col("day")).collect()
    val byType = rows.groupBy(_.getAs[String]("event_type"))
    byType.foreach { case (_, rs) =>
      val obs = rs.filter(r => !r.isNullAt(r.fieldIndex("mean_raw")))
        .map(_.getAs[Double]("mean_raw"))
      rs.filter(_.getAs[Boolean]("is_interpolated")).foreach { r =>
        val v = r.getAs[Double]("mean_interp")
        // lerp between two observed values can't leave their global range
        if (obs.nonEmpty)
          assert(v >= obs.min - 1e-9 && v <= obs.max + 1e-9)
      }
    }
  }

  test("sessionPagePairs ≡ the old (user_id, sid) self-join with page_a < page_b") {
    // synthetic sets incl. empty, singleton, and >2-page sessions
    val sets = Seq(
      (1L, 0L, Seq.empty[Long]),         // all-null-page session: no pairs
      (1L, 1L, Seq(7L)),                 // singleton: no pairs
      (2L, 0L, Seq(1L, 5L, 9L)),         // 3 pairs
      (3L, 0L, Seq(2L, 3L)),             // 1 pair
      (3L, 1L, Seq(2L, 3L, 4L, 8L))      // 6 pairs
    ).toDF("user_id", "sid", "pgs")
      .select(col("user_id"), col("sid"), array_sort(col("pgs")).as("pgs"))
    val got = catalog.GraphQueries.sessionPagePairs(sets)
      .groupBy(col("page_a"), col("page_b")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    // reference: the pre-r19 formulation — distinct (user_id, sid, page)
    // self-joined on the session key, page_a < page_b
    val d = sets.select(col("user_id"), col("sid"), explode(col("pgs")).as("page"))
    val a = d.select(col("user_id"), col("sid"), col("page").as("page_a"))
    val b = d.select(col("user_id"), col("sid"), col("page").as("page_b"))
    val want = a.join(b, Seq("user_id", "sid"))
      .filter(col("page_a") < col("page_b"))
      .groupBy(col("page_a"), col("page_b")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    assert(got == want)
    assert(got.nonEmpty)
  }

  test("sessionPageSets on the fixture ≡ the old distinct session-page frame") {
    val dir = TestSpark.sf0001
    val sets = catalog.GraphQueries.sessionPageSets(spark, dir)
    // exploded sets = the old distinct (user_id, sid, page) frame
    // restricted to non-null pages (nulls never paired in the old join)
    val exploded = sets
      .select(col("user_id"), col("sid"), explode(col("pgs")).as("page"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val old = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("page"))
      .withColumn("gap", (unix_timestamp(col("ts")) -
        unix_timestamp(lag(col("ts"), 1).over(w))) >= 1800)
      .withColumn("brk", when(col("gap").isNull || !col("gap"), 0L).otherwise(1L))
      .withColumn("sid", sum(col("brk")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
      .select(col("user_id"), col("sid"), col("page")).distinct()
      .filter(col("page").isNotNull)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(exploded == old)
    assert(exploded.nonEmpty)
  }
}

package graft
package catalog

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{AsOf, Dedup}

import Parity._

/** Event-analytics queries: funnels, retention and cohorts, conversion
  * timing, attribution (including the Shapley skeleton), Markov paths and
  * growth accounting. */
object EventQueries {

  /** Shapley skeleton for the 4 touch channels (q280): one row per
    * (channel, coalition-without-channel) = (channel, m0, m1 = m0∪bit,
    * weight |S|!·(n−1−|S|)!/n!). Generated once in Scala and embedded
    * as the SAME literal VALUES rows in the oracle SQL, so neither
    * engine computes a factorial. */
  private[graft] lazy val shapleySkeleton: Seq[(String, Int, Int, Double)] = {
    val channels = Seq("click" -> 1, "error" -> 2, "signup" -> 4, "view" -> 8)
    def fact(k: Int): Int = (1 to k).product
    for {
      (name, bit) <- channels
      m0 <- 0 until 16 if (m0 & bit) == 0
    } yield {
      val k = Integer.bitCount(m0)
      (name, m0, m0 | bit, fact(k).toDouble * fact(4 - 1 - k) / fact(4))
    }
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q92_funnel", (s, dir) => {
      // sequence/funnel analytics: per-user first click → purchase within
      // 60 min, daily conversion rate. Two shuffles on user_id (first-
      // touch agg + conversion agg) and one on day — every stage is a
      // partial+final agg or an equi-join on the user key; no window over
      // the whole event stream.
      val ev = Tables.events(s, dir)
      val firstClick = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id")).agg(min(col("ts")).as("first_click"))
      val conv = ev.filter(col("event_type") === "purchase")
        .join(firstClick, Seq("user_id"))
        .filter(col("ts") >= col("first_click") &&
          col("ts") <= col("first_click") + expr("INTERVAL 60 minutes"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("conv_ts"))
      firstClick.join(conv, Seq("user_id"), "left")
        .groupBy(date_trunc("day", col("first_click")).as("day"))
        .agg(count(lit(1)).as("n_users"),
          count(col("conv_ts")).as("n_converted"),
          pround(count(col("conv_ts")).cast("double") / count(lit(1)), 9).as("conv_rate"))
    }, Some(
      s"""$evCte,
         |fc AS (SELECT user_id, MIN(ts) AS first_click
         |       FROM ev WHERE event_type = 'click' GROUP BY user_id),
         |cv AS (SELECT p.user_id, MIN(p.ts) AS conv_ts
         |       FROM ev p JOIN fc ON p.user_id = fc.user_id
         |       WHERE p.event_type = 'purchase'
         |         AND p.ts >= fc.first_click
         |         AND p.ts <= fc.first_click + INTERVAL 60 MINUTE
         |       GROUP BY p.user_id)
         |SELECT date_trunc('day', first_click) AS day,
         |  COUNT(*) AS n_users,
         |  COUNT(conv_ts) AS n_converted,
         |  round(CAST(COUNT(conv_ts) AS DOUBLE) / COUNT(*), 9) AS conv_rate
         |FROM fc LEFT JOIN cv ON fc.user_id = cv.user_id
         |GROUP BY 1""".stripMargin)),

    QuerySpec("q111_markov", (s, dir) => {
      // first-order Markov transition matrix over per-user event
      // sequences: lead within (user, ts, event_id) order — partitioned
      // windows only — then transition counts and row-normalized
      // probabilities (round 9: c/total division drift). The sequence-
      // model statistic behind session simulation and anomaly scoring.
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val trans = Tables.events(s, dir)
        .select(col("user_id"), col("event_type").as("src"),
          lead(col("event_type"), 1).over(w).as("dst"))
        .filter(col("dst").isNotNull)
        .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("c"))
      val totals = trans.groupBy(col("src")).agg(sum(col("c")).as("total"))
      trans.join(totals, Seq("src"))
        .select(col("src"), col("dst"), col("c"),
          pround(col("c").cast("double") / col("total"), 9).as("p"))
    }, Some(
      s"""$evCte,
         |t AS (SELECT user_id, event_type AS src,
         |        lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
         |      FROM ev),
         |c AS (SELECT src, dst, COUNT(*) AS c FROM t WHERE dst IS NOT NULL GROUP BY src, dst),
         |tot AS (SELECT src, SUM(c) AS total FROM c GROUP BY src)
         |SELECT c.src, c.dst, c.c, round(CAST(c.c AS DOUBLE) / tot.total, 9) AS p
         |FROM c JOIN tot USING (src)""".stripMargin)),

    QuerySpec("q113_retention", (s, dir) => {
      // cohort retention: users grouped by first-seen week, distinct
      // active users per (cohort, week offset). Two aggs + one join —
      // the cohort frame is per-user (small relative to events) and
      // rides the join keyed on user_id; no window at all.
      val ev = Tables.events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("d"))
      val cohorts = ev.groupBy(col("user_id"))
        .agg(date_trunc("week", min(col("d"))).cast("date").as("cohort_week"))
      ev.join(cohorts, Seq("user_id"))
        .select(col("user_id"), col("cohort_week"),
          floor(datediff(col("d"), col("cohort_week")) / 7).as("week_offset"))
        .groupBy(col("cohort_week"), col("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
    }, Some(
      s"""$evCte,
         |d AS (SELECT user_id, CAST(ts AS DATE) AS d FROM ev),
         |c AS (SELECT user_id, CAST(date_trunc('week', MIN(d)) AS DATE) AS cohort_week
         |      FROM d GROUP BY user_id)
         |SELECT cohort_week, CAST((d.d - c.cohort_week) // 7 AS BIGINT) AS week_offset,
         |  COUNT(DISTINCT d.user_id) AS n_users
         |FROM d JOIN c USING (user_id)
         |GROUP BY cohort_week, week_offset""".stripMargin)),

    QuerySpec("q159_retention_cohorts", (s, dir) => {
      // cohort retention: users bucketed by first-activity week, count
      // retained per week offset — the growth-analytics staple. The
      // (user, week) frame is pre-distincted so the join carries
      // user-weeks, not raw events; the first-week agg shares the
      // user_id partitioning with the join (exchange reuse), so the
      // event scan shuffles once.
      val e = Dedup.cacheScoped(Tables.events(s, dir)
        .select(col("user_id"), date_trunc("week", col("ts")).cast("date").as("wk"))
        .distinct())
      val first = e.groupBy(col("user_id")).agg(min(col("wk")).as("cohort"))
      e.join(first, Seq("user_id"))
        .groupBy(col("cohort"),
          (datediff(col("wk"), col("cohort")) / 7).cast("long").as("week_offset"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("cohort"), col("week_offset"))
    }, Some(
      s"""$evCte,
         |e AS (SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk FROM ev),
         |f AS (SELECT user_id, MIN(wk) AS cohort FROM e GROUP BY user_id)
         |SELECT cohort, CAST((wk - cohort) / 7 AS BIGINT) AS week_offset,
         |  COUNT(*) AS n_users
         |FROM e JOIN f USING (user_id)
         |GROUP BY 1, 2 ORDER BY cohort, week_offset""".stripMargin)),

    QuerySpec("q160_attribution", (s, dir) => {
      // last-touch revenue attribution: each purchase credits the
      // latest click of the same user within 7 days — the as-of join
      // (q15's one-shuffle union-and-carry, no range join) reused as a
      // marketing operator. Clicks pre-aggregate to one per (user, ts)
      // so the carry is deterministic; unattributed purchases keep a
      // null page and stay in the report.
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts"))
        .agg(max_by(get_json_object(col("props"), "$.k").cast("long"),
          col("event_id")).as("page"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id").as("purchase_id"),
          col("value"))
      AsOf.join(purchases, clicks, "user_id", "ts", Seq("page"),
          tolerance = Some("7 DAY"))
        .groupBy(col("right_page").as("page"))
        .agg(count(lit(1)).as("n_purchases"), dsum(col("value")).as("revenue"))
    }, Some(
      s"""$evCte,
         |c AS (SELECT user_id, ts,
         |        max_by(CAST(json_extract_string(props, '$$.k') AS BIGINT), event_id) AS page
         |      FROM ev WHERE event_type = 'click' GROUP BY user_id, ts),
         |p AS (SELECT user_id, ts, event_id AS purchase_id, value
         |      FROM ev WHERE event_type = 'purchase'),
         |j AS (SELECT p.purchase_id, p.value,
         |        CASE WHEN c.ts >= p.ts - INTERVAL 7 DAY THEN c.page END AS page
         |      FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts)
         |SELECT page, COUNT(*) AS n_purchases,
         |  CAST(SUM(CAST(value AS $D)) AS DOUBLE) AS revenue
         |FROM j GROUP BY page""".stripMargin)),

    QuerySpec("q182_funnel_3stage", (s, dir) => {
      // strictly-ordered 3-stage funnel view → click → purchase (q92
      // is the 2-stage windowed conversion-rate twin): each stage's
      // timestamp is the MIN event strictly AFTER the previous stage,
      // so every stage frame stays one row per user and the three
      // joins share the user_id shuffle key (exchange reuse).
      val ev = Dedup.cacheScoped(Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), unix_timestamp(col("ts")).as("sec")))
      val v = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("sec")).as("t1"))
      val c = ev.filter(col("event_type") === "click").join(v, Seq("user_id"))
        .filter(col("sec") > col("t1"))
        .groupBy(col("user_id")).agg(min(col("sec")).as("t2"), max(col("t1")).as("t1"))
      val p = ev.filter(col("event_type") === "purchase").join(c, Seq("user_id"))
        .filter(col("sec") > col("t2"))
        .groupBy(col("user_id")).agg(min(col("sec")).as("t3"), max(col("t1")).as("t1"))
      v.agg(count(lit(1)).as("n_view"))
        .crossJoin(c.agg(count(lit(1)).as("n_click")))
        .crossJoin(p.agg(count(lit(1)).as("n_purchase"),
          pround(sum(col("t3") - col("t1")).cast("double") / count(lit(1)) / 3600.0, 9)
            .as("avg_hours_to_convert")))
    }, Some(
      s"""$evCte,
         |e2 AS (SELECT user_id, event_type, CAST(epoch_us(ts) // 1000000 AS BIGINT) AS sec FROM ev),
         |v AS (SELECT user_id, MIN(sec) AS t1 FROM e2 WHERE event_type = 'view' GROUP BY user_id),
         |c AS (SELECT e2.user_id, MIN(sec) AS t2, MAX(t1) AS t1 FROM e2 JOIN v USING (user_id)
         |      WHERE event_type = 'click' AND sec > t1 GROUP BY e2.user_id),
         |p AS (SELECT e2.user_id, MIN(sec) AS t3, MAX(c.t1) AS t1 FROM e2 JOIN c USING (user_id)
         |      WHERE event_type = 'purchase' AND sec > t2 GROUP BY e2.user_id)
         |SELECT (SELECT COUNT(*) FROM v) AS n_view,
         |       (SELECT COUNT(*) FROM c) AS n_click,
         |       (SELECT COUNT(*) FROM p) AS n_purchase,
         |       (SELECT round(CAST(SUM(t3 - t1) AS DOUBLE) / COUNT(*) / 3600.0, 9) FROM p) AS avg_hours_to_convert""".stripMargin)),

    QuerySpec("q214_attribution", (s, dir) => {
      // position-based (40/20/40) multi-touch attribution — the
      // marketing-science step past q160's single-touch as-of: each
      // purchase credits its view/click touches in a 7-DAY lookback
      // (first 40%, last 40%, middles share 20%; n=1 → 1.0, n=2 →
      // .5/.5), credits summed per channel. The lookback BOUNDS the
      // touch join (never all-history), ranks ride per-(user,
      // purchase) windows whose frames the lookback also bounds;
      // credit arithmetic is small rationals floor-rounded to 9 and
      // decimal-reduced.
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("pts"))
      val touches = ev.filter(col("event_type").isin("view", "click"))
        .select(col("user_id"), col("ts").as("tts"), col("event_id"),
          col("event_type").as("channel"))
      val joined = purchases.join(touches, Seq("user_id"))
        .filter(col("tts") < col("pts") &&
          col("tts") >= col("pts") - expr("INTERVAL 7 DAYS"))
      val w = Window.partitionBy(col("user_id"), col("pts"))
        .orderBy(col("tts"), col("event_id"))
      val ranked = joined
        .withColumn("rk", row_number().over(w))
        .withColumn("n", count(lit(1)).over(
          Window.partitionBy(col("user_id"), col("pts"))))
      val credit = when(col("n") === 1, lit(1.0))
        .when(col("n") === 2, lit(0.5))
        .when(col("rk") === 1 || col("rk") === col("n"), lit(0.4))
        .otherwise(lit(0.2) / (col("n") - 2))
      ranked
        .select(col("channel"),
          (floor(credit * 1e9 + 0.5) / 1e9).cast(DecimalType(27, 9)).as("c"))
        .groupBy(col("channel"))
        .agg(sum(col("c")).cast("double").as("credit"), count(lit(1)).as("n_touches"))
        .orderBy(col("channel"))
    }, Some(
      s"""$evCte,
         |p AS (SELECT user_id, ts AS pts FROM ev WHERE event_type = 'purchase'),
         |tch AS (SELECT user_id, ts AS tts, event_id, event_type AS channel
         |        FROM ev WHERE event_type IN ('view', 'click')),
         |j AS (SELECT p.user_id, p.pts, tch.tts, tch.event_id, tch.channel
         |      FROM p JOIN tch ON p.user_id = tch.user_id
         |        AND tch.tts < p.pts AND tch.tts >= p.pts - INTERVAL 7 DAY),
         |r AS (SELECT channel,
         |        row_number() OVER (PARTITION BY user_id, pts ORDER BY tts, event_id) AS rk,
         |        COUNT(*) OVER (PARTITION BY user_id, pts) AS n
         |      FROM j),
         |c AS (SELECT channel,
         |        CASE WHEN n = 1 THEN 1.0
         |             WHEN n = 2 THEN 0.5
         |             WHEN rk = 1 OR rk = n THEN 0.4
         |             ELSE 0.2 / (n - 2) END AS credit
         |      FROM r)
         |SELECT channel,
         |  CAST(SUM(CAST(FLOOR(credit * 1e9 + 0.5) / 1e9 AS DECIMAL(27,9))) AS DOUBLE) AS credit,
         |  COUNT(*) AS n_touches
         |FROM c GROUP BY channel ORDER BY channel""".stripMargin)),

    QuerySpec("q216_time_to_convert", (s, dir) => {
      // time-to-event analysis: the DISTRIBUTION of view→purchase
      // delay (q92 reports the conversion RATE; how long conversion
      // takes is the survival-analysis companion). First view / first
      // purchase-after-view per user are one-row-per-user frames on a
      // shared user_id shuffle (q182's stage shape); the delay
      // quantiles come from the no-buffer histogram-refinement
      // selector — integer seconds, so interpolation is exact in both
      // engines.
      val ev = Dedup.cacheScoped(Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), unix_timestamp(col("ts")).as("sec")))
      val v = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("sec")).as("t1"))
      val p = ev.filter(col("event_type") === "purchase").join(v, Seq("user_id"))
        .filter(col("sec") > col("t1"))
        .groupBy(col("user_id")).agg(min(col("sec") - col("t1")).as("delay"))
      graft.operators.Selection.exactGroupedQuantiles(
          p.withColumn("g", lit("all")), "g", "delay",
          Seq(0.5, 0.9, 0.99))
        .select(col("q"), col("value").as("delay_sec"))
        .orderBy(col("q"))
    }, Some(
      s"""$evCte,
         |e2 AS (SELECT user_id, event_type,
         |         CAST(epoch_us(ts) // 1000000 AS BIGINT) AS sec FROM ev),
         |v AS (SELECT user_id, MIN(sec) AS t1 FROM e2 WHERE event_type = 'view'
         |      GROUP BY user_id),
         |p AS (SELECT e2.user_id, MIN(sec - t1) AS delay
         |      FROM e2 JOIN v USING (user_id)
         |      WHERE event_type = 'purchase' AND sec > t1 GROUP BY e2.user_id),
         |qs AS (SELECT quantile_cont(CAST(delay AS DOUBLE), [0.5, 0.9, 0.99]) AS qv FROM p)
         |SELECT [0.5, 0.9, 0.99][g.i] AS q, qv[g.i] AS delay_sec
         |FROM qs, LATERAL (SELECT unnest(generate_series(1, 3)) AS i) g
         |ORDER BY q""".stripMargin)),

    QuerySpec("q237_path_trigrams", (s, dir) => {
      // top-20 event-type path trigrams [EXT] — the second-order
      // sequence motifs q111's first-order transition matrix cannot
      // see (a Markov chain factorizes P(a→b→c) = P(b|a)·P(c|b); the
      // trigram counts expose exactly the paths where that product is
      // wrong — the "view→click→purchase vs view→click→error" split
      // behind journey mining). Two leads over the per-user window
      // (never a global sequence sort), exact motif counts, support as
      // one floor-rounded division, deterministic top-20 via
      // TakeOrderedAndProject on (count desc, motif) — no global sort
      // materializes.
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val tri = Tables.events(s, dir)
        .select(col("user_id"), col("event_type").as("e1"), col("ts"), col("event_id"))
        .withColumn("e2", lead(col("e1"), 1).over(w))
        .withColumn("e3", lead(col("e1"), 2).over(w))
        .filter(col("e3").isNotNull)
        .groupBy(col("e1"), col("e2"), col("e3")).agg(count(lit(1)).as("n_paths"))
      val tot = tri.agg(sum(col("n_paths")).as("n_tot"))
      tri.crossJoin(broadcast(tot))
        .select(col("e1"), col("e2"), col("e3"), col("n_paths"),
          (floor(col("n_paths").cast("double") / col("n_tot") * 1e9 + 0.5) / 1e9)
            .as("support"))
        .orderBy(col("n_paths").desc, col("e1"), col("e2"), col("e3"))
        .limit(20)
    }, Some(
      s"""$evCte,
         |sq AS (SELECT user_id, event_type AS e1,
         |         LEAD(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e2,
         |         LEAD(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e3
         |       FROM ev),
         |tri AS (SELECT e1, e2, e3, COUNT(*) AS n_paths FROM sq
         |        WHERE e3 IS NOT NULL GROUP BY 1, 2, 3),
         |t AS (SELECT SUM(n_paths) AS n_tot FROM tri)
         |SELECT e1, e2, e3, CAST(n_paths AS BIGINT) AS n_paths,
         |  FLOOR(CAST(n_paths AS DOUBLE) / n_tot * 1e9 + 0.5) / 1e9 AS support
         |FROM tri, t ORDER BY n_paths DESC, e1, e2, e3 LIMIT 20""".stripMargin)),

    QuerySpec("q255_entropy_rate", (s, dir) => {
      // Markov entropy rate of the event stream [EXT] — the sequence-
      // predictability scalar over q111's chain: H = Σ_s π_s·H_s with
      // the plug-in π = empirical source frequency and H_s the row
      // entropy of transitions out of s (Shannon's entropy rate for a
      // first-order chain; low H means journeys are script-like,
      // rising H flags behavior drift — the sequence twin of q91's
      // static lexical entropy). Per-user lead pairs shuffle once;
      // row entropies are floor-12 −p·ln p terms in DECIMAL sums over
      // the ≤|types|² transition frame; the outer mix is a second
      // floor-12 weighted DECIMAL reduction, floor-9 close.
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val pairs = Tables.events(s, dir)
        .select(col("user_id"), col("event_type").as("src"), col("ts"), col("event_id"))
        .withColumn("dst", lead(col("src"), 1).over(w))
        .filter(col("dst").isNotNull)
        .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("c"))
      val tot = pairs.groupBy(col("src")).agg(sum(col("c")).as("ns"))
      val nT = pairs.agg(sum(col("c")).as("n"))
      val p = col("c").cast("double") / col("ns")
      val hs = pairs.join(broadcast(tot), Seq("src"))
        .select(col("src"), col("ns"),
          (-(floor(p * log(p) * 1e12 + 0.5) / 1e12))
            .cast(DecimalType(27, 14)).as("t"))
        .groupBy(col("src"), col("ns"))
        .agg(sum(col("t")).cast("double").as("h"))
      hs.crossJoin(broadcast(nT))
        .select(col("n"),
          (floor(col("ns").cast("double") / col("n") * col("h") * 1e12 + 0.5) / 1e12)
            .cast(DecimalType(27, 14)).as("wt"))
        .groupBy(col("n"))
        .agg(count(lit(1)).as("n_states"),
          (floor(sum(col("wt")).cast("double") * 1e9 + 0.5) / 1e9).as("entropy_rate"))
        .select(col("n").as("n_transitions"), col("n_states"), col("entropy_rate"))
    }, Some(
      s"""$evCte,
         |sq AS (SELECT user_id, event_type AS src,
         |         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
         |       FROM ev),
         |p AS (SELECT src, dst, COUNT(*) AS c FROM sq
         |      WHERE dst IS NOT NULL GROUP BY 1, 2),
         |t AS (SELECT src, SUM(c) AS ns FROM p GROUP BY 1),
         |nt AS (SELECT SUM(c) AS n FROM p),
         |hs AS (SELECT p.src, t.ns,
         |         CAST(SUM(CAST(-(FLOOR((CAST(c AS DOUBLE) / ns)
         |           * ln(CAST(c AS DOUBLE) / ns) * 1e12 + 0.5) / 1e12)
         |           AS DECIMAL(27,14))) AS DOUBLE) AS h
         |       FROM p JOIN t USING (src) GROUP BY 1, 2),
         |wt AS (SELECT n,
         |         FLOOR(CAST(ns AS DOUBLE) / n * h * 1e12 + 0.5) / 1e12 AS wt
         |       FROM hs, nt)
         |SELECT CAST(n AS BIGINT) AS n_transitions, COUNT(*) AS n_states,
         |  FLOOR(CAST(SUM(CAST(wt AS DECIMAL(27,14))) AS DOUBLE) * 1e9 + 0.5) / 1e9
         |    AS entropy_rate
         |FROM wt GROUP BY n""".stripMargin)),

    QuerySpec("q280_shapley_attribution", (s, dir) => {
      // Shapley-value conversion attribution [EXT] — the
      // order-independent marginal-credit estimator the attribution
      // family lacked: q160 credits ONE touch, q214 a fixed 40/20/40
      // rule; Shapley averages each channel's marginal conversion lift
      // over all coalition orderings — the unique credit satisfying
      // efficiency/symmetry/dummy. v(S) = conversion rate of users
      // whose touch-set is EXACTLY S (0 for unobserved sets — stated
      // convention). One corpus pass to per-user (mask, converted);
      // the 16-coalition rate frame and the 32-row factorial-weighted
      // skeleton (generated in Scala, broadcast, and embedded as the
      // SAME literal VALUES in the oracle) close map-side.
      val users = Tables.events(s, dir).groupBy(col("user_id")).agg(
        (max(when(col("event_type") === "click", 1L).otherwise(0L))
          + lit(2L) * max(when(col("event_type") === "error", 1L).otherwise(0L))
          + lit(4L) * max(when(col("event_type") === "signup", 1L).otherwise(0L))
          + lit(8L) * max(when(col("event_type") === "view", 1L).otherwise(0L)))
          .as("mask"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))
      val rates = users.groupBy(col("mask"))
        .agg(count(lit(1)).as("nu"), sum(col("conv")).as("nc"))
        .select(col("mask"),
          pround(col("nc").cast("double") / col("nu"), 12).as("r"))
      import s.implicits._
      val sk = shapleySkeleton.toDF("channel", "m0", "m1", "w")
      sk.join(broadcast(rates.select(col("mask").as("m0"), col("r").as("r0"))),
          Seq("m0"), "left")
        .join(broadcast(rates.select(col("mask").as("m1"), col("r").as("r1"))),
          Seq("m1"), "left")
        .withColumn("term", pround(col("w")
          * (coalesce(col("r1"), lit(0.0)) - coalesce(col("r0"), lit(0.0))), 12))
        .groupBy(col("channel"))
        .agg((floor(sum(col("term").cast(DecimalType(27, 14))).cast("double")
          * 1e9 + 0.5) / 1e9).as("phi"))
        .orderBy(col("channel"))
    }, Some {
      val rows = shapleySkeleton
        .map { case (c, m0, m1, w) => s"('$c', $m0, $m1, $w)" }.mkString(", ")
      s"""$evCte,
         |users AS (SELECT user_id,
         |    MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
         |    + 2 * MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
         |    + 4 * MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
         |    + 8 * MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS mask,
         |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
         |  FROM ev GROUP BY 1),
         |rates AS (SELECT mask, round(CAST(SUM(conv) AS DOUBLE) / COUNT(*), 12) AS r
         |          FROM users GROUP BY 1),
         |sk AS (SELECT * FROM (VALUES $rows) AS t(channel, m0, m1, w))
         |SELECT channel,
         |  FLOOR(CAST(SUM(CAST(round(w * (COALESCE(r1.r, 0.0) - COALESCE(r0.r, 0.0)), 12)
         |    AS DECIMAL(27,14))) AS DOUBLE) * 1e9 + 0.5) / 1e9 AS phi
         |FROM sk LEFT JOIN rates r0 ON sk.m0 = r0.mask
         |        LEFT JOIN rates r1 ON sk.m1 = r1.mask
         |GROUP BY 1 ORDER BY channel""".stripMargin
    }),

    QuerySpec("q317_cohort_retention", (s, dir) => {
      // signup-cohort retention triangle [EXT] — the product-analytics
      // matrix between q92's funnel (one journey) and q234's
      // Kaplan–Meier (time-to-ONE-event): of the users first seen in
      // week W, what fraction was active in week W+k? Two aggs: first-
      // seen week per user (min over one scan), distinct (user,
      // activity-week) pairs; the matrix closes on the cohorts×offsets
      // frame. Week offsets are EXACT integer day differences / 7
      // (both engines truncate weeks to Monday, so the difference is
      // always a multiple of 7 — no float, no calendar edge).
      val ev = Dedup.cacheScoped(Tables.events(s, dir)
        .select(col("user_id"),
          date_trunc("week", col("ts")).cast("date").as("wk")).distinct())
      val cohort = ev.groupBy(col("user_id")).agg(min(col("wk")).as("cw"))
      val sizes = cohort.groupBy(col("cw")).agg(count(lit(1)).as("n_cohort"))
      ev.join(cohort, Seq("user_id"))
        .withColumn("week_offset", (datediff(col("wk"), col("cw")) / 7).cast("int"))
        .groupBy(col("cw"), col("week_offset")).agg(count(lit(1)).as("n_active"))
        .join(broadcast(sizes), Seq("cw"))
        .select(col("cw").as("cohort_week"), col("week_offset"), col("n_active"),
          col("n_cohort"),
          pround(col("n_active").cast("double")
            / col("n_cohort").cast("double"), 9).as("retention"))
        .orderBy(col("cohort_week"), col("week_offset"))
    }, Some(
      """WITH ev AS (SELECT DISTINCT user_id,
        |    CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS wk
        |  FROM events),
        |cohort AS (SELECT user_id, MIN(wk) AS cw FROM ev GROUP BY 1),
        |sizes AS (SELECT cw, COUNT(*) AS n_cohort FROM cohort GROUP BY 1),
        |act AS (SELECT c.cw, datediff('day', c.cw, e.wk) // 7 AS wko,
        |          COUNT(*) AS n_active
        |        FROM ev e JOIN cohort c USING (user_id) GROUP BY 1, 2)
        |SELECT a.cw AS cohort_week, CAST(a.wko AS INT) AS week_offset,
        |  CAST(a.n_active AS BIGINT) AS n_active,
        |  CAST(s.n_cohort AS BIGINT) AS n_cohort,
        |  round(CAST(a.n_active AS DOUBLE) / CAST(s.n_cohort AS DOUBLE), 9)
        |    AS retention
        |FROM act a JOIN sizes s USING (cw)
        |ORDER BY cohort_week, week_offset""".stripMargin)),

    QuerySpec("q328_growth_accounting", (s, dir) => {
      // weekly growth accounting [EXT] — the new / retained /
      // resurrected / churned decomposition every growth dashboard
      // leads with (q317 slices by COHORT; this slices by WEEK):
      // active = seen this week, retained = also active last week,
      // new = first week, resurrected = active now, inactive last
      // week, seen before; churned = active last week, not this.
      // Shapes: distinct (user, week) frame, first-seen agg, one
      // self-join shifted a week — all equi-joins on (user, week).
      val uw = Dedup.cacheScoped(Tables.events(s, dir)
        .select(col("user_id"),
          date_trunc("week", col("ts")).cast("date").as("wk")).distinct())
      val first = uw.groupBy(col("user_id")).agg(min(col("wk")).as("fw"))
      val prev = uw.select(col("user_id"), date_add(col("wk"), 7).as("wk"),
        lit(1L).as("was_prev"))
      val cur = uw.join(first, Seq("user_id"))
        .join(prev, Seq("user_id", "wk"), "left")
        .select(col("wk"),
          when(col("wk") === col("fw"), 1L).otherwise(0L).as("is_new"),
          when(col("was_prev").isNotNull, 1L).otherwise(0L).as("is_ret"),
          when(col("wk") =!= col("fw") && col("was_prev").isNull, 1L)
            .otherwise(0L).as("is_res"))
      val churn = uw.select(col("user_id"), date_add(col("wk"), 7).as("wk"))
        .join(uw.select(col("user_id"), col("wk"), lit(1L).as("still")),
          Seq("user_id", "wk"), "left")
        .groupBy(col("wk"))
        .agg(sum(when(col("still").isNull, 1L).otherwise(0L)).as("n_churned"))
      cur.groupBy(col("wk"))
        .agg(count(lit(1)).as("n_active"), sum(col("is_new")).as("n_new"),
          sum(col("is_ret")).as("n_retained"),
          sum(col("is_res")).as("n_resurrected"))
        .join(churn, Seq("wk"), "left")
        .select(col("wk").as("week"), col("n_active"), col("n_new"),
          col("n_retained"), col("n_resurrected"),
          coalesce(col("n_churned"), lit(0L)).as("n_churned"))
        .orderBy(col("week"))
    }, Some(
      """WITH uw AS (SELECT DISTINCT user_id,
        |    CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS wk
        |  FROM events),
        |fw AS (SELECT user_id, MIN(wk) AS fw FROM uw GROUP BY 1),
        |cur AS (SELECT u.wk,
        |          CASE WHEN u.wk = f.fw THEN 1 ELSE 0 END AS is_new,
        |          CASE WHEN p.user_id IS NOT NULL THEN 1 ELSE 0 END AS is_ret,
        |          CASE WHEN u.wk <> f.fw AND p.user_id IS NULL THEN 1 ELSE 0 END
        |            AS is_res
        |        FROM uw u JOIN fw f USING (user_id)
        |        LEFT JOIN (SELECT user_id, wk + 7 AS wk FROM uw) p
        |          ON p.user_id = u.user_id AND p.wk = u.wk),
        |ca AS (SELECT wk, COUNT(*) AS n_active, SUM(is_new) AS n_new,
        |         SUM(is_ret) AS n_retained, SUM(is_res) AS n_resurrected
        |       FROM cur GROUP BY 1),
        |chn AS (SELECT a.wk + 7 AS wk,
        |          SUM(CASE WHEN b.user_id IS NULL THEN 1 ELSE 0 END) AS n_churned
        |        FROM uw a LEFT JOIN uw b
        |          ON b.user_id = a.user_id AND b.wk = a.wk + 7
        |        GROUP BY 1)
        |SELECT ca.wk AS week, CAST(n_active AS BIGINT) AS n_active,
        |  CAST(n_new AS BIGINT) AS n_new,
        |  CAST(n_retained AS BIGINT) AS n_retained,
        |  CAST(n_resurrected AS BIGINT) AS n_resurrected,
        |  CAST(COALESCE(chn.n_churned, 0) AS BIGINT) AS n_churned
        |FROM ca LEFT JOIN chn USING (wk) ORDER BY week""".stripMargin)),

    QuerySpec("q329_conversion_delay", (s, dir) => {
      // click→purchase conversion-delay percentiles [EXT] — the exact
      // delay distribution of CONVERTERS (q234's Kaplan–Meier handles
      // the censored rest): per user, first click then first
      // subsequent purchase; delay P50/P90 from the histogram-
      // refinement selector over exact integer seconds — no per-group
      // buffer, and the two-sided funnel stays two tiny aggs + one
      // equi-join on user.
      val ev = Tables.events(s, dir)
      val click = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id"))
        .agg(min(unix_timestamp(col("ts"))).as("t_click"))
      val purch = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_timestamp(col("ts")).as("t_p"))
      val delays = Dedup.cacheScoped(click.join(purch, Seq("user_id"))
        .filter(col("t_p") >= col("t_click"))
        .groupBy(col("user_id"), col("t_click"))
        .agg(min(col("t_p")).as("t_purchase"))
        .select(lit("all").as("g"),
          (col("t_purchase") - col("t_click")).cast("double").as("delay")))
      val qs = graft.operators.Selection.exactGroupedQuantiles(
        delays, "g", "delay", Seq(0.5, 0.9))
      val n = delays.agg(count(lit(1)).as("n_converters"))
      qs.groupBy(col("g"))
        .agg(
          pround(max(when(col("q") === 0.5, col("value"))), 9).as("p50_delay_s"),
          pround(max(when(col("q") === 0.9, col("value"))), 9).as("p90_delay_s"))
        .crossJoin(broadcast(n))
        .select(col("n_converters"), col("p50_delay_s"), col("p90_delay_s"))
    }, Some(
      """WITH ev AS (SELECT event_type, CAST(ts AS TIMESTAMP) AS ts, user_id
        |  FROM events),
        |c AS (SELECT user_id, MIN(CAST(floor(epoch(ts)) AS BIGINT)) AS t_click
        |      FROM ev WHERE event_type = 'click' GROUP BY 1),
        |p AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t_p
        |      FROM ev WHERE event_type = 'purchase'),
        |d AS (SELECT c.user_id, c.t_click, MIN(p.t_p) AS t_purchase
        |      FROM c JOIN p USING (user_id) WHERE p.t_p >= c.t_click
        |      GROUP BY 1, 2),
        |dl AS (SELECT CAST(t_purchase - t_click AS DOUBLE) AS delay FROM d)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_converters,
        |  round(quantile_cont(delay, 0.5), 9) AS p50_delay_s,
        |  round(quantile_cont(delay, 0.9), 9) AS p90_delay_s
        |FROM dl""".stripMargin)),

    QuerySpec("q330_ordered_funnel", (s, dir) => {
      // ordered 3-step funnel (signup → click → purchase) [EXT] — the
      // general sequential-pattern funnel q92's single hop can't
      // express: each step must happen strictly AFTER the user's
      // matched previous step (first-match semantics, the standard
      // funnel definition). Three chained per-user min-aggs, each
      // joined to the previous step's timestamp — all equi-joins on
      // user, never a sequence window; counts + conversion fractions
      // close on 1 row.
      val ev = Dedup.cacheScoped(Tables.events(s, dir)
        .select(col("event_type"), col("user_id"),
          unix_timestamp(col("ts")).as("t")))
      val s1 = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("t")).as("t1"))
      val s2 = ev.filter(col("event_type") === "click")
        .join(s1, Seq("user_id")).filter(col("t") > col("t1"))
        .groupBy(col("user_id"), col("t1")).agg(min(col("t")).as("t2"))
      val s3 = ev.filter(col("event_type") === "purchase")
        .join(s2.select(col("user_id"), col("t2")), Seq("user_id"))
        .filter(col("t") > col("t2"))
        .groupBy(col("user_id")).agg(min(col("t")).as("t3"))
      val c1 = s1.agg(count(lit(1)).as("n_signup"))
      val c2 = s2.agg(count(lit(1)).as("n_then_click"))
      val c3 = s3.agg(count(lit(1)).as("n_then_purchase"))
      c1.crossJoin(c2).crossJoin(c3)
        .select(col("n_signup"), col("n_then_click"), col("n_then_purchase"),
          pround(col("n_then_click").cast("double")
            / col("n_signup").cast("double"), 9).as("step2_rate"),
          pround(col("n_then_purchase").cast("double")
            / col("n_then_click").cast("double"), 9).as("step3_rate"))
    }, Some(
      """WITH ev AS (SELECT event_type, user_id,
        |    CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS t
        |  FROM events),
        |s1 AS (SELECT user_id, MIN(t) AS t1 FROM ev
        |       WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT e.user_id, s1.t1, MIN(e.t) AS t2
        |       FROM ev e JOIN s1 USING (user_id)
        |       WHERE e.event_type = 'click' AND e.t > s1.t1 GROUP BY 1, 2),
        |s3 AS (SELECT e.user_id, MIN(e.t) AS t3
        |       FROM ev e JOIN s2 USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.t > s2.t2 GROUP BY 1)
        |SELECT
        |  CAST((SELECT COUNT(*) FROM s1) AS BIGINT) AS n_signup,
        |  CAST((SELECT COUNT(*) FROM s2) AS BIGINT) AS n_then_click,
        |  CAST((SELECT COUNT(*) FROM s3) AS BIGINT) AS n_then_purchase,
        |  round(CAST((SELECT COUNT(*) FROM s2) AS DOUBLE)
        |    / CAST((SELECT COUNT(*) FROM s1) AS DOUBLE), 9) AS step2_rate,
        |  round(CAST((SELECT COUNT(*) FROM s3) AS DOUBLE)
        |    / CAST((SELECT COUNT(*) FROM s2) AS DOUBLE), 9) AS step3_rate""".stripMargin)),

    QuerySpec("q344_rfm", (s, dir) => {
      // RFM segmentation [EXT] — the classic churn/value feature
      // triple: per user Recency (days since last event), Frequency
      // (event count), Monetary (exact centi-sum of value), each cut
      // into terciles by the two-pass dense-id rank (never an ntile
      // global window — q319's discipline), composed into the 27
      // R·F·M segments with counts and per-segment means. Output is
      // the segment SUMMARY (≤27 rows); the per-user frame never
      // leaves the executors.
      val D = DecimalType(38, 0)
      val asOf = to_date(lit("2024-02-01"))
      val u = Tables.events(s, dir).groupBy(col("user_id"))
        .agg(max(col("ts")).as("last_ts"), count(lit(1)).as("freq"),
          sum(floor(col("value") * 100 + 0.5).cast(D)).as("mon"))
        .withColumn("rec", datediff(asOf, to_date(col("last_ts"))).cast("long"))
        .drop("last_ts")
      def tercile(df: DataFrame, c: String, asc: Boolean): DataFrame = {
        val ord = if (asc) struct(col(c), col("user_id"))
          else struct(-col(c), col("user_id"))
        // r19: the user count rides out of the dense-id counts pass for
        // free — the former ranked.agg(count) job (one full re-scan of
        // the checkpointed frame per tercile, ×3) is gone
        val (ranked, nu) = graft.operators.DocPipeline
          .withDenseIdsAndCount(df, ord, "rid")
        ranked
          .withColumn(s"${c}_score",
            (col("rid") * 3 / lit(nu)).cast("int") + 1)
          .drop("rid")
      }
      // recency: LOWER is better → asc rank gives score 1 = most recent
      // (score 3 = stale); freq/monetary: HIGHER is better → desc rank
      val scored = tercile(tercile(tercile(u, "rec", asc = true),
        "freq", asc = false), "mon", asc = false)
      scored.groupBy(col("rec_score"), col("freq_score"), col("mon_score"))
        .agg(count(lit(1)).as("n_users"), sum(col("rec")).as("sr"),
          sum(col("freq")).as("sf"), sum(col("mon")).as("sm"))
        .select(col("rec_score"), col("freq_score"), col("mon_score"),
          col("n_users"),
          pround(col("sr").cast("double") / col("n_users").cast("double"), 9)
            .as("avg_recency_days"),
          pround(col("sf").cast("double") / col("n_users").cast("double"), 9)
            .as("avg_frequency"),
          pround(col("sm").cast("double") / 100.0
            / col("n_users").cast("double"), 9).as("avg_monetary"))
        .orderBy(col("rec_score"), col("freq_score"), col("mon_score"))
    }, Some(
      s"""$evCte,
         |u AS (SELECT user_id, MAX(ts) AS last_ts, COUNT(*) AS freq,
         |        SUM(CAST(FLOOR(value * 100 + 0.5) AS HUGEINT)) AS mon
         |      FROM ev GROUP BY 1),
         |u2 AS (SELECT user_id,
         |         datediff('day', CAST(last_ts AS DATE), DATE '2024-02-01') AS rec,
         |         freq, mon FROM u),
         |nu AS (SELECT COUNT(*) AS nu FROM u2),
         |r AS (SELECT u2.*,
         |        CAST(((row_number() OVER (ORDER BY rec, user_id) - 1) * 3)
         |          // nu.nu AS INT) + 1 AS rec_score,
         |        CAST(((row_number() OVER (ORDER BY freq DESC, user_id) - 1) * 3)
         |          // nu.nu AS INT) + 1 AS freq_score,
         |        CAST(((row_number() OVER (ORDER BY mon DESC, user_id) - 1) * 3)
         |          // nu.nu AS INT) + 1 AS mon_score
         |      FROM u2, nu)
         |SELECT rec_score, freq_score, mon_score,
         |  CAST(COUNT(*) AS BIGINT) AS n_users,
         |  round(CAST(SUM(rec) AS DOUBLE) / COUNT(*), 9) AS avg_recency_days,
         |  round(CAST(SUM(freq) AS DOUBLE) / COUNT(*), 9) AS avg_frequency,
         |  round(CAST(SUM(mon) AS DOUBLE) / 100.0 / COUNT(*), 9) AS avg_monetary
         |FROM r GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),
  )
}

package graft
package catalog

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Dedup

import Parity._

/** Time-series queries: autocorrelation (the shared ACF frame), trend and
  * changepoint tests, seasonal decomposition, control charts, forecasting
  * and sequence distance. */
object TimeSeriesQueries {

  /** Lag-1..maxLag autocorrelation frame of the per-type daily count
    * series — q238's pipeline factored so PACF (q279) rides the SAME
    * arithmetic (see q238's scaladoc for the parity argument). Returns
    * (event_type, lag, n_pairs, acf[floor-9]). */
  private def acfFrame(s: SparkSession, dir: String, maxLag: Int): DataFrame = {
    val daily = Dedup.cacheScoped(Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x")))
    val mu = daily.groupBy(col("event_type"))
      .agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
      .select(col("event_type"), (col("sx").cast("double") / col("n")).as("mu"))
    val c = daily.join(broadcast(mu), Seq("event_type"))
    val den = c.select(col("event_type"),
        (floor((col("x") - col("mu")) * (col("x") - col("mu")) * 1e12 + 0.5) / 1e12)
          .cast(DecimalType(27, 14)).as("d2"))
      .groupBy(col("event_type")).agg(sum(col("d2")).cast("double").as("den"))
    val num = c.withColumn("lag", explode(sequence(lit(1), lit(maxLag))))
      .select(col("event_type"), col("lag"),
        date_add(col("day"), col("lag")).as("day"), col("x").as("x0"), col("mu"))
      .join(daily.select(col("event_type"), col("day"), col("x").as("x1")),
        Seq("event_type", "day"))
      .select(col("event_type"), col("lag"),
        (floor((col("x0") - col("mu")) * (col("x1") - col("mu")) * 1e12 + 0.5) / 1e12)
          .cast(DecimalType(27, 14)).as("p2"))
      .groupBy(col("event_type"), col("lag"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("p2")).cast("double").as("num"))
    num.join(broadcast(den), Seq("event_type"))
      .filter(col("den") > 0)
      .select(col("event_type"), col("lag").cast("long").as("lag"), col("n_pairs"),
        (floor(col("num") / col("den") * 1e9 + 0.5) / 1e9).as("acf"))
  }

  /** DuckDB twin of [[acfFrame]] — CTE chain ending in
    * `acfv(event_type, lag, n_pairs, acf)`, shared by the q238 and
    * q279 oracles. */
  private def acfCte(maxLag: Int): String =
    s"""$evCte,
       |daily AS (SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
       |            COUNT(*) AS x
       |          FROM ev GROUP BY 1, 2),
       |mu AS (SELECT event_type, CAST(SUM(x) AS DOUBLE) / COUNT(*) AS mu
       |       FROM daily GROUP BY 1),
       |c AS (SELECT d.event_type, d.day, d.x, m.mu
       |      FROM daily d JOIN mu m USING (event_type)),
       |den AS (SELECT event_type,
       |          CAST(SUM(CAST(FLOOR((x - mu) * (x - mu) * 1e12 + 0.5) / 1e12
       |            AS DECIMAL(27,14))) AS DOUBLE) AS den
       |        FROM c GROUP BY 1),
       |lagged AS (SELECT c.event_type, g.lag, c.day + CAST(g.lag AS INTEGER) AS day,
       |             c.x AS x0, c.mu
       |           FROM c, (SELECT unnest(generate_series(1, $maxLag)) AS lag) g),
       |num AS (SELECT l.event_type, l.lag, COUNT(*) AS n_pairs,
       |          CAST(SUM(CAST(FLOOR((l.x0 - l.mu) * (d.x - l.mu) * 1e12 + 0.5) / 1e12
       |            AS DECIMAL(27,14))) AS DOUBLE) AS num
       |        FROM lagged l JOIN daily d
       |          ON d.event_type = l.event_type AND d.day = l.day
       |        GROUP BY 1, 2),
       |acfv AS (SELECT n.event_type, n.lag, n.n_pairs,
       |           FLOOR(n.num / de.den * 1e9 + 0.5) / 1e9 AS acf
       |         FROM num n JOIN den de USING (event_type)
       |         WHERE de.den > 0)""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q207_cusum_changepoint", (s, dir) => {
      // CUSUM changepoint score on daily event rates — the monitoring
      // primitive that catches a PERSISTENT rate shift where q87's
      // z-score flags single outliers: S_i = C_i − min_{j≤i} C_j with
      // C = Σ(x·D − T) (deviations from the mean, SCALED BY the day
      // count so everything stays integer — no float recurrence), the
      // running-max identity that turns the textbook max(0, S+x−μ)
      // recurrence into two prefix passes. Day frames are bounded by
      // the CALENDAR (≤ 365·years rows per type at any corpus size),
      // so per-type windows are the legitimately-bounded exception to
      // the no-partitioned-window rule (q110's argument). One scan,
      // one (type, day) agg, exact until the final divide.
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), date_trunc("DAY", col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
      val wAll = Window.partitionBy(col("event_type"))
      val wOrd = wAll.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily
        .withColumn("dcnt", count(lit(1)).over(wAll))
        .withColumn("tot", sum(col("x")).over(wAll))
        .withColumn("c", sum(col("x") * col("dcnt") - col("tot")).over(wOrd))
        .withColumn("s", col("c") - min(col("c")).over(wOrd))
        .select(col("event_type"), col("day"),
          (floor(col("s").cast("double") / col("dcnt") * 1e9 + 0.5) / 1e9)
            .as("cusum"))
        .orderBy(desc("cusum"), col("event_type"), col("day")).limit(10)
    }, Some(
      s"""$evCte,
         |daily AS (SELECT event_type, date_trunc('day', ts) AS day, COUNT(*) AS x
         |          FROM ev GROUP BY 1, 2),
         |m AS (SELECT event_type, day, x,
         |        COUNT(*) OVER (PARTITION BY event_type) AS dcnt,
         |        SUM(x) OVER (PARTITION BY event_type) AS tot
         |      FROM daily),
         |c AS (SELECT event_type, day, dcnt,
         |        SUM(x * dcnt - tot) OVER
         |          (PARTITION BY event_type ORDER BY day
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs
         |      FROM m),
         |sc AS (SELECT event_type, day, dcnt,
         |         cs - MIN(cs) OVER
         |           (PARTITION BY event_type ORDER BY day
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
         |       FROM c)
         |SELECT event_type, day,
         |  FLOOR(CAST(s AS DOUBLE) / dcnt * 1e9 + 0.5) / 1e9 AS cusum
         |FROM sc ORDER BY cusum DESC, event_type, day LIMIT 10""".stripMargin)),

    QuerySpec("q220_mann_kendall", (s, dir) => {
      // Mann–Kendall monotonic-trend test on daily event counts per
      // type — IS volume drifting up or down (q207's CUSUM finds WHERE
      // a shift happened; this scores WHETHER a monotone trend
      // exists): S = Σ_{i<j} sign(x_j − x_i) over day pairs, exact
      // integer; the pair join is CALENDAR²-bounded per type (q207's
      // bounded-day argument squared — still tiny at any corpus
      // size). Tie-corrected variance, z = (S ∓ 1)/√var, one
      // floor-round at the end.
      val daily = Dedup.cacheScoped(Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x")))
      val pairs = daily.select(col("event_type"), col("day").as("d1"), col("x").as("x1"))
        .join(daily.select(col("event_type"), col("day").as("d2"), col("x").as("x2")),
          Seq("event_type"))
        .filter(col("d1") < col("d2"))
      val sAgg = pairs.groupBy(col("event_type"))
        .agg(sum(signum(col("x2") - col("x1")).cast("long")).as("s_stat"))
      val nAgg = daily.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      val ties = daily.groupBy(col("event_type"), col("x"))
        .agg(count(lit(1)).as("t"))
        .groupBy(col("event_type"))
        .agg(sum(col("t") * (col("t") - 1) * (lit(2) * col("t") + 5)).as("tsum"))
      val varExpr = (col("n") * (col("n") - 1) * (lit(2) * col("n") + 5) - col("tsum"))
        .cast("double") / 18.0
      val z = when(col("s_stat") > 0, (col("s_stat") - 1).cast("double") / sqrt(varExpr))
        .when(col("s_stat") < 0, (col("s_stat") + 1).cast("double") / sqrt(varExpr))
        .otherwise(lit(0.0))
      sAgg.join(nAgg, Seq("event_type")).join(ties, Seq("event_type"))
        .select(col("event_type"), col("n").as("n_days"), col("s_stat"),
          (floor(z * 1e9 + 0.5) / 1e9).as("z"))
        .orderBy(col("event_type"))
    }, Some(
      s"""$evCte,
         |daily AS (SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS x
         |          FROM ev GROUP BY 1, 2),
         |p AS (SELECT a.event_type,
         |        CAST(SUM(CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
         |      FROM daily a JOIN daily b
         |        ON a.event_type = b.event_type AND a.day < b.day
         |      GROUP BY 1),
         |n AS (SELECT event_type, COUNT(*) AS n FROM daily GROUP BY 1),
         |tg AS (SELECT event_type, x, COUNT(*) AS t FROM daily GROUP BY 1, 2),
         |ts2 AS (SELECT event_type, SUM(t * (t - 1) * (2 * t + 5)) AS tsum FROM tg GROUP BY 1),
         |j AS (SELECT p.event_type, n.n, p.s_stat,
         |        CAST(n.n * (n.n - 1) * (2 * n.n + 5) - ts2.tsum AS DOUBLE) / 18.0 AS v
         |      FROM p JOIN n USING (event_type) JOIN ts2 USING (event_type))
         |SELECT event_type, n AS n_days, s_stat,
         |  FLOOR(CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE) / SQRT(v)
         |             WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE) / SQRT(v)
         |             ELSE 0.0 END * 1e9 + 0.5) / 1e9 AS z
         |FROM j ORDER BY event_type""".stripMargin)),

    QuerySpec("q223_seasonal_decompose", (s, dir) => {
      // STL-lite additive decomposition of daily event volume per type
      // [EXT]: trend = centered 7-day moving average (full windows
      // only), seasonal = day-of-week mean of the detrended series,
      // residual = detrended − seasonal — the monitoring decomposition
      // that separates "weekend dip" from "real drop" (q207 flags
      // level shifts; this explains the periodic part). Day frames are
      // calendar-bounded (q207's argument), so the per-type ordered
      // window is legitimate at any corpus size; dow means reduce with
      // the house pround+decimal discipline. dow via weekday()+1 =
      // DuckDB's isodow (Mon=1) — Spark's dayofweek() starts at
      // Sunday and would silently shift the seasonal index.
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), date_trunc("DAY", col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
      val w7 = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rowsBetween(-3, 3)
      val t = daily
        .withColumn("s7", sum(col("x")).over(w7))
        .withColumn("c7", count(lit(1)).over(w7))
        .withColumn("trend", when(col("c7") === 7, col("s7") / lit(7.0)))
        .withColumn("detr", col("x") - col("trend"))
        .withColumn("dow", weekday(col("day")) + 1)
      val seas = t.filter(col("detr").isNotNull)
        .groupBy(col("event_type"), col("dow"))
        .agg((sum(pround(col("detr"), 9).cast(DecimalType(27, 9))).cast("double")
          / count(lit(1))).as("s0"))
      t.join(seas, Seq("event_type", "dow"), "left")
        .select(col("event_type"), col("day"), col("x"),
          pround(col("trend"), 9).as("trend"),
          pround(col("s0"), 9).as("seasonal"),
          pround(col("detr") - col("s0"), 9).as("residual"))
        .orderBy(col("event_type"), col("day"))
    }, Some(
      s"""$evCte,
         |daily AS (SELECT event_type, date_trunc('day', ts) AS day, COUNT(*) AS x
         |          FROM ev GROUP BY 1, 2),
         |m AS (SELECT event_type, day, x,
         |        SUM(x) OVER w7 AS s7, COUNT(*) OVER w7 AS c7,
         |        isodow(day) AS dow
         |      FROM daily
         |      WINDOW w7 AS (PARTITION BY event_type ORDER BY day
         |                    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
         |t2 AS (SELECT event_type, day, x, dow,
         |         CASE WHEN c7 = 7 THEN CAST(s7 AS DOUBLE) / 7.0 END AS trend,
         |         x - (CASE WHEN c7 = 7 THEN CAST(s7 AS DOUBLE) / 7.0 END) AS detr
         |       FROM m),
         |seas AS (SELECT event_type, dow,
         |           CAST(SUM(CAST(round(detr, 9) AS DECIMAL(27,9))) AS DOUBLE)
         |             / COUNT(*) AS s0
         |         FROM t2 WHERE detr IS NOT NULL GROUP BY 1, 2)
         |SELECT t2.event_type, t2.day, t2.x,
         |  round(trend, 9) AS trend, round(s0, 9) AS seasonal,
         |  round(detr - s0, 9) AS residual
         |FROM t2 LEFT JOIN seas ON t2.event_type = seas.event_type AND t2.dow = seas.dow
         |ORDER BY t2.event_type, t2.day""".stripMargin)),

    QuerySpec("q225_theil_sen", (s, dir) => {
      // Theil–Sen robust trend [EXT]: the median of all pairwise daily
      // slopes per event_type — the estimator that shrugs off the
      // outlier days that wreck q103's least squares (29% breakdown
      // point vs 0%). Day-pair frames are calendar²-bounded per type
      // (q220's argument — ≤ (365·years)², never corpus-sized), and
      // the median rides the no-buffer histogram-refinement selector,
      // bit-equal to quantile_cont.
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), date_trunc("DAY", col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
        .withColumn("di", datediff(col("day"), to_date(lit("2024-01-01"))))
      val a = daily.select(col("event_type"), col("di").as("da"), col("x").as("xa"))
      val b = daily.select(col("event_type"), col("di").as("db"), col("x").as("xb"))
      val slopes = Dedup.cacheScoped(
        a.join(b, Seq("event_type")).filter(col("db") > col("da"))
          .select(col("event_type"),
            ((col("xb") - col("xa")).cast("double") / (col("db") - col("da")))
              .as("slope")))
      val med = graft.operators.Selection.exactGroupedQuantiles(
        slopes, "event_type", "slope", Seq(0.5))
      val n = slopes.groupBy(col("event_type")).agg(count(lit(1)).as("n_pairs"))
      med.join(n, Seq("event_type"))
        .select(col("event_type"), col("n_pairs"), pround(col("value"), 9).as("sen_slope"))
        .orderBy(col("event_type"))
    }, Some(
      s"""$evCte,
         |daily AS (SELECT event_type, date_trunc('day', ts) AS day, COUNT(*) AS x
         |          FROM ev GROUP BY 1, 2),
         |d2 AS (SELECT event_type,
         |         date_diff('day', TIMESTAMP '2024-01-01', day) AS di, x FROM daily),
         |p AS (SELECT a.event_type,
         |        CAST(b.x - a.x AS DOUBLE) / (b.di - a.di) AS slope
         |      FROM d2 a JOIN d2 b ON a.event_type = b.event_type AND b.di > a.di)
         |SELECT event_type, COUNT(*) AS n_pairs,
         |  round(quantile_cont(slope, 0.5), 9) AS sen_slope
         |FROM p GROUP BY event_type ORDER BY event_type""".stripMargin)),

    QuerySpec("q229_rolling_correlation", (s, dir) => {
      // 7-day rolling Pearson correlation between daily click and
      // purchase volumes [EXT] — the co-movement monitor behind "did
      // the funnel decouple?" (q103 fits ONE global line; this tracks
      // the relationship day by day). All sums are exact integers
      // inside calendar-bounded frames (≤ 365·years rows total — the
      // single ordered series is the documented tiny-frame exception,
      // like q207); the closing r = (n·sxy − sx·sy)/√(...) is pure
      // IEEE, identical in both engines; degenerate windows (zero
      // variance) drop via the den > 0 guard on both sides.
      val ev = Tables.events(s, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .groupBy(date_trunc("DAY", col("ts")).as("day"))
        .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
      val w7 = Window.orderBy(col("day")).rowsBetween(-6, 0)
      val m = ev
        .withColumn("cnt", count(lit(1)).over(w7))
        .withColumn("sx", sum(col("x")).over(w7))
        .withColumn("sy", sum(col("y")).over(w7))
        .withColumn("sxy", sum(col("x") * col("y")).over(w7))
        .withColumn("sxx", sum(col("x") * col("x")).over(w7))
        .withColumn("syy", sum(col("y") * col("y")).over(w7))
        .filter(col("cnt") === 7)
      val num = (col("cnt") * col("sxy") - col("sx") * col("sy")).cast("double")
      val den = sqrt((col("cnt") * col("sxx") - col("sx") * col("sx")).cast("double")
        * (col("cnt") * col("syy") - col("sy") * col("sy")).cast("double"))
      m.filter((col("cnt") * col("sxx") - col("sx") * col("sx")) > 0 &&
          (col("cnt") * col("syy") - col("sy") * col("sy")) > 0)
        .select(col("day"), pround(num / den, 9).as("r"))
        .orderBy(col("day"))
    }, Some(
      s"""$evCte,
         |daily AS (SELECT date_trunc('day', ts) AS day,
         |            SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x,
         |            SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
         |          FROM ev WHERE event_type IN ('click', 'purchase') GROUP BY 1),
         |m AS (SELECT day,
         |        COUNT(*) OVER w AS cnt, SUM(x) OVER w AS sx, SUM(y) OVER w AS sy,
         |        SUM(x * y) OVER w AS sxy, SUM(x * x) OVER w AS sxx,
         |        SUM(y * y) OVER w AS syy
         |      FROM daily
         |      WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
         |SELECT day, round(CAST(cnt * sxy - sx * sy AS DOUBLE)
         |  / sqrt(CAST(cnt * sxx - sx * sx AS DOUBLE)
         |         * CAST(cnt * syy - sy * sy AS DOUBLE)), 9) AS r
         |FROM m
         |WHERE cnt = 7 AND cnt * sxx - sx * sx > 0 AND cnt * syy - sy * sy > 0
         |ORDER BY day""".stripMargin)),

    QuerySpec("q238_acf", (s, dir) => {
      // lag-1..7 autocorrelation of the daily event count per type
      // [EXT] — Box–Jenkins model identification for the volume series:
      // a spike at lag 7 CONFIRMS the weekly period q223's decompose
      // assumes, decay across lags separates trend from noise (q229
      // correlates two DIFFERENT series; the ACF correlates a series
      // with its own shifted self). Daily counts are exact ints; the
      // full-series mean enters every centered product as the same IEEE
      // double; the 7 lag alignments are one explode + equi-join on the
      // shifted day (calendar-bounded — never a window over the
      // series); products floor-round at 12, reduce in DECIMAL, and
      // each lag closes with a single floor-9 ratio against the lag-0
      // denominator.
      acfFrame(s, dir, 7).orderBy(col("event_type"), col("lag"))
    }, Some(
      s"""${acfCte(7)}
         |SELECT event_type, CAST(lag AS BIGINT) AS lag, n_pairs, acf
         |FROM acfv ORDER BY event_type, lag""".stripMargin)),

    QuerySpec("q246_burstiness", (s, dir) => {
      // volume burstiness per event_type [EXT] — point-process QC for
      // the ingest stream: Fano factor Var/Mean of the daily count (1
      // for Poisson traffic, ≫1 for bursty; the overdispersion test
      // behind "is this organic or a bot flood") and Goh–Barabási
      // B = (σ−μ)/(σ+μ) ∈ (−1, 1). All moments are exact-integer sums
      // over the ≤calendar-row daily frame; Σx² widens through
      // DECIMAL(38,0) (long Σx² wraps once daily counts reach ~10⁹ at
      // corpus scale — the q222 wrap lesson); the closings are a
      // handful of IEEE ops from exact-int casts, floor-rounded once.
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
      daily.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("x").cast(DecimalType(38, 0)) * col("x")).as("sxx"))
        .filter(col("n") > 1 && col("sx") > 0)
        .select(col("event_type"), col("n").as("n_days"),
          (floor((col("n").cast(DecimalType(38, 0)) * col("sxx")
            - col("sx").cast(DecimalType(38, 0)) * col("sx")).cast("double")
            / (col("n") * (col("n") - 1)).cast("double")
            / (col("sx").cast("double") / col("n")) * 1e9 + 0.5) / 1e9).as("fano"),
          (floor((sqrt((col("n").cast(DecimalType(38, 0)) * col("sxx")
              - col("sx").cast(DecimalType(38, 0)) * col("sx")).cast("double")
              / (col("n") * (col("n") - 1)).cast("double"))
            - col("sx").cast("double") / col("n"))
            / (sqrt((col("n").cast(DecimalType(38, 0)) * col("sxx")
              - col("sx").cast(DecimalType(38, 0)) * col("sx")).cast("double")
              / (col("n") * (col("n") - 1)).cast("double"))
            + col("sx").cast("double") / col("n")) * 1e9 + 0.5) / 1e9).as("b_coef"))
        .orderBy(col("event_type"))
    }, Some(
      s"""$evCte,
         |daily AS (SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         |            COUNT(*) AS x
         |          FROM ev GROUP BY 1, 2),
         |m AS (SELECT event_type, COUNT(*) AS n, SUM(x) AS sx,
         |        SUM(CAST(x AS HUGEINT) * x) AS sxx
         |      FROM daily GROUP BY 1),
         |v AS (SELECT event_type, n,
         |        CAST(n * sxx - sx * sx AS DOUBLE)
         |          / CAST(n * (n - 1) AS DOUBLE) AS var,
         |        CAST(sx AS DOUBLE) / n AS mu
         |      FROM m WHERE n > 1 AND sx > 0)
         |SELECT event_type, CAST(n AS BIGINT) AS n_days,
         |  FLOOR(var / mu * 1e9 + 0.5) / 1e9 AS fano,
         |  FLOOR((sqrt(var) - mu) / (sqrt(var) + mu) * 1e9 + 0.5) / 1e9 AS b_coef
         |FROM v ORDER BY event_type""".stripMargin)),

    QuerySpec("q248_mase", (s, dir) => {
      // seasonal-naive forecast error (MASE) per event_type [EXT] —
      // Hyndman's scale-free forecast-accuracy metric: MAE of the
      // seasonal-naive forecast x̂_t = x_{t−7} scaled by the in-sample
      // MAE of the plain naive x̂_t = x_{t−1}; < 1 means "the weekly
      // pattern predicts better than persistence" — the acceptance
      // gate for q223's seasonal model. Absolute diffs are exact
      // integers over the two calendar-bounded self-joins (q238's
      // shifted-day equi-join shape); MASE = Σe·n₁ / (n₇·Σb) stays in
      // exact integer arithmetic until one final division, floor-9.
      val daily = Dedup.cacheScoped(Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x")))
      def shifted(lag: Int, en: String, xn: String) = daily.select(
        col("event_type"), date_add(col("day"), lag).as("day"), col("x").as(xn))
        .join(daily.select(col("event_type"), col("day"), col("x").as(en)),
          Seq("event_type", "day"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as(s"n_$xn"),
          sum(abs(col(en) - col(xn))).as(s"s_$xn"))
      shifted(7, "e7", "x7").join(shifted(1, "e1", "x1"), Seq("event_type"))
        .filter(col("s_x1") > 0)
        .select(col("event_type"), col("n_x7").as("n_pairs7"),
          col("n_x1").as("n_pairs1"),
          (floor((col("s_x7") * col("n_x1")).cast("double")
            / (col("n_x7") * col("s_x1")).cast("double") * 1e9 + 0.5) / 1e9)
            .as("mase"))
        .orderBy(col("event_type"))
    }, Some(
      s"""$evCte,
         |daily AS (SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         |            COUNT(*) AS x
         |          FROM ev GROUP BY 1, 2),
         |p7 AS (SELECT a.event_type, COUNT(*) AS n7, SUM(abs(b.x - a.x)) AS s7
         |       FROM daily a JOIN daily b
         |         ON b.event_type = a.event_type AND b.day = a.day + 7
         |       GROUP BY 1),
         |p1 AS (SELECT a.event_type, COUNT(*) AS n1, SUM(abs(b.x - a.x)) AS s1
         |       FROM daily a JOIN daily b
         |         ON b.event_type = a.event_type AND b.day = a.day + 1
         |       GROUP BY 1)
         |SELECT p7.event_type, CAST(n7 AS BIGINT) AS n_pairs7,
         |  CAST(n1 AS BIGINT) AS n_pairs1,
         |  FLOOR(CAST(s7 * n1 AS DOUBLE) / CAST(n7 * s1 AS DOUBLE)
         |    * 1e9 + 0.5) / 1e9 AS mase
         |FROM p7 JOIN p1 USING (event_type)
         |WHERE s1 > 0 ORDER BY event_type""".stripMargin)),

    QuerySpec("q269_changepoint", (s, dir) => {
      // single-changepoint estimate (binary segmentation, first level)
      // on the daily total-value series [EXT] — "WHEN did the metric
      // shift": q207's CUSUM monitors drift online, this RETROSPECTIVELY
      // locates the split t maximizing the between-segment sum of
      // squares BSS(t) = (S_t − t·S_T/T)²·T/(t(T−t)) — the first
      // recursion level of binary segmentation. One corpus pass (daily
      // DECIMAL sums — exact, order-free), then all candidate splits on
      // the ≤|days| frame: prefix sums stay in DECIMAL (a windowed
      // double sum would tie the hash to the engine's summation tree),
      // statistics convert once to double, mirrored term-for-term;
      // argmax by (gain DESC, day) is total. Tiny-frame global window
      // only (|days| rows).
      val daily = Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(col("value").cast(DecimalType(18, 4))).as("y"))
      val w = Window.orderBy(col("day"))
      val cum = daily
        .withColumn("t", row_number().over(w).cast("long"))
        .withColumn("st", sum(col("y")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val tot = daily.agg(count(lit(1)).as("tt"), sum(col("y")).as("stt"))
      cum.crossJoin(broadcast(tot))
        .filter(col("t") < col("tt"))
        .withColumn("std", col("st").cast("double"))
        .withColumn("sttd", col("stt").cast("double"))
        .withColumn("diff", col("std")
          - col("t").cast("double") * col("sttd") / col("tt").cast("double"))
        .withColumn("gain", pround(col("diff") * col("diff") * col("tt").cast("double")
          / (col("t").cast("double") * (col("tt") - col("t")).cast("double")), 6))
        .orderBy(desc("gain"), col("day")).limit(1)
        .select(col("day").as("split_day"), col("t").as("n_left"),
          (col("tt") - col("t")).as("n_right"), col("gain"),
          pround(col("std") / col("t").cast("double"), 6).as("mean_left"),
          pround((col("sttd") - col("std"))
            / (col("tt") - col("t")).cast("double"), 6).as("mean_right"))
    }, Some(
      s"""$evCte,
         |daily AS (SELECT CAST(ts AS DATE) AS day,
         |            SUM(CAST(value AS DECIMAL(18,4))) AS y FROM ev GROUP BY 1),
         |cum AS (SELECT day, row_number() OVER (ORDER BY day) AS t,
         |          SUM(y) OVER (ORDER BY day
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS st
         |        FROM daily),
         |tot AS (SELECT COUNT(*) AS tt, SUM(y) AS stt FROM daily),
         |g AS (SELECT day, t, tt, CAST(st AS DOUBLE) AS std, CAST(stt AS DOUBLE) AS sttd,
         |        round((CAST(st AS DOUBLE)
         |            - CAST(t AS DOUBLE) * CAST(stt AS DOUBLE) / CAST(tt AS DOUBLE))
         |          * (CAST(st AS DOUBLE)
         |            - CAST(t AS DOUBLE) * CAST(stt AS DOUBLE) / CAST(tt AS DOUBLE))
         |          * CAST(tt AS DOUBLE)
         |          / (CAST(t AS DOUBLE) * CAST(tt - t AS DOUBLE)), 6) AS gain
         |      FROM cum, tot WHERE t < tt)
         |SELECT day AS split_day, CAST(t AS BIGINT) AS n_left,
         |  CAST(tt - t AS BIGINT) AS n_right, gain,
         |  round(std / CAST(t AS DOUBLE), 6) AS mean_left,
         |  round((sttd - std) / CAST(tt - t AS DOUBLE), 6) AS mean_right
         |FROM g ORDER BY gain DESC, day LIMIT 1""".stripMargin)),

    QuerySpec("q273_sax_motifs", (s, dir) => {
      // SAX motif discovery on the daily-volume series [EXT] — symbolic
      // aggregate approximation: z-normalize the daily counts, map to a
      // 4-letter alphabet at the N(0,1) quartile breakpoints (±0.6745,
      // 0 — literals), and count 3-day words; the top motifs are the
      // series' recurring local shapes (the time-series twin of q237's
      // path trigrams). Calendar joins align consecutive days (q238's
      // discipline — never a window over the series); counts are exact
      // ints, z pround(9) before the breakpoint compare so a last-ulp
      // can't flip a letter; population variance via double-first
      // products (exact-int squares would overflow long at corpus
      // scale).
      val daily = Dedup.cacheScoped(Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("x")))
      val st = daily.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum((col("x").cast(DecimalType(38, 0)) * col("x"))).as("sxx"))
      val lettered = daily.crossJoin(broadcast(st))
        .filter(col("n") > 1)
        .withColumn("m", col("sx").cast("double") / col("n").cast("double"))
        .withColumn("v", col("sxx").cast("double") / col("n").cast("double")
          - col("m") * col("m"))
        .filter(col("v") > 0)
        .withColumn("z", pround((col("x").cast("double") - col("m")) / sqrt(col("v")), 9))
        .withColumn("l", when(col("z") < -0.6745, lit("a"))
          .when(col("z") < 0.0, lit("b"))
          .when(col("z") < 0.6745, lit("c")).otherwise(lit("d")))
        .select(col("day"), col("l"))
      lettered.as("d0")
        .join(lettered.as("d1"), date_add(col("d0.day"), 1) === col("d1.day"))
        .join(lettered.as("d2"), date_add(col("d0.day"), 2) === col("d2.day"))
        .select(concat(col("d0.l"), col("d1.l"), col("d2.l")).as("motif"))
        .groupBy(col("motif")).agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), col("motif")).limit(5)
    }, Some(
      s"""$evCte,
         |daily AS (SELECT CAST(ts AS DATE) AS day, COUNT(*) AS x FROM ev GROUP BY 1),
         |st AS (SELECT COUNT(*) AS n, SUM(x) AS sx,
         |         SUM(CAST(x AS HUGEINT) * x) AS sxx FROM daily),
         |z AS (SELECT day,
         |        round((CAST(x AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
         |          / sqrt(CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE)
         |            - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
         |              * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))), 9) AS zz
         |      FROM daily, st
         |      WHERE n > 1 AND CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE)
         |        - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
         |          * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) > 0),
         |lettered AS (SELECT day,
         |        CASE WHEN zz < -0.6745 THEN 'a' WHEN zz < 0.0 THEN 'b'
         |             WHEN zz < 0.6745 THEN 'c' ELSE 'd' END AS l
         |      FROM z)
         |SELECT d0.l || d1.l || d2.l AS motif, COUNT(*) AS cnt
         |FROM lettered d0
         |JOIN lettered d1 ON d0.day + 1 = d1.day
         |JOIN lettered d2 ON d0.day + 2 = d2.day
         |GROUP BY 1 ORDER BY cnt DESC, motif LIMIT 5""".stripMargin)),

    QuerySpec("q275_durbin_watson", (s, dir) => {
      // Durbin–Watson serial-correlation test on daily-trend residuals
      // [EXT] — the regression-diagnostics gap: q103 fits the line,
      // q238 autocorrelates the RAW series; DW asks whether the
      // RESIDUALS of a fitted trend still carry lag-1 structure (if so,
      // the trend's SEs are fiction — the classic monitoring false-
      // confidence trap). OLS on the ≤|days| frame from exact sums
      // (DECIMAL for Σy/Σty, longs for Σt/Σt²) → doubles once,
      // mirrored; residuals pround(9); adjacent pairs by row-index
      // equi-join; num/den terms pround(12)→DECIMAL. Tiny-frame global
      // window only (row_number over |days|).
      val daily = Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(col("value").cast(DecimalType(18, 4))).as("y"))
      val w = Window.orderBy(col("day"))
      val idx = Dedup.cacheScoped(daily
        .withColumn("t", row_number().over(w).cast("long"))
        .withColumn("yd", col("y").cast("double")))
      // y·t double-FIRST then pround(4): the DECIMAL(28,4)·long product
      // trips Spark's allowPrecisionLoss scale truncation (q233 lesson)
      // — the rounded double product is the exact decimal value and
      // engine-identical below ~1e12 magnitude
      val st = idx.agg(count(lit(1)).as("n"), sum(col("t")).as("st1"),
        sum(col("y")).as("sy"),
        sum(pround(col("yd") * col("t").cast("double"), 4)
          .cast(DecimalType(38, 6))).as("sty"),
        sum(col("t") * col("t")).as("st2"))
      val nd = col("n").cast("double")
      val fit = st.filter(col("n") > 2)
        .withColumn("st1d", col("st1").cast("double"))
        .withColumn("syd", col("sy").cast("double"))
        .withColumn("styd", col("sty").cast("double"))
        .withColumn("st2d", col("st2").cast("double"))
        .withColumn("b", (nd * col("styd") - col("st1d") * col("syd"))
          / (nd * col("st2d") - col("st1d") * col("st1d")))
        .withColumn("a", (col("syd") - col("b") * col("st1d")) / nd)
        .select(col("a"), col("b"))
      val e = idx.crossJoin(broadcast(fit))
        .select(col("t"),
          pround(col("yd") - (col("a") + col("b") * col("t").cast("double")), 9).as("e"))
      // squared residuals round at scale 6, not 12: e² reaches 1e7 at
      // sf0.01 already (1e10+ at larger SFs), and scale 6 keeps the
      // scaled terms deep inside the exact-integer double range (the
      // find that motivated pround's 2^52 identity guard)
      val den = e.agg(
        sum(pround(col("e") * col("e"), 6).cast(DecimalType(27, 8))).cast("double")
          .as("den"), count(lit(1)).as("n"))
      val num = e.select((col("t") + 1).as("t"), col("e").as("e0"))
        .join(e.select(col("t"), col("e").as("e1")), Seq("t"))
        .agg(sum(pround((col("e1") - col("e0")) * (col("e1") - col("e0")), 6)
          .cast(DecimalType(27, 8))).cast("double").as("num"))
      num.crossJoin(broadcast(den))
        .filter(col("den") > 0)
        .select(col("n"),
          (floor(col("num") / col("den") * 1e9 + 0.5) / 1e9).as("dw"),
          (floor((lit(1.0) - col("num") / col("den") / 2.0) * 1e9 + 0.5) / 1e9)
            .as("rho1"))
    }, Some(
      s"""$evCte,
         |daily AS (SELECT CAST(ts AS DATE) AS day,
         |            SUM(CAST(value AS DECIMAL(18,4))) AS y FROM ev GROUP BY 1),
         |idx AS (SELECT day, y, CAST(y AS DOUBLE) AS yd,
         |          row_number() OVER (ORDER BY day) AS t FROM daily),
         |st AS (SELECT COUNT(*) AS n, SUM(t) AS st1, SUM(y) AS sy,
         |         SUM(CAST(round(yd * t, 4) AS DECIMAL(38,6))) AS sty,
         |         SUM(t * t) AS st2 FROM idx),
         |fit AS (SELECT (CAST(n AS DOUBLE) * CAST(sty AS DOUBLE)
         |            - CAST(st1 AS DOUBLE) * CAST(sy AS DOUBLE))
         |          / (CAST(n AS DOUBLE) * CAST(st2 AS DOUBLE)
         |            - CAST(st1 AS DOUBLE) * CAST(st1 AS DOUBLE)) AS b,
         |          CAST(sy AS DOUBLE) AS syd, CAST(st1 AS DOUBLE) AS st1d,
         |          CAST(n AS DOUBLE) AS nd
         |        FROM st WHERE n > 2),
         |fit2 AS (SELECT b, (syd - b * st1d) / nd AS a FROM fit),
         |e AS (SELECT t, round(yd - (a + b * CAST(t AS DOUBLE)), 9) AS e
         |      FROM idx, fit2),
         |den AS (SELECT CAST(SUM(CAST(round(e * e, 6) AS DECIMAL(27,8))) AS DOUBLE)
         |          AS den, COUNT(*) AS n FROM e),
         |num AS (SELECT CAST(SUM(CAST(round((e1.e - e0.e) * (e1.e - e0.e), 6)
         |            AS DECIMAL(27,8))) AS DOUBLE) AS num
         |        FROM e e0 JOIN e e1 ON e0.t + 1 = e1.t)
         |SELECT CAST(n AS BIGINT) AS n,
         |  FLOOR(num / den * 1e9 + 0.5) / 1e9 AS dw,
         |  FLOOR((1.0 - num / den / 2.0) * 1e9 + 0.5) / 1e9 AS rho1
         |FROM num, den WHERE den > 0""".stripMargin)),

    QuerySpec("q278_seasonal_mk", (s, dir) => {
      // seasonal Mann–Kendall trend test per type [EXT] — q220 on a
      // weekly-seasonal series confounds trend with weekday mix; the
      // seasonal form runs MK WITHIN each weekday sub-series and sums
      // S and var over seasons (Hirsch–Slack), so a pure weekday
      // pattern scores exactly 0. Same exact-integer pair machinery as
      // q220 with (calendar/7)²-bounded pair joins per (type, dow);
      // weekday from epoch-day integer arithmetic (q267 discipline).
      val daily = Dedup.cacheScoped(Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
        .withColumn("dow",
          datediff(col("day"), lit("1970-01-01").cast("date")) % 7))
      val pairs = daily
        .select(col("event_type"), col("dow"), col("day").as("d1"), col("x").as("x1"))
        .join(daily.select(col("event_type"), col("dow"), col("day").as("d2"),
          col("x").as("x2")), Seq("event_type", "dow"))
        .filter(col("d1") < col("d2"))
      val sAgg = pairs.groupBy(col("event_type"))
        .agg(sum(signum(col("x2") - col("x1")).cast("long")).as("s_stat"))
      val nAgg = daily.groupBy(col("event_type"), col("dow"))
        .agg(count(lit(1)).as("nw"))
      val ties = daily.groupBy(col("event_type"), col("dow"), col("x"))
        .agg(count(lit(1)).as("t"))
        .groupBy(col("event_type"), col("dow"))
        .agg(sum(col("t") * (col("t") - 1) * (lit(2) * col("t") + 5)).as("tsum"))
      val varW = nAgg.join(ties, Seq("event_type", "dow"))
        .select(col("event_type"), col("nw"),
          (col("nw") * (col("nw") - 1) * (lit(2) * col("nw") + 5) - col("tsum"))
            .as("vw"))
        .groupBy(col("event_type"))
        .agg(sum(col("vw")).as("vsum"), sum(col("nw")).as("n_days"))
      val varExpr = col("vsum").cast("double") / 18.0
      val z = when(col("s_stat") > 0, (col("s_stat") - 1).cast("double") / sqrt(varExpr))
        .when(col("s_stat") < 0, (col("s_stat") + 1).cast("double") / sqrt(varExpr))
        .otherwise(lit(0.0))
      sAgg.join(varW, Seq("event_type"))
        .filter(col("vsum") > 0)
        .select(col("event_type"), col("n_days"), col("s_stat"),
          (floor(z * 1e9 + 0.5) / 1e9).as("z"))
        .orderBy(col("event_type"))
    }, Some(
      s"""$evCte,
         |daily AS (SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS x,
         |            (CAST(ts AS DATE) - DATE '1970-01-01') % 7 AS dow
         |          FROM ev GROUP BY event_type, CAST(ts AS DATE)),
         |sp AS (SELECT a.event_type,
         |         CAST(SUM(CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1
         |                       ELSE 0 END) AS BIGINT) AS s_stat
         |       FROM daily a JOIN daily b
         |         ON a.event_type = b.event_type AND a.dow = b.dow AND a.day < b.day
         |       GROUP BY 1),
         |nw AS (SELECT event_type, dow, COUNT(*) AS nw FROM daily GROUP BY 1, 2),
         |tsum AS (SELECT event_type, dow,
         |           SUM(t * (t - 1) * (2 * t + 5)) AS tsum
         |         FROM (SELECT event_type, dow, x, COUNT(*) AS t
         |               FROM daily GROUP BY 1, 2, 3) GROUP BY 1, 2),
         |vv AS (SELECT n.event_type,
         |         SUM(n.nw * (n.nw - 1) * (2 * n.nw + 5) - t.tsum) AS vsum,
         |         SUM(n.nw) AS n_days
         |       FROM nw n JOIN tsum t ON n.event_type = t.event_type AND n.dow = t.dow
         |       GROUP BY 1)
         |SELECT s.event_type, CAST(n_days AS BIGINT) AS n_days,
         |  CAST(s_stat AS BIGINT) AS s_stat,
         |  FLOOR((CASE WHEN s_stat > 0
         |           THEN CAST(s_stat - 1 AS DOUBLE) / sqrt(CAST(vsum AS DOUBLE) / 18.0)
         |         WHEN s_stat < 0
         |           THEN CAST(s_stat + 1 AS DOUBLE) / sqrt(CAST(vsum AS DOUBLE) / 18.0)
         |         ELSE 0.0 END) * 1e9 + 0.5) / 1e9 AS z
         |FROM sp s JOIN vv USING (event_type)
         |WHERE vsum > 0 ORDER BY event_type""".stripMargin)),

    QuerySpec("q279_pacf", (s, dir) => {
      // partial autocorrelation at lags 1–3 via Durbin–Levinson [EXT]
      // — the Box–Jenkins companion q238 implies but can't answer: the
      // ACF of an AR(1) decays at EVERY lag, so "is there structure
      // BEYOND lag 1" needs the partial form (PACF cuts off at the AR
      // order — THE model-order diagnostic). Rides [[acfFrame]]'s
      // exact arithmetic (one shared pipeline), pivots the 3 lags on a
      // |types|-row frame, and closes the D–L recursion level by level
      // with term-for-term mirrored doubles.
      val piv = acfFrame(s, dir, 3)
        .groupBy(col("event_type")).agg(
          max(when(col("lag") === 1, col("acf"))).as("r1"),
          max(when(col("lag") === 2, col("acf"))).as("r2"),
          max(when(col("lag") === 3, col("acf"))).as("r3"))
        .filter(col("r1").isNotNull && col("r2").isNotNull && col("r3").isNotNull)
        .filter(lit(1.0) - col("r1") * col("r1") =!= 0.0)
      piv
        .withColumn("phi22", (col("r2") - col("r1") * col("r1"))
          / (lit(1.0) - col("r1") * col("r1")))
        .withColumn("phi21", col("r1") - col("phi22") * col("r1"))
        .filter(lit(1.0) - col("phi21") * col("r1") - col("phi22") * col("r2") =!= 0.0)
        .select(col("event_type"), col("r1").as("pacf1"),
          (floor(col("phi22") * 1e9 + 0.5) / 1e9).as("pacf2"),
          (floor((col("r3") - col("phi21") * col("r2") - col("phi22") * col("r1"))
            / (lit(1.0) - col("phi21") * col("r1") - col("phi22") * col("r2"))
            * 1e9 + 0.5) / 1e9).as("pacf3"))
        .orderBy(col("event_type"))
    }, Some(
      s"""${acfCte(3)},
         |piv AS (SELECT event_type,
         |          MAX(CASE WHEN lag = 1 THEN acf END) AS r1,
         |          MAX(CASE WHEN lag = 2 THEN acf END) AS r2,
         |          MAX(CASE WHEN lag = 3 THEN acf END) AS r3
         |        FROM acfv GROUP BY 1),
         |f AS (SELECT event_type, r1, r2, r3,
         |        (r2 - r1 * r1) / (1.0 - r1 * r1) AS phi22
         |      FROM piv
         |      WHERE r1 IS NOT NULL AND r2 IS NOT NULL AND r3 IS NOT NULL
         |        AND 1.0 - r1 * r1 <> 0.0),
         |g AS (SELECT event_type, r1, r2, r3, phi22,
         |        r1 - phi22 * r1 AS phi21 FROM f)
         |SELECT event_type, r1 AS pacf1,
         |  FLOOR(phi22 * 1e9 + 0.5) / 1e9 AS pacf2,
         |  FLOOR((r3 - phi21 * r2 - phi22 * r1)
         |    / (1.0 - phi21 * r1 - phi22 * r2) * 1e9 + 0.5) / 1e9 AS pacf3
         |FROM g WHERE 1.0 - phi21 * r1 - phi22 * r2 <> 0.0
         |ORDER BY event_type""".stripMargin)),

    QuerySpec("q282_ewma_chart", (s, dir) => {
      // EWMA control chart on daily volume per type [EXT] — the
      // small-shift monitor the gate family lacked: q227's z-gate
      // needs a full-σ jump to fire, the EWMA statistic accumulates
      // drift (the classic SPC chart for 0.5–1σ shifts). Truncated
      // 20-day kernel with λ=0.2: the weight ladder and its
      // normalizer are Scala-computed literals shared by BOTH plans
      // (q263 discount discipline); the lag alignment is a row-index
      // equi-join per type (never a sliding window over the corpus);
      // flag when |x − ewma| > 3σ̂·√(λ/(2−λ)) on ROUNDED operands.
      val lam = 0.2
      val weights = (0 until 20).map(j => lam * math.pow(1 - lam, j))
      val norm = weights.sum
      val sfac = math.sqrt(lam / (2 - lam))
      val warr = array(weights.map(lit): _*)
      val wt = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val daily = Dedup.cacheScoped(Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
        .withColumn("t", row_number().over(wt).cast("long")))
      val sig = daily.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum((col("x").cast(DecimalType(38, 0)) * col("x"))).as("sxx"))
        .filter(col("n") > 1)
        .withColumn("m", col("sx").cast("double") / col("n").cast("double"))
        .select(col("event_type"),
          sqrt(col("sxx").cast("double") / col("n").cast("double")
            - col("m") * col("m")).as("sig"))
      val ew = daily.withColumn("j", explode(sequence(lit(0), lit(19))))
        .select(col("event_type"), col("t"), (col("t") - col("j")).as("tj"),
          element_at(warr, (col("j") + 1).cast("int")).as("wj"))
        .filter(col("t") >= 20)
        .join(daily.select(col("event_type"), col("t").as("tj"), col("x")),
          Seq("event_type", "tj"))
        .withColumn("term", pround(col("wj") * col("x"), 9))
        .groupBy(col("event_type"), col("t"))
        .agg((floor(sum(col("term").cast(DecimalType(27, 10))).cast("double")
          / lit(norm) * 1e9 + 0.5) / 1e9).as("ewma"))
      ew.join(daily.select(col("event_type"), col("t"), col("x")),
          Seq("event_type", "t"))
        .join(broadcast(sig), Seq("event_type"))
        .withColumn("dev", pround(abs(col("x") - col("ewma")), 9))
        .withColumn("flag",
          (col("dev") > pround(lit(3.0) * col("sig") * lit(sfac), 9)).cast("long"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_scored"), sum(col("flag")).as("n_flagged"),
          max(col("dev")).as("max_dev"))
        .orderBy(col("event_type"))
    }, Some {
      val lam = 0.2
      val weights = (0 until 20).map(j => lam * math.pow(1 - lam, j))
      val norm = weights.sum
      val sfac = math.sqrt(lam / (2 - lam))
      val ws = weights.mkString(", ")
      s"""$evCte,
         |daily AS (SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS x
         |          FROM ev GROUP BY 1, 2),
         |idx AS (SELECT event_type, day, x,
         |          row_number() OVER (PARTITION BY event_type ORDER BY day) AS t
         |        FROM daily),
         |sig AS (SELECT event_type,
         |          sqrt(CAST(SUM(CAST(x AS HUGEINT) * x) AS DOUBLE) / COUNT(*)
         |            - (CAST(SUM(x) AS DOUBLE) / COUNT(*))
         |              * (CAST(SUM(x) AS DOUBLE) / COUNT(*))) AS sig
         |        FROM daily GROUP BY 1 HAVING COUNT(*) > 1),
         |lagged AS (SELECT i.event_type, i.t, i.t - g.j AS tj,
         |             [$ws][CAST(g.j + 1 AS INTEGER)] AS wj
         |           FROM idx i, (SELECT unnest(generate_series(0, 19)) AS j) g
         |           WHERE i.t >= 20),
         |ew AS (SELECT l.event_type, l.t,
         |         FLOOR(CAST(SUM(CAST(round(l.wj * i2.x, 9) AS DECIMAL(27,10)))
         |             AS DOUBLE) / $norm * 1e9 + 0.5) / 1e9 AS ewma
         |       FROM lagged l JOIN idx i2
         |         ON i2.event_type = l.event_type AND i2.t = l.tj
         |       GROUP BY 1, 2)
         |SELECT e.event_type AS event_type, CAST(COUNT(*) AS BIGINT) AS n_scored,
         |  CAST(SUM(CASE WHEN round(abs(i3.x - e.ewma), 9)
         |         > round(3.0 * s.sig * $sfac, 9) THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_flagged,
         |  MAX(round(abs(i3.x - e.ewma), 9)) AS max_dev
         |FROM ew e JOIN idx i3 ON i3.event_type = e.event_type AND i3.t = e.t
         |          JOIN sig s ON s.event_type = e.event_type
         |GROUP BY 1 ORDER BY event_type""".stripMargin
    }),

    QuerySpec("q297_page_hinkley", (s, dir) => {
      // Page–Hinkley drift alarm per type [EXT] — the sequential
      // change detector between q207 (CUSUM vs a FIXED reference) and
      // q269 (retrospective argmax): PH tracks m_t = Σ(x_i − x̄_i − δ)
      // against its running minimum, where x̄_i is the RUNNING mean —
      // self-calibrating, no reference window to choose. Every term
      // depends only on prefix sums, so the whole statistic is
      // per-type windowed cumulatives on the ≤|days| frame: terms
      // pround(9) into DECIMAL running sums (exact), the excursion
      // m − M closes in exact decimal; alarms compare against
      // 5σ̂ (double-first moments), ROUNDED vs ROUNDED.
      val wt = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val wcum = wt.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val daily = Dedup.cacheScoped(Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x")))
      val sig = daily.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum((col("x").cast(DecimalType(38, 0)) * col("x"))).as("sxx"))
        .filter(col("n") > 1)
        .withColumn("m", col("sx").cast("double") / col("n").cast("double"))
        .select(col("event_type"), col("m"),
          sqrt(col("sxx").cast("double") / col("n").cast("double")
            - col("m") * col("m")).as("sig"))
      val terms = daily
        .withColumn("i", row_number().over(wt).cast("long"))
        .withColumn("si", sum(col("x")).over(wcum))
        .join(broadcast(sig), Seq("event_type"))
        .withColumn("term", pround(col("x").cast("double")
          - col("si").cast("double") / col("i").cast("double")
          - lit(0.01) * col("m"), 9))
        .withColumn("mt", sum(col("term").cast(DecimalType(27, 10))).over(wcum))
        .withColumn("mmin", min(col("mt")).over(wcum))
        .withColumn("exc", (col("mt") - col("mmin")).cast("double"))
        .withColumn("h", pround(lit(5.0) * col("sig"), 9))
      terms.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          sum(when(col("exc") > col("h"), 1L).otherwise(0L)).as("n_alarms"),
          min(when(col("exc") > col("h"), col("day"))).as("first_alarm_day"),
          (floor(max(col("exc")) * 1e9 + 0.5) / 1e9).as("max_excursion"))
        .orderBy(col("event_type"))
    }, Some(
      s"""$evCte,
         |daily AS (SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS x
         |          FROM ev GROUP BY 1, 2),
         |sig AS (SELECT event_type, CAST(SUM(x) AS DOUBLE) / COUNT(*) AS m,
         |          sqrt(CAST(SUM(CAST(x AS HUGEINT) * x) AS DOUBLE) / COUNT(*)
         |            - (CAST(SUM(x) AS DOUBLE) / COUNT(*))
         |              * (CAST(SUM(x) AS DOUBLE) / COUNT(*))) AS sig
         |        FROM daily GROUP BY 1 HAVING COUNT(*) > 1),
         |t1 AS (SELECT d.event_type, d.day, d.x, s.m, s.sig,
         |         row_number() OVER wpt AS i, SUM(d.x) OVER wcum AS si
         |       FROM daily d JOIN sig s USING (event_type)
         |       WINDOW wpt AS (PARTITION BY d.event_type ORDER BY d.day),
         |         wcum AS (PARTITION BY d.event_type ORDER BY d.day
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |t2 AS (SELECT event_type, day, sig,
         |         round(CAST(x AS DOUBLE) - CAST(si AS DOUBLE) / CAST(i AS DOUBLE)
         |           - 0.01 * m, 9) AS term
         |       FROM t1),
         |t3 AS (SELECT event_type, day, sig,
         |         SUM(CAST(term AS DECIMAL(27,10))) OVER wcum AS mt
         |       FROM t2 WINDOW wcum AS (PARTITION BY event_type ORDER BY day
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |t4 AS (SELECT event_type, day, sig,
         |         CAST(mt - MIN(mt) OVER wcum AS DOUBLE) AS exc
         |       FROM t3 WINDOW wcum AS (PARTITION BY event_type ORDER BY day
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |t5 AS (SELECT event_type, day, exc, round(5.0 * sig, 9) AS h FROM t4)
         |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
         |  CAST(SUM(CASE WHEN exc > h THEN 1 ELSE 0 END) AS BIGINT) AS n_alarms,
         |  MIN(CASE WHEN exc > h THEN day END) AS first_alarm_day,
         |  FLOOR(MAX(exc) * 1e9 + 0.5) / 1e9 AS max_excursion
         |FROM t5 GROUP BY 1 ORDER BY event_type""".stripMargin)),

    QuerySpec("q299_burst_detection", (s, dir) => {
      // Kleinberg-style two-state burst detection on the daily volume
      // [EXT] — the burst segmentation behind trending-topic and
      // incident timelines: base state at the global rate λ, burst
      // state at 2λ with an entry cost, minimum-cost state sequence
      // via the forward DP (the FILTERED state argmin(c0,c1) — the
      // online decision, no backtrack pass). Sequential by nature:
      // the ≤|days| frame walks on the DRIVER (the q198 bounded-walk
      // tier) with floor(12) after every accumulation, while the
      // oracle replays the identical recursion as a RECURSIVE CTE —
      // step-for-step mirrored doubles, the q112 PageRank discipline.
      val daily = Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("x"))
        .orderBy(col("day"))
      val rows = daily.collect().map(r => (r.getDate(0), r.getLong(1)))
      val tT = rows.length
      import s.implicits._
      if (tT == 0 || rows.map(_._2).sum == 0) {
        Seq.empty[(Long, Long, Double)].toDF("n_days", "n_burst_days", "min_cost")
      } else {
        val lam0 = rows.map(_._2).sum.toDouble / tT
        def r12(v: Double): Double = math.floor(v * 1e12 + 0.5) / 1e12
        def f0(x: Long): Double = lam0 - x * math.log(lam0)
        def f1(x: Long): Double = 2.0 * lam0 - x * math.log(2.0 * lam0)
        var c0 = r12(f0(rows.head._2))
        var c1 = r12(f1(rows.head._2) + 1.0)
        var burstDays = 0L
        var firstBurst: Option[java.sql.Date] = None
        if (c1 < c0) { burstDays += 1; firstBurst = Some(rows.head._1) }
        rows.tail.foreach { case (day, x) =>
          val n0 = r12(math.min(c0, c1) + f0(x))
          val n1 = r12(math.min(c1, c0 + 1.0) + f1(x))
          c0 = n0; c1 = n1
          if (c1 < c0) { burstDays += 1; if (firstBurst.isEmpty) firstBurst = Some(day) }
        }
        val minCost = math.floor(math.min(c0, c1) * 1e9 + 0.5) / 1e9
        Seq((tT.toLong, burstDays, minCost))
          .toDF("n_days", "n_burst_days", "min_cost")
          .withColumn("first_burst_day",
            firstBurst.map(d => lit(d.toString).cast("date"))
              .getOrElse(lit(null).cast("date")))
      }
    }, Some(
      """WITH RECURSIVE ev AS (SELECT CAST(ts AS TIMESTAMP) AS ts FROM events),
        |daily AS (SELECT CAST(ts AS DATE) AS day, COUNT(*) AS x FROM ev GROUP BY 1),
        |idx AS (SELECT day, x, row_number() OVER (ORDER BY day) AS t FROM daily),
        |st AS (SELECT COUNT(*) AS tt, CAST(SUM(x) AS DOUBLE) / COUNT(*) AS lam0
        |       FROM daily),
        |dp AS (
        |  SELECT i.t, i.day,
        |    FLOOR((s.lam0 - i.x * ln(s.lam0)) * 1e12 + 0.5) / 1e12 AS c0,
        |    FLOOR((2.0 * s.lam0 - i.x * ln(2.0 * s.lam0) + 1.0) * 1e12 + 0.5) / 1e12
        |      AS c1
        |  FROM idx i, st s WHERE i.t = 1
        |  UNION ALL
        |  SELECT i.t, i.day,
        |    FLOOR((least(d.c0, d.c1) + (s.lam0 - i.x * ln(s.lam0)))
        |      * 1e12 + 0.5) / 1e12,
        |    FLOOR((least(d.c1, d.c0 + 1.0)
        |      + (2.0 * s.lam0 - i.x * ln(2.0 * s.lam0))) * 1e12 + 0.5) / 1e12
        |  FROM dp d JOIN idx i ON i.t = d.t + 1, st s
        |)
        |SELECT CAST((SELECT COUNT(*) FROM dp) AS BIGINT) AS n_days,
        |  CAST((SELECT SUM(CASE WHEN c1 < c0 THEN 1 ELSE 0 END) FROM dp)
        |    AS BIGINT) AS n_burst_days,
        |  (SELECT FLOOR(least(c0, c1) * 1e9 + 0.5) / 1e9 FROM dp
        |   WHERE t = (SELECT MAX(t) FROM dp)) AS min_cost,
        |  (SELECT MIN(day) FROM dp WHERE c1 < c0) AS first_burst_day""".stripMargin)),

    QuerySpec("q309_dtw", (s, dir) => {
      // dynamic time warping between the click and purchase daily
      // series [EXT] — the elastic-alignment distance that q229's
      // rolling Pearson can't give when one series LAGS the other by
      // a varying amount (campaign → delayed purchases): full DTW on
      // |a_i − b_j| costs. The DP is ALL-INTEGER (daily counts, abs
      // diffs, mins — zero float surface until the final normalize),
      // so engine parity is exact by construction. Sequential by
      // nature: both series are CALENDAR-bounded (≤365·years rows —
      // the q198/q299 driver-walk tier), the n·m cell walk runs on
      // the driver, and the oracle replays the IDENTICAL row-major
      // cell order as a recursive CTE carrying (prev_row, cur) lists.
      val daily = Tables.events(s, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
        .orderBy(col("day")).collect()
      val a = daily.filter(_.getString(0) == "click").map(_.getLong(2))
      val b = daily.filter(_.getString(0) == "purchase").map(_.getLong(2))
      import s.implicits._
      if (a.isEmpty || b.isEmpty) {
        Seq.empty[(Long, Long, Long, Double)]
          .toDF("n_days_a", "n_days_b", "dtw", "dtw_per_step")
      } else {
        val n = a.length; val m = b.length
        val INF = Long.MaxValue / 4
        var prev = Array.fill(m + 1)(INF); prev(0) = 0L
        for (i <- 1 to n) {
          val cur = Array.fill(m + 1)(INF)
          for (j <- 1 to m) {
            val cost = math.abs(a(i - 1) - b(j - 1))
            cur(j) = cost + math.min(prev(j), math.min(cur(j - 1), prev(j - 1)))
          }
          prev = cur
        }
        val dtw = prev(m)
        Seq((n.toLong, m.toLong, dtw,
          math.floor(dtw.toDouble / (n + m) * 1e9 + 0.5) / 1e9))
          .toDF("n_days_a", "n_days_b", "dtw", "dtw_per_step")
      }
    }, Some(
      """WITH RECURSIVE ev AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type
        |  FROM events),
        |a AS (SELECT CAST(ts AS DATE) AS day, COUNT(*) AS x FROM ev
        |      WHERE event_type = 'click' GROUP BY 1),
        |b AS (SELECT CAST(ts AS DATE) AS day, COUNT(*) AS x FROM ev
        |      WHERE event_type = 'purchase' GROUP BY 1),
        |al AS (SELECT list(x ORDER BY day) AS s FROM a),
        |bl AS (SELECT list(x ORDER BY day) AS s FROM b),
        |dp AS (
        |  SELECT 1 AS i, 1 AS j, CAST([] AS BIGINT[]) AS prev_row,
        |    CAST([abs(al.s[1] - bl.s[1])] AS BIGINT[]) AS cur,
        |    al.s AS sa, bl.s AS sb, len(al.s) AS n, len(bl.s) AS m
        |  FROM al, bl WHERE len(al.s) > 0 AND len(bl.s) > 0
        |  UNION ALL
        |  SELECT CASE WHEN j = m THEN i + 1 ELSE i END,
        |         CASE WHEN j = m THEN 1 ELSE j + 1 END,
        |         CASE WHEN j = m THEN cur ELSE prev_row END,
        |         CASE WHEN j = m
        |           THEN [abs(sa[i + 1] - sb[1]) + cur[1]]
        |           ELSE list_append(cur, abs(sa[i] - sb[j + 1])
        |             + least(
        |                 CASE WHEN i = 1 THEN 1152921504606846975
        |                      ELSE prev_row[j + 1] END,
        |                 CASE WHEN i = 1 THEN 1152921504606846975
        |                      ELSE prev_row[j] END,
        |                 cur[j]))
        |         END,
        |         sa, sb, n, m
        |  FROM dp WHERE NOT (i = n AND j = m)
        |)
        |SELECT CAST(n AS BIGINT) AS n_days_a, CAST(m AS BIGINT) AS n_days_b,
        |  CAST(cur[m] AS BIGINT) AS dtw,
        |  round(CAST(cur[m] AS DOUBLE) / (n + m), 9) AS dtw_per_step
        |FROM dp WHERE i = n AND j = m""".stripMargin)),

    QuerySpec("q342_haar_energy", (s, dir) => {
      // Haar wavelet energy profile of the daily series [EXT] — which
      // TIMESCALE carries the volume signal: 5 levels of the
      // unnormalized Haar transform (pairwise sums/differences —
      // ALL-INTEGER, so engine parity is exact by construction, the
      // q309 discipline), zero-padded to 32 days; per level the
      // detail-coefficient energy Σd² and the largest |d| with its
      // position (a spike at level 1 = day-to-day noise; at level 4 =
      // a two-week regime shift — the multiresolution complement to
      // q238's ACF). Each level is one groupBy(i/2) agg on a
      // ≤32-row frame; the SHAPE (pairwise reduction) is the log-depth
      // scan that works at any series length.
      // r19: the 5-level walk runs on the DRIVER over the collected
      // ≤32-long padded series (the q345/q198 calendar-bounded driver
      // tier — one tiny collect instead of 5 per-level collect+persist
      // round-trips on a ≤32-row frame; all arithmetic stays the same
      // exact longs, so parity is unchanged by construction).
      val daily = Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("x"))
      val lo = daily.agg(min(col("day")).as("lo"))
      val idx = daily.crossJoin(broadcast(lo))
        .select(datediff(col("day"), col("lo")).cast("long").as("i"), col("x"))
        // ≤ |calendar days| rows by construction (one per distinct day,
        // ≤365·years — the q309 calendar bound), never corpus-sized
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      var cur = Array.tabulate(32)(i => idx.getOrElse(i.toLong, 0L))
      val out = scala.collection.mutable.ArrayBuffer[(Int, Long, Long, Long, Long)]()
      for (level <- 1 to 5) {
        val n = cur.length / 2
        val sums = Array.tabulate(n)(j => cur(2 * j) + cur(2 * j + 1))
        val dets = Array.tabulate(n)(j => cur(2 * j) - cur(2 * j + 1))
        var energy = 0L; var maxAbs = Long.MinValue; var arg = 0L
        for (j <- 0 until n) {
          val d = dets(j); val ad = math.abs(d)
          energy += d * d
          // max(struct(abs(d), -j)): larger |d| wins, ties to smaller j
          if (ad > maxAbs) { maxAbs = ad; arg = j.toLong }
        }
        out += ((level, n.toLong, energy, maxAbs, arg))
        cur = sums
      }
      import s.implicits._
      out.toSeq
        .toDF("level", "n_coeffs", "energy", "max_abs_detail", "argmax_idx")
        .orderBy(col("level"))
    },
    // generated 5-level unroll, same pattern
    Some {
      val sb = new StringBuilder(
        s"""$evCte,
           |daily AS (SELECT CAST(ts AS DATE) AS day, COUNT(*) AS x
           |          FROM ev GROUP BY 1),
           |lo AS (SELECT MIN(day) AS lo FROM daily),
           |idx AS (SELECT datediff('day', lo.lo, d.day) AS i, d.x
           |        FROM daily d, lo),
           |pad AS (SELECT unnest(generate_series(0, 31)) AS i),
           |l0 AS (SELECT p.i, COALESCE(x, 0) AS v
           |       FROM pad p LEFT JOIN idx ON idx.i = p.i)""".stripMargin)
      val outs = scala.collection.mutable.ArrayBuffer[String]()
      var prev = "l0"
      for (l <- 1 to 5) {
        sb ++= s""",
          |p$l AS (SELECT i // 2 AS j,
          |          SUM(CASE WHEN i % 2 = 0 THEN v ELSE 0 END) AS a,
          |          SUM(CASE WHEN i % 2 = 1 THEN v ELSE 0 END) AS b
          |        FROM $prev GROUP BY 1),
          |s$l AS (SELECT j AS i, a + b AS v, a - b AS d FROM p$l)""".stripMargin
        outs += s"""SELECT $l AS level,
          | (SELECT CAST(COUNT(*) AS BIGINT) FROM s$l) AS n_coeffs,
          | (SELECT CAST(SUM(d * d) AS BIGINT) FROM s$l) AS energy,
          | CAST(abs(d) AS BIGINT) AS max_abs_detail,
          | CAST(i AS BIGINT) AS argmax_idx
          | FROM s$l ORDER BY abs(d) DESC, i LIMIT 1""".stripMargin
        prev = s"s$l"
      }
      sb ++= "\nSELECT CAST(level AS INT) AS level, n_coeffs, energy,"
      sb ++= " max_abs_detail, argmax_idx FROM ("
      sb ++= outs.map(o => s"($o)").mkString(" UNION ALL ")
      sb ++= ") ORDER BY level"
      sb.toString
    }),

    QuerySpec("q345_holt_forecast", (s, dir) => {
      // Holt double-exponential smoothing (α=0.3, β=0.1) on the daily
      // volume [EXT] — the trend-aware forecaster between q282's EWMA
      // (level only) and q248's MASE (which EVALUATES forecasts):
      // level/trend recurrences over the calendar-bounded series, so
      // the walk runs on the DRIVER (q198/q299 tier) with floor(12)
      // after every accumulation while the oracle replays the
      // IDENTICAL recursion as a recursive CTE — mirrored doubles
      // step for step. One-step-ahead SSE is the in-sample fit;
      // forecast_next7 = Σ_{h=1..7}(l + h·b) = 7l + 28b projects the
      // next week's volume.
      val rows = Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("x"))
        .orderBy(col("day")).collect().map(_.getLong(1).toDouble)
      import s.implicits._
      if (rows.length < 2) {
        Seq.empty[(Long, Double, Double, Double, Double)]
          .toDF("n_days", "level", "trend", "sse", "forecast_next7")
      } else {
        def r12(v: Double) = math.floor(v * 1e12 + 0.5) / 1e12
        def r9(v: Double) = math.floor(v * 1e9 + 0.5) / 1e9
        var l = rows(0); var b = rows(1) - rows(0); var sse = 0.0
        for (t <- 1 until rows.length) {
          val p = l + b
          val e = rows(t) - p
          val l2 = r12(0.3 * rows(t) + 0.7 * (l + b))
          b = r12(0.1 * (l2 - l) + 0.9 * b)
          l = l2
          sse = r12(sse + e * e)
        }
        Seq((rows.length.toLong, r9(l), r9(b), r9(sse), r9(7 * l + 28 * b)))
          .toDF("n_days", "level", "trend", "sse", "forecast_next7")
      }
    }, Some(
      s"""WITH RECURSIVE ev AS (SELECT CAST(ts AS TIMESTAMP) AS ts FROM events),
         |daily AS (SELECT CAST(ts AS DATE) AS day, COUNT(*) AS x
         |          FROM ev GROUP BY 1),
         |idx AS (SELECT CAST(x AS DOUBLE) AS x,
         |          row_number() OVER (ORDER BY day) AS t FROM daily),
         |n AS (SELECT COUNT(*) AS n FROM idx),
         |dp AS (
         |  SELECT 1 AS t, i1.x AS l, i2.x - i1.x AS b, CAST(0.0 AS DOUBLE) AS sse
         |  FROM idx i1, idx i2, n
         |  WHERE i1.t = 1 AND i2.t = 2 AND n.n >= 2
         |  UNION ALL
         |  SELECT d.t + 1,
         |    round(0.3 * i.x + 0.7 * (d.l + d.b), 12),
         |    round(0.1 * (round(0.3 * i.x + 0.7 * (d.l + d.b), 12) - d.l)
         |      + 0.9 * d.b, 12),
         |    round(d.sse + (i.x - (d.l + d.b)) * (i.x - (d.l + d.b)), 12)
         |  FROM dp d JOIN idx i ON i.t = d.t + 1
         |)
         |SELECT CAST(n.n AS BIGINT) AS n_days, round(d.l, 9) AS level,
         |  round(d.b, 9) AS trend, round(d.sse, 9) AS sse,
         |  round(7 * d.l + 28 * d.b, 9) AS forecast_next7
         |FROM dp d, n WHERE d.t = n.n""".stripMargin)),

    QuerySpec("q349_ccf_lag", (s, dir) => {
      // cross-correlation lag finder [EXT] — at what LAG does the
      // click series best predict purchases: Pearson r of
      // (clicks(d), purchases(d+τ)) for τ ∈ [−7, 7] — the LINEAR
      // complement to q309's DTW (which warps; this finds the single
      // best shift, the marketing "conversion delay" scalar). Each
      // lag is an equi-join on the shifted day (the q238 ACF shape
      // generalized to two series); moments are exact DECIMAL sums of
      // integer counts, r closes in pure IEEE (q103's closed form),
      // argmax total-ordered by (|r| desc, τ).
      val D = DecimalType(38, 0)
      val daily = Dedup.cacheScoped(Tables.events(s, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x")))
      val a = daily.filter(col("event_type") === "click")
        .select(col("day"), col("x").as("xa"))
      val b = daily.filter(col("event_type") === "purchase")
        .select(col("day"), col("x").as("xb"))
      val lags = a.crossJoin(broadcast(
          s.range(-7, 8).toDF("lag").select(col("lag").cast("int").as("lag"))))
        .select(col("lag"), date_add(col("day"), col("lag")).as("day"),
          col("xa"))
        .join(b, Seq("day"))
      def esum(c: Column) = sum(c.cast(D)).cast("double")
      val st = lags.groupBy(col("lag"))
        .agg(count(lit(1)).as("n"), esum(col("xa")).as("sa"),
          esum(col("xb")).as("sb"), esum(col("xa") * col("xb")).as("sab"),
          esum(col("xa") * col("xa")).as("saa"),
          esum(col("xb") * col("xb")).as("sbb"))
        .filter(col("n") > 2)
      val nd = col("n").cast("double")
      val r = (nd * col("sab") - col("sa") * col("sb")) /
        sqrt((nd * col("saa") - col("sa") * col("sa"))
          * (nd * col("sbb") - col("sb") * col("sb")))
      st.select(col("lag"), col("n").as("n_days"), pround(r, 9).as("ccf"))
        .orderBy(col("lag"))
    }, Some(
      s"""$evCte,
         |daily AS (SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS x
         |          FROM ev WHERE event_type IN ('click', 'purchase')
         |          GROUP BY 1, 2),
         |a AS (SELECT day, x AS xa FROM daily WHERE event_type = 'click'),
         |b AS (SELECT day, x AS xb FROM daily WHERE event_type = 'purchase'),
         |lg AS (SELECT unnest(generate_series(-7, 7)) AS lag),
         |p AS (SELECT lg.lag, a.xa, b.xb
         |      FROM a CROSS JOIN lg
         |      JOIN b ON b.day = a.day + CAST(lg.lag AS INT)),
         |st AS (SELECT lag, COUNT(*) AS n,
         |         CAST(SUM(CAST(xa AS DECIMAL(38,0))) AS DOUBLE) AS sa,
         |         CAST(SUM(CAST(xb AS DECIMAL(38,0))) AS DOUBLE) AS sb,
         |         CAST(SUM(CAST(xa * xb AS DECIMAL(38,0))) AS DOUBLE) AS sab,
         |         CAST(SUM(CAST(xa * xa AS DECIMAL(38,0))) AS DOUBLE) AS saa,
         |         CAST(SUM(CAST(xb * xb AS DECIMAL(38,0))) AS DOUBLE) AS sbb
         |       FROM p GROUP BY 1 HAVING COUNT(*) > 2)
         |SELECT CAST(lag AS INT) AS lag, CAST(n AS BIGINT) AS n_days,
         |  round((CAST(n AS DOUBLE) * sab - sa * sb)
         |    / sqrt((CAST(n AS DOUBLE) * saa - sa * sa)
         |      * (CAST(n AS DOUBLE) * sbb - sb * sb)), 9) AS ccf
         |FROM st ORDER BY lag""".stripMargin)),

    QuerySpec("q356_runs_test", (s, dir) => {
      // Wald–Wolfowitz runs test on daily up/down moves [EXT] — is
      // the volume series RANDOM or regime-y: too few runs = sticky
      // regimes (momentum), too many = oscillation; the classic
      // nonparametric randomness check the drift family (q207/q297)
      // assumes but never tests. Signs from exact integer day-over-day
      // diffs (zeros dropped, the standard treatment) on the
      // calendar-bounded day frame (tiny-frame window exception);
      // R, n₊, n₋ exact; z closes in IEEE with pround.
      val daily = Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("x"))
      val w = Window.orderBy(col("day"))
      val sgn = daily
        .withColumn("d", col("x") - lag(col("x"), 1).over(w))
        .filter(col("d").isNotNull && col("d") =!= 0)
        .withColumn("s", when(col("d") > 0, 1L).otherwise(-1L))
        .withColumn("prev", lag(col("s"), 1).over(w))
      val st = sgn.agg(count(lit(1)).as("n"),
        sum(when(col("s") === 1L, 1L).otherwise(0L)).as("np"),
        sum(when(col("s") === -1L, 1L).otherwise(0L)).as("nm"),
        (sum(when(col("prev").isNull || col("prev") =!= col("s"), 1L)
          .otherwise(0L))).as("runs"))
      val npd = col("np").cast("double"); val nmd = col("nm").cast("double")
      val nd = col("n").cast("double")
      val mu = lit(1.0) + lit(2.0) * npd * nmd / nd
      val sg = sqrt((mu - 1.0) * (mu - 2.0) / (nd - 1.0))
      st.filter(col("np") > 0 && col("nm") > 0 && col("n") > 2)
        .select(col("n").as("n_moves"), col("np").as("n_up"),
          col("nm").as("n_down"), col("runs"),
          pround(mu, 9).as("expected_runs"),
          pround((col("runs").cast("double") - mu) / sg, 9).as("z"))
    }, Some(
      s"""$evCte,
         |daily AS (SELECT CAST(ts AS DATE) AS day, COUNT(*) AS x
         |          FROM ev GROUP BY 1),
         |l AS (SELECT day, x, x - lag(x) OVER (ORDER BY day) AS d FROM daily),
         |sg AS (SELECT day, CASE WHEN d > 0 THEN 1 ELSE -1 END AS s
         |       FROM l WHERE d IS NOT NULL AND d <> 0),
         |p AS (SELECT s, lag(s) OVER (ORDER BY day) AS prev FROM sg),
         |st AS (SELECT COUNT(*) AS n,
         |         SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS np,
         |         SUM(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS nm,
         |         SUM(CASE WHEN prev IS NULL OR prev <> s THEN 1 ELSE 0 END)
         |           AS runs
         |       FROM p)
         |SELECT CAST(n AS BIGINT) AS n_moves, CAST(np AS BIGINT) AS n_up,
         |  CAST(nm AS BIGINT) AS n_down, CAST(runs AS BIGINT) AS runs,
         |  round(1.0 + 2.0 * CAST(np AS DOUBLE) * CAST(nm AS DOUBLE)
         |    / CAST(n AS DOUBLE), 9) AS expected_runs,
         |  round((CAST(runs AS DOUBLE)
         |      - (1.0 + 2.0 * CAST(np AS DOUBLE) * CAST(nm AS DOUBLE)
         |         / CAST(n AS DOUBLE)))
         |    / sqrt(((1.0 + 2.0 * CAST(np AS DOUBLE) * CAST(nm AS DOUBLE)
         |         / CAST(n AS DOUBLE)) - 1.0)
         |      * ((1.0 + 2.0 * CAST(np AS DOUBLE) * CAST(nm AS DOUBLE)
         |         / CAST(n AS DOUBLE)) - 2.0) / (CAST(n AS DOUBLE) - 1.0)), 9)
         |    AS z
         |FROM st WHERE np > 0 AND nm > 0 AND n > 2""".stripMargin)),
  )
}

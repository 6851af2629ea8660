package graft
package catalog

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TextAnalysis
import graft.operators.{CumSum, Dedup, Graph, Optim}

import Parity._
import CurationQueries.qualityDocCte

/** Inference queries: hypothesis tests, regression and effect estimates,
  * drift measures, survival, calibration and classifier evaluation. */
object InferenceQueries {

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q100_chisq", (s, dir) => {
      // chi-square test of independence (event_type × hour-of-day):
      // observed counts exact, expected = row·col/N in IEEE doubles,
      // per-cell terms rounded to 9 then decimal-summed (the q91
      // reduction discipline). Three tiny aggs + one broadcast join —
      // the contingency table is small by construction.
      val ev = Tables.events(s, dir)
        .select(col("event_type"), hour(col("ts")).cast("long").as("hr"))
      val obs = ev.groupBy(col("event_type"), col("hr")).agg(count(lit(1)).as("o"))
      val rowT = ev.groupBy(col("event_type")).agg(count(lit(1)).as("rt"))
      val colT = ev.groupBy(col("hr")).agg(count(lit(1)).as("ct"))
      val n = ev.agg(count(lit(1)).as("n"))
      val e = (col("rt") * col("ct")).cast("double") / col("n")
      obs.join(broadcast(rowT), Seq("event_type"))
        .join(broadcast(colT), Seq("hr"))
        .crossJoin(broadcast(n))
        .withColumn("term", pround((col("o") - e) * (col("o") - e) / e, 9))
        .agg(sum(col("term").cast(DecimalType(27, 12))).cast("double").as("chi2"),
          count(lit(1)).as("n_cells"))
    }, Some(
      s"""$evCte,
         |x AS (SELECT event_type, CAST(hour(ts) AS BIGINT) AS hr FROM ev),
         |obs AS (SELECT event_type, hr, COUNT(*) AS o FROM x GROUP BY event_type, hr),
         |rt AS (SELECT event_type, COUNT(*) AS rt FROM x GROUP BY event_type),
         |ct AS (SELECT hr, COUNT(*) AS ct FROM x GROUP BY hr),
         |n AS (SELECT COUNT(*) AS n FROM x),
         |terms AS (
         |  SELECT round((o - CAST(rt * ct AS DOUBLE) / n) * (o - CAST(rt * ct AS DOUBLE) / n)
         |               / (CAST(rt * ct AS DOUBLE) / n), 9) AS term
         |  FROM obs JOIN rt USING (event_type) JOIN ct USING (hr), n)
         |SELECT CAST(SUM(CAST(term AS DECIMAL(27,12))) AS DOUBLE) AS chi2,
         |       COUNT(*) AS n_cells
         |FROM terms""".stripMargin)),

    QuerySpec("q103_linreg", (s, dir) => {
      // least-squares regression + Pearson r per group, entirely from
      // exact decimal sums (Σx, Σy, Σxy, Σx², Σy²) — one partial+final
      // agg, then pure IEEE arithmetic on the five exact numbers, so
      // slope/intercept/r are engine-independent (rounded to 9 like
      // every derived score). DECIMAL(30,8): y² sums need ~17 integer
      // digits at sf10 — 22 available.
      val D30 = DecimalType(30, 8)
      def esum(c: Column) = sum(c.cast(D30)).cast("double")
      val x = col("l_quantity"); val y = col("l_extendedprice")
      val stats = Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), esum(x).as("sx"), esum(y).as("sy"),
          esum(x * y).as("sxy"), esum(x * x).as("sxx"), esum(y * y).as("syy"))
      val nd = col("n").cast("double")
      val cov = nd * col("sxy") - col("sx") * col("sy")
      val vx = nd * col("sxx") - col("sx") * col("sx")
      val vy = nd * col("syy") - col("sy") * col("sy")
      val slope = cov / vx
      stats.select(col("l_returnflag"), col("n"),
        pround(slope, 9).as("slope"),
        pround((col("sy") - slope * col("sx")) / nd, 9).as("intercept"),
        pround(cov / sqrt(vx * vy), 9).as("pearson_r"))
    }, Some(
      """WITH s AS (SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(30,8))) AS DOUBLE) AS sx,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,8))) AS DOUBLE) AS sy,
        |  CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(30,8))) AS DOUBLE) AS sxy,
        |  CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(30,8))) AS DOUBLE) AS sxx,
        |  CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(30,8))) AS DOUBLE) AS syy
        |FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  round((CAST(n AS DOUBLE) * sxy - sx * sy) / (CAST(n AS DOUBLE) * sxx - sx * sx), 9) AS slope,
        |  round((sy - (CAST(n AS DOUBLE) * sxy - sx * sy) / (CAST(n AS DOUBLE) * sxx - sx * sx) * sx)
        |        / CAST(n AS DOUBLE), 9) AS intercept,
        |  round((CAST(n AS DOUBLE) * sxy - sx * sy)
        |        / sqrt((CAST(n AS DOUBLE) * sxx - sx * sx) * (CAST(n AS DOUBLE) * syy - sy * sy)), 9) AS pearson_r
        |FROM s""".stripMargin)),

    QuerySpec("q150_calibration", (s, dir) => {
      // classifier calibration report: decile-bucket the q108 scores,
      // per-bucket mean score vs observed positive rate (lang = 'en' as
      // the stand-in label) — the model-evaluation query behind every
      // quality-filter deployment. Floor-bucketing is deterministic
      // (no ntile ties); one scan + one tiny agg.
      val score = TextAnalysis.classifierScore(col("text"),
        wTokens = 1.2, wStop = 2.0, wAlpha = 1.5, wPunct = -3.0, bias = -1.0)
      Tables.documents(s, dir)
        .select(col("doc_id"), score.as("score"),
          (col("lang") === "en").cast("long").as("y"))
        .withColumn("bucket", least(floor(col("score") * 10), lit(9L)).cast("long"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          pround(sum(col("score").cast(DecimalType(18, 9))).cast("double") / count(lit(1)), 9)
            .as("mean_score"),
          pround(sum(col("y")).cast("double") / count(lit(1)), 9).as("pos_rate"))
    }, Some(
      """WITH f AS (SELECT doc_id, lang,
        |  least(CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) / 100.0, 1.0) AS f_tok,
        |  CASE WHEN len(regexp_extract_all(text, '\S+')) = 0 THEN 0.0
        |       ELSE CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|a|in|is|that|it|for)\b')) AS DOUBLE)
        |            / len(regexp_extract_all(text, '\S+')) END AS f_stop,
        |  CASE WHEN length(text) = 0 THEN 0.0
        |       ELSE CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / length(text) END AS f_alpha,
        |  CASE WHEN length(text) = 0 THEN 0.0
        |       ELSE CAST(length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) AS DOUBLE) / length(text) END AS f_punct
        |FROM documents),
        |z AS (SELECT doc_id, lang,
        |        round(1.0 / (1.0 + exp(-(f_tok * 1.2 + f_stop * 2.0 + f_alpha * 1.5 + f_punct * (-3.0) + (-1.0)))), 9) AS score
        |      FROM f),
        |b AS (SELECT CAST(least(floor(score * 10), 9) AS BIGINT) AS bucket, score,
        |        CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        |      FROM z)
        |SELECT bucket, COUNT(*) AS n,
        |  round(CAST(SUM(CAST(score AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*), 9) AS mean_score,
        |  round(CAST(SUM(y) AS DOUBLE) / COUNT(*), 9) AS pos_rate
        |FROM b GROUP BY bucket""".stripMargin)),

    QuerySpec("q143_linreg_gd", (s, dir) => {
      // model TRAINING as an iterative corpus loop: 3 full-batch
      // gradient-descent steps of linear least squares (predict quality
      // from cheap text features). One scan per step; parameters ride
      // the plan as literals and the only driver traffic is the
      // k+1-double gradient row per step. Squared-loss gradients are
      // pure arithmetic (no transcendentals) + exact-decimal reduction
      // → the whole trajectory is engine-exact and the oracle unrolls
      // it (the q112 discipline applied to optimization).
      val wc = TextAnalysis.wsTokenCount(col("text"))
      Optim.linregGD(
        Tables.documents(s, dir),
        features = Seq(least(wc.cast("double") / 100.0, lit(1.0)),
          TextAnalysis.alphaRatio(col("text"))),
        y = TextAnalysis.qualityScore(col("text")),
        iters = 3, lr = 0.5)
    }, Some(
      """WITH f AS (SELECT
        |    least(CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) / 100.0, 1.0) AS x0,
        |    CASE WHEN length(text) = 0 THEN 0.0
        |         ELSE CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / length(text) END AS x1,
        |    least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
        |      * (CASE WHEN length(text) = 0 THEN 0.0
        |              ELSE CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / length(text) END)
        |      * (1.0 - least((CASE WHEN length(text) = 0 THEN 0.0
        |              ELSE CAST(length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) AS DOUBLE) / length(text) END) * 5.0, 1.0)) AS y
        |  FROM documents),
        |p0 AS (SELECT CAST(0.0 AS DOUBLE) AS cw0, CAST(0.0 AS DOUBLE) AS cw1, CAST(0.0 AS DOUBLE) AS cb),
        |g1 AS (SELECT
        |    CAST(SUM(CAST((cb + x0 * cw0 + x1 * cw1 - y) * x0 AS DECIMAL(27,12))) AS DOUBLE) AS s0,
        |    CAST(SUM(CAST((cb + x0 * cw0 + x1 * cw1 - y) * x1 AS DECIMAL(27,12))) AS DOUBLE) AS s1,
        |    CAST(SUM(CAST((cb + x0 * cw0 + x1 * cw1 - y) AS DECIMAL(27,12))) AS DOUBLE) AS sb,
        |    COUNT(*) AS n
        |  FROM f, p0),
        |p1 AS (SELECT round(cw0 - 0.5 * (s0 / n), 9) AS cw0,
        |              round(cw1 - 0.5 * (s1 / n), 9) AS cw1,
        |              round(cb - 0.5 * (sb / n), 9) AS cb FROM g1, p0),
        |g2 AS (SELECT
        |    CAST(SUM(CAST((cb + x0 * cw0 + x1 * cw1 - y) * x0 AS DECIMAL(27,12))) AS DOUBLE) AS s0,
        |    CAST(SUM(CAST((cb + x0 * cw0 + x1 * cw1 - y) * x1 AS DECIMAL(27,12))) AS DOUBLE) AS s1,
        |    CAST(SUM(CAST((cb + x0 * cw0 + x1 * cw1 - y) AS DECIMAL(27,12))) AS DOUBLE) AS sb,
        |    COUNT(*) AS n
        |  FROM f, p1),
        |p2 AS (SELECT round(p1.cw0 - 0.5 * (s0 / n), 9) AS cw0,
        |              round(p1.cw1 - 0.5 * (s1 / n), 9) AS cw1,
        |              round(p1.cb - 0.5 * (sb / n), 9) AS cb FROM g2, p1),
        |g3 AS (SELECT
        |    CAST(SUM(CAST((cb + x0 * cw0 + x1 * cw1 - y) * x0 AS DECIMAL(27,12))) AS DOUBLE) AS s0,
        |    CAST(SUM(CAST((cb + x0 * cw0 + x1 * cw1 - y) * x1 AS DECIMAL(27,12))) AS DOUBLE) AS s1,
        |    CAST(SUM(CAST((cb + x0 * cw0 + x1 * cw1 - y) AS DECIMAL(27,12))) AS DOUBLE) AS sb,
        |    COUNT(*) AS n
        |  FROM f, p2),
        |p3 AS (SELECT round(p2.cw0 - 0.5 * (s0 / n), 9) AS cw0,
        |              round(p2.cw1 - 0.5 * (s1 / n), 9) AS cw1,
        |              round(p2.cb - 0.5 * (sb / n), 9) AS cb FROM g3, p2)
        |SELECT COUNT(*) AS n, cw0 AS w0, cw1 AS w1, cb AS b,
        |  round(CAST(SUM(CAST((cb + x0 * cw0 + x1 * cw1 - y) * (cb + x0 * cw0 + x1 * cw1 - y)
        |    AS DECIMAL(27,12))) AS DOUBLE) / COUNT(*), 6) AS mse
        |FROM f, p3 GROUP BY cw0, cw1, cb""".stripMargin)),

    QuerySpec("q166_psi_drift", (s, dir) => {
      // population stability index between a reference and current
      // window of the value distribution, per event_type — the
      // industry-standard drift gate (PSI > 0.2 = investigate) behind
      // q129's column-level drift report. Equal-width bins over the
      // global per-type [min, max] (bounds broadcast back, binning
      // map-side); +0.5 Laplace smoothing keeps empty bins finite.
      // One scan for bounds, one for the binned counts.
      val split = to_timestamp(lit("2024-01-15 00:00:00"))
      val ev = Tables.events(s, dir)
        .select(col("event_type"), col("value"),
          when(col("ts") < split, lit("ref")).otherwise(lit("cur")).as("win"))
      val bounds = ev.groupBy(col("event_type"))
        .agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
      val binned = ev.join(broadcast(bounds), Seq("event_type"))
        .withColumn("b", when(col("hi") <= col("lo"), lit(0)).otherwise(
          least(lit(9), floor((col("value") - col("lo"))
            / (col("hi") - col("lo")) * 10).cast("int"))))
      val cells0 = binned.groupBy(col("event_type"), col("b")).agg(
        sum(when(col("win") === "ref", 1L).otherwise(0L)).as("cr"),
        sum(when(col("win") === "cur", 1L).otherwise(0L)).as("cc"))
      // the +0.5/10-bin smoothing assumes ALL 10 bins contribute a
      // term: a bin empty in BOTH windows still carries a nonzero
      // (0.5/(nr+5) - 0.5/(nc+5))·ln(...) when nr ≠ nc — materialize
      // the full grid so those terms aren't silently dropped
      val cells = bounds.select(col("event_type"))
        .withColumn("b", explode(sequence(lit(0), lit(9))))
        .join(cells0, Seq("event_type", "b"), "left")
        .na.fill(0L, Seq("cr", "cc"))
      val tot = cells.groupBy(col("event_type"))
        .agg(sum(col("cr")).as("nr"), sum(col("cc")).as("nc"))
      cells.join(broadcast(tot), Seq("event_type"))
        .withColumn("pr", (col("cr") + 0.5) / (col("nr") + 5.0))
        .withColumn("pc", (col("cc") + 0.5) / (col("nc") + 5.0))
        .withColumn("term", floor((col("pr") - col("pc"))
          * log(col("pr") / col("pc")) * 1e12 + 0.5) / 1e12)
        .groupBy(col("event_type"), col("nr"), col("nc"))
        // q91 discipline: round each term, reduce in exact decimal —
        // a raw double sum would be partial-agg-order-dependent.
        // Floor-form, not pround(double, n): the 12-digit term sum hits
        // the outer 9-digit HALF_UP boundary with ~1e-3 odds per row
        // and Spark/DuckDB break the tie differently (the r9 q210
        // lesson, same shape as this query).
        .agg((floor(sum(col("term").cast(DecimalType(27, 14)))
          .cast("double") * 1e9 + 0.5) / 1e9).as("psi"))
        .select(col("event_type"), col("nr").as("n_ref"), col("nc").as("n_cur"),
          col("psi"))
        .orderBy(col("event_type"))
    }, Some(
      s"""$evCte,
         |e2 AS (SELECT event_type, value,
         |         CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00' THEN 'ref' ELSE 'cur' END AS win
         |       FROM ev),
         |bounds AS (SELECT event_type, MIN(value) AS lo, MAX(value) AS hi
         |           FROM e2 GROUP BY event_type),
         |binned AS (SELECT e2.event_type, win,
         |             CASE WHEN hi <= lo THEN 0
         |                  ELSE least(9, CAST(floor((value - lo) / (hi - lo) * 10) AS INT)) END AS b
         |           FROM e2 JOIN bounds USING (event_type)),
         |cells0 AS (SELECT event_type, b,
         |            COUNT(*) FILTER (win = 'ref') AS cr,
         |            COUNT(*) FILTER (win = 'cur') AS cc
         |          FROM binned GROUP BY event_type, b),
         |grid AS (SELECT event_type, unnest(generate_series(0, 9)) AS b FROM bounds),
         |cells AS (SELECT g.event_type, g.b,
         |            COALESCE(cr, 0) AS cr, COALESCE(cc, 0) AS cc
         |          FROM grid g LEFT JOIN cells0 USING (event_type, b)),
         |tot AS (SELECT event_type, SUM(cr) AS nr, SUM(cc) AS nc
         |        FROM cells GROUP BY event_type)
         |SELECT event_type, CAST(nr AS BIGINT) AS n_ref, CAST(nc AS BIGINT) AS n_cur,
         |  FLOOR(CAST(SUM(CAST(FLOOR(
         |    (((cr + 0.5) / (nr + 5.0)) - ((cc + 0.5) / (nc + 5.0)))
         |      * ln(((cr + 0.5) / (nr + 5.0)) / ((cc + 0.5) / (nc + 5.0))) * 1e12 + 0.5) / 1e12
         |    AS DECIMAL(27,14))) AS DOUBLE) * 1e9 + 0.5) / 1e9 AS psi
         |FROM cells JOIN tot USING (event_type)
         |GROUP BY event_type, nr, nc ORDER BY event_type""".stripMargin)),

    QuerySpec("q174_cuped", (s, dir) => {
      // CUPED variance-reduced A/B readout (Deng et al., the
      // experimentation-platform staple): per-user pre-period covariate
      // x and post-period metric y, pooled theta = cov(x,y)/var(x),
      // adjusted y* = y - theta·(x - mean x); report per-arm means and
      // the variance ratio. Three aggs (user rollup, pooled moments,
      // arm readout) with scalar broadcasts between — the corpus-sized
      // frame shuffles once on user_id. Every double product is
      // rounded then decimal-reduced (q91 discipline), so the pooled
      // moments are partial-agg-order-free. On this synthetic corpus
      // pre/post are uncorrelated (no user persistence), so the
      // variance ratio honestly reads ≈ 1 — the formula, not the win,
      // is what the oracle verifies.
      val split = to_timestamp(lit("2024-01-15 00:00:00"))
      val D6 = DecimalType(27, 6)
      val u = Tables.events(s, dir).groupBy(col("user_id"))
        .agg(
          sum(when(col("ts") < split, col("value")).otherwise(lit(0.0))
            .cast(DecimalType(18, 4))).cast("double").as("x"),
          sum(when(col("ts") >= split, col("value")).otherwise(lit(0.0))
            .cast(DecimalType(18, 4))).cast("double").as("y"))
        .select((col("user_id") % 2).as("t"), col("x"), col("y"))
      val m = u.agg(count(lit(1)).as("n"),
        sum(col("x").cast(D6)).cast("double").as("sx"),
        sum(col("y").cast(D6)).cast("double").as("sy"),
        sum(pround(col("x") * col("y"), 6).cast(D6)).cast("double").as("sxy"),
        sum(pround(col("x") * col("x"), 6).cast(D6)).cast("double").as("sxx"))
      val th = m.select(col("n"), (col("sx") / col("n")).as("mx"),
        ((col("sxy") - col("sx") * col("sy") / col("n"))
          / (col("sxx") - col("sx") * col("sx") / col("n"))).as("theta"))
      val adj = u.crossJoin(broadcast(th))
        .select(col("t"), col("y"),
          pround(col("y") - col("theta") * (col("x") - col("mx")), 6).as("ya"))
      val arm = adj.groupBy(col("t")).agg(
        count(lit(1)).as("n_users"),
        (sum(col("y").cast(D6)).cast("double") / count(lit(1))).as("my"),
        (sum(col("ya").cast(D6)).cast("double") / count(lit(1))).as("mya"),
        (sum(pround(col("ya") * col("ya"), 6).cast(DecimalType(33, 6)))
          .cast("double") / count(lit(1))).as("myy2"),
        (sum(pround(col("y") * col("y"), 6).cast(DecimalType(33, 6)))
          .cast("double") / count(lit(1))).as("my2"))
      arm.select(col("t"), col("n_users"),
          pround(col("my"), 6).as("mean_y"),
          pround(col("mya"), 6).as("mean_adj"),
          pround((col("myy2") - col("mya") * col("mya"))
            / (col("my2") - col("my") * col("my")), 6).as("var_ratio"))
        .orderBy(col("t"))
    }, Some(
      s"""$evCte,
         |u AS (
         |  SELECT user_id % 2 AS t,
         |    CAST(SUM(CAST(CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00'
         |      THEN value ELSE 0 END AS DECIMAL(18,4))) AS DOUBLE) AS x,
         |    CAST(SUM(CAST(CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:00'
         |      THEN value ELSE 0 END AS DECIMAL(18,4))) AS DOUBLE) AS y
         |  FROM ev GROUP BY user_id),
         |m AS (SELECT COUNT(*) AS n,
         |  CAST(SUM(CAST(x AS DECIMAL(27,6))) AS DOUBLE) AS sx,
         |  CAST(SUM(CAST(y AS DECIMAL(27,6))) AS DOUBLE) AS sy,
         |  CAST(SUM(CAST(round(x * y, 6) AS DECIMAL(27,6))) AS DOUBLE) AS sxy,
         |  CAST(SUM(CAST(round(x * x, 6) AS DECIMAL(27,6))) AS DOUBLE) AS sxx
         |  FROM u),
         |th AS (SELECT n, sx / n AS mx,
         |  (sxy - sx * sy / n) / (sxx - sx * sx / n) AS theta FROM m),
         |adj AS (SELECT t, y, round(y - theta * (x - mx), 6) AS ya FROM u, th),
         |arm AS (SELECT t, COUNT(*) AS n_users,
         |  CAST(SUM(CAST(y AS DECIMAL(27,6))) AS DOUBLE) / COUNT(*) AS my,
         |  CAST(SUM(CAST(ya AS DECIMAL(27,6))) AS DOUBLE) / COUNT(*) AS mya,
         |  CAST(SUM(CAST(round(ya * ya, 6) AS DECIMAL(33,6))) AS DOUBLE) / COUNT(*) AS myy2,
         |  CAST(SUM(CAST(round(y * y, 6) AS DECIMAL(33,6))) AS DOUBLE) / COUNT(*) AS my2
         |  FROM adj GROUP BY t)
         |SELECT t, n_users, round(my, 6) AS mean_y, round(mya, 6) AS mean_adj,
         |  round((myy2 - mya * mya) / (my2 - my * my), 6) AS var_ratio
         |FROM arm ORDER BY t""".stripMargin)),

    QuerySpec("q193_cohens_kappa", (s, dir) => {
      // inter-rater agreement (Cohen's kappa) between the q108 linear
      // quality classifier (round-9 score ≥ 0.5) and the lang='en'
      // label — the "do my two labelers agree beyond chance" statistic
      // behind weak-supervision pipelines (q150 calibrates one rater;
      // this compares two). One scan of conditional exact counts;
      // kappa in closed form from the 2×2 table, every product taken
      // in double BEFORE multiplying (the q153 overflow lesson —
      // na·nb at corpus scale exceeds long).
      val score = TextAnalysis.classifierScore(col("text"),
        wTokens = 1.2, wStop = 2.0, wAlpha = 1.5, wPunct = -3.0, bias = -1.0)
      val d = Tables.documents(s, dir)
        .select((score >= 0.5).cast("long").as("a"),
          (col("lang") === "en").cast("long").as("b"))
      val nD = col("n").cast("double")
      val pe = (col("na").cast("double") * col("nb")
        + (nD - col("na")) * (col("n") - col("nb"))) / (nD * col("n"))
      d.agg(count(lit(1)).as("n"),
          sum(col("a") * col("b")).as("n11"),
          sum((lit(1) - col("a")) * (lit(1) - col("b"))).as("n00"),
          sum(col("a")).as("na"), sum(col("b")).as("nb"))
        .select(col("n"), col("n11"), col("n00"), col("na"), col("nb"),
          pround(((col("n11") + col("n00")).cast("double") / nD - pe)
            / (lit(1.0) - pe), 9).as("kappa"))
    }, Some(
      """WITH f AS (SELECT lang,
        |  least(CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) / 100.0, 1.0) AS f_tok,
        |  CASE WHEN len(regexp_extract_all(text, '\S+')) = 0 THEN 0.0
        |       ELSE CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|a|in|is|that|it|for)\b')) AS DOUBLE)
        |            / len(regexp_extract_all(text, '\S+')) END AS f_stop,
        |  CASE WHEN length(text) = 0 THEN 0.0
        |       ELSE CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / length(text) END AS f_alpha,
        |  CASE WHEN length(text) = 0 THEN 0.0
        |       ELSE CAST(length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) AS DOUBLE) / length(text) END AS f_punct
        |FROM documents),
        |d AS (SELECT
        |  CASE WHEN round(1.0 / (1.0 + exp(-(f_tok * 1.2 + f_stop * 2.0 + f_alpha * 1.5 + f_punct * (-3.0) + (-1.0)))), 9) >= 0.5
        |       THEN 1 ELSE 0 END AS a,
        |  CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS b FROM f),
        |t AS (SELECT COUNT(*) AS n, SUM(a * b) AS n11, SUM((1 - a) * (1 - b)) AS n00,
        |             SUM(a) AS na, SUM(b) AS nb FROM d)
        |SELECT n, CAST(n11 AS BIGINT) AS n11, CAST(n00 AS BIGINT) AS n00,
        |  CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
        |  round((CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE)
        |       - (CAST(na AS DOUBLE) * nb + (CAST(n AS DOUBLE) - na) * (n - nb)) / (CAST(n AS DOUBLE) * n))
        |      / (1.0 - (CAST(na AS DOUBLE) * nb + (CAST(n AS DOUBLE) - na) * (n - nb)) / (CAST(n AS DOUBLE) * n)), 9) AS kappa
        |FROM t""".stripMargin)),

    QuerySpec("q194_wasserstein_drift", (s, dir) => {
      // distribution drift as earth-mover distance (Wasserstein-1) —
      // the metric PSI (q166) bin-approximates: W1 between the
      // ref/cur windows per event_type on the decile grid, and BOTH
      // windows' deciles come from ONE exact-quantile selector call
      // on the (type, window) composite group (q165's three shared
      // scans, no per-group buffer). W1 = mean |q_ref(u) − q_cur(u)|
      // over the nine deciles; per-term rounding + decimal reduction
      // (q91) keeps the mean engine-exact.
      val cutover = to_timestamp(lit("2024-01-15 00:00:00"))
      val ev = Tables.events(s, dir)
        .select(concat(col("event_type"), lit("|"),
          when(col("ts") < cutover, "ref").otherwise("cur")).as("g"), col("value"))
      val qs = graft.operators.Selection.exactGroupedQuantiles(
        ev, "g", "value", (1 to 9).map(_ / 10.0))
      val parts = qs.select(split(col("g"), "\\|").getItem(0).as("event_type"),
        split(col("g"), "\\|").getItem(1).as("win"), col("q"), col("value"))
      val a = parts.filter(col("win") === "ref")
        .select(col("event_type"), col("q"), col("value").as("qr"))
      val b = parts.filter(col("win") === "cur")
        .select(col("event_type"), col("q"), col("value").as("qc"))
      a.join(b, Seq("event_type", "q"))
        .groupBy(col("event_type"))
        .agg(pround(sum(pround(abs(col("qr") - col("qc")), 9).cast(DecimalType(27, 9)))
          .cast("double") / 9.0, 9).as("w1"))
        .orderBy(col("event_type"))
    }, Some(
      s"""$evCte,
         |e2 AS (SELECT event_type,
         |         CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00' THEN 'ref' ELSE 'cur' END AS win,
         |         value FROM ev),
         |qs AS (SELECT event_type, win,
         |         quantile_cont(value, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qv
         |       FROM e2 GROUP BY event_type, win),
         |x AS (SELECT event_type, win, g.i AS qi, qv[g.i] AS v
         |      FROM qs, LATERAL (SELECT unnest(generate_series(1, 9)) AS i) g),
         |a AS (SELECT event_type, qi, v AS qr FROM x WHERE win = 'ref'),
         |b AS (SELECT event_type, qi, v AS qc FROM x WHERE win = 'cur')
         |SELECT event_type,
         |  round(CAST(SUM(CAST(round(abs(qr - qc), 9) AS DECIMAL(27,9))) AS DOUBLE) / 9.0, 9) AS w1
         |FROM a JOIN b USING (event_type, qi) GROUP BY event_type ORDER BY event_type""".stripMargin)),

    QuerySpec("q198_ks_drift", (s, dir) => {
      // exact two-sample Kolmogorov–Smirnov drift per event_type:
      // KS = sup over the POOLED value grid of |ECDF_ref − ECDF_cur|.
      // q166's PSI needs a bin choice and q194's W1 a quantile grid;
      // KS is the binless exactly-computable drift statistic. Scale
      // shape: one partial agg to per-(type, value) window counts,
      // then BOTH windows' cumulative counts in ONE
      // CumSum.withRunningTotals pass ordered by (type, value);
      // per-type exclusive prefix offsets (a |types|-row driver
      // frame) rebase the global running totals to within-type — no
      // per-type Window ever sees a corpus-sized distinct-value
      // frame (q195's continuous-tier argument, grouped). The sup is
      // a max over exact-long-ratio doubles; one floor-round at the
      // end keeps it engine-exact.
      val cutover = to_timestamp(lit("2024-01-15 00:00:00"))
      val ev = Tables.events(s, dir).select(col("event_type"), col("value"),
        when(col("ts") < cutover, "ref").otherwise("cur").as("win"))
      // cacheScoped: the count frame feeds both the cumulative pass and
      // the per-type totals — one events scan, not two
      val c = Dedup.cacheScoped(ev.groupBy(col("event_type"), col("value")).agg(
        sum(when(col("win") === "ref", 1L).otherwise(0L)).as("cr"),
        sum(when(col("win") === "cur", 1L).otherwise(0L)).as("cc")))
      val cum = graft.operators.CumSum.withRunningTotals(c,
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
      import s.implicits._
      val offDf = offs.toDF("event_type", "offr", "offc", "tr", "tc")
      cum.join(broadcast(offDf), Seq("event_type"))
        .filter(col("tr") > 0 && col("tc") > 0)
        .select(col("event_type"),
          abs((col("gcr") - col("offr")).cast("double") / col("tr")
            - (col("gcc") - col("offc")).cast("double") / col("tc")).as("d"))
        .groupBy(col("event_type"))
        .agg((floor(max(col("d")) * 1e9 + 0.5) / 1e9).as("ks"))
        .orderBy(col("event_type"))
    }, Some(
      s"""$evCte,
         |w AS (SELECT event_type, value,
         |        CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00' THEN 'ref' ELSE 'cur' END AS win
         |      FROM ev),
         |c AS (SELECT event_type, value,
         |        SUM(CASE WHEN win = 'ref' THEN 1 ELSE 0 END) AS cr,
         |        SUM(CASE WHEN win = 'cur' THEN 1 ELSE 0 END) AS cc
         |      FROM w GROUP BY 1, 2),
         |m AS (SELECT event_type,
         |        SUM(cr) OVER (PARTITION BY event_type ORDER BY value) AS wcr,
         |        SUM(cc) OVER (PARTITION BY event_type ORDER BY value) AS wcc,
         |        SUM(cr) OVER (PARTITION BY event_type) AS tr,
         |        SUM(cc) OVER (PARTITION BY event_type) AS tc
         |      FROM c)
         |SELECT event_type,
         |  FLOOR(MAX(ABS(CAST(wcr AS DOUBLE) / tr - CAST(wcc AS DOUBLE) / tc)) * 1e9 + 0.5) / 1e9 AS ks
         |FROM m WHERE tr > 0 AND tc > 0 GROUP BY 1 ORDER BY 1""".stripMargin)),

    QuerySpec("q221_roc_auc", (s, dir) => {
      // exact ROC-AUC of the cheap quality score as a detector of
      // English docs, per source — the threshold-free eval loop for
      // ranker/filter models (q108 trains a head; this scores any
      // scorer, and q150's calibration bins need a threshold). AUC via
      // the rank-sum identity with midrank tie handling: roll up to
      // per-(source, score) counts, ONE CumSum two-pass over the
      // (source, score) order (scores are continuous, so the count
      // frame is corpus-sized — q195's regime; never a global window),
      // rebase per source with exclusive prefix offsets (q198's
      // |groups|-row driver frame). 2·R⁺ = Σ np·(2·cumBefore + n + 1)
      // stays exact long arithmetic; AUC = (2R⁺ − P(P+1)) / (2PN) is
      // one exact-long double division — correctly rounded, hence
      // engine-identical with no explicit rounding.
      val d = Tables.documents(s, dir).select(col("source"),
        TextAnalysis.qualityScore(col("text")).as("score"),
        (col("lang") === "en").cast("long").as("pos"))
      val c = Dedup.cacheScoped(d.groupBy(col("source"), col("score"))
        .agg(count(lit(1)).as("n"), sum(col("pos")).as("np")))
      val cum = CumSum.withRunningTotal(c, Seq(col("source"), col("score")),
        col("n"), "gcum")
      val tot = c.groupBy(col("source"))
        .agg(sum(col("n")).as("tn"), sum(col("np")).as("tp"))
        .orderBy(col("source")).collect()
      var acc = 0L
      val offs = tot.map { r =>
        val row = (r.getString(0), acc, r.getLong(1), r.getLong(2))
        acc += r.getLong(1); row
      }.toIndexedSeq
      import s.implicits._
      val offDf = offs.toDF("source", "off", "tn", "tp")
      cum.join(broadcast(offDf), Seq("source"))
        .withColumn("r2",
          lit(2) * (col("gcum") - col("off") - col("n")) + col("n") + 1)
        .groupBy(col("source")).agg(sum(col("np") * col("r2")).as("rp2"))
        .join(broadcast(offDf), Seq("source"))
        .filter(col("tp") > 0 && col("tn") - col("tp") > 0)
        .select(col("source"), col("tp").as("n_pos"),
          (col("tn") - col("tp")).as("n_neg"),
          ((col("rp2") - col("tp") * (col("tp") + 1)).cast("double")
            / (lit(2) * col("tp") * (col("tn") - col("tp"))).cast("double"))
            .as("auc"))
        .orderBy(col("source"))
    }, Some(
      """WITH d AS (SELECT source, lang,
        |    least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
        |    * (CASE WHEN length(text) = 0 THEN 0.0
        |            ELSE CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / length(text) END)
        |    * (1.0 - least((CASE WHEN length(text) = 0 THEN 0.0
        |            ELSE CAST(length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) AS DOUBLE) / length(text) END) * 5.0, 1.0))
        |    AS score FROM documents),
        |c AS (SELECT source, score, COUNT(*) AS n,
        |        SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS np
        |      FROM d GROUP BY 1, 2),
        |cum AS (SELECT source, score, n, np,
        |        SUM(n) OVER (PARTITION BY source ORDER BY score) AS scum FROM c),
        |r AS (SELECT source, SUM(np * (2 * (scum - n) + n + 1)) AS rp2 FROM cum GROUP BY 1),
        |t AS (SELECT source, SUM(n) AS tn, SUM(np) AS tp FROM c GROUP BY 1)
        |SELECT source, CAST(tp AS BIGINT) AS n_pos, CAST(tn - tp AS BIGINT) AS n_neg,
        |  CAST(rp2 - tp * (tp + 1) AS DOUBLE) / CAST(2 * tp * (tn - tp) AS DOUBLE) AS auc
        |FROM r JOIN t USING (source)
        |WHERE tp > 0 AND tn - tp > 0 ORDER BY source""".stripMargin)),

    QuerySpec("q222_mann_whitney", (s, dir) => {
      // exact Mann–Whitney U: does the `value` distribution of clicks
      // differ from purchases? The nonparametric two-sample test behind
      // A/B readouts on skewed metrics (q174's CUPED assumes means;
      // ranks don't). Same midrank machinery as q221 — per-value
      // counts, one global CumSum two-pass (values are continuous;
      // no global window) — then 2R₁ exact, tie-corrected variance,
      // continuity-corrected z. All integer arithmetic until the final
      // σ (sqrt is correctly rounded, so the mirrored formula is
      // engine-identical); one floor-round on z.
      val ev = Tables.events(s, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("value"),
          (col("event_type") === "click").cast("long").as("g1"))
      val c = Dedup.cacheScoped(ev.groupBy(col("value"))
        .agg(count(lit(1)).as("n"), sum(col("g1")).as("n1v")))
      val cum = CumSum.withRunningTotal(c, Seq(col("value")), col("n"), "gcum")
      val r = cum.agg(sum(col("n1v") *
        (lit(2) * (col("gcum") - col("n")) + col("n") + 1)).as("r1x2"))
      // tie term in DECIMAL: long n³ silently wraps past n ≈ 2.1M tied
      // rows while DuckDB widens to HUGEINT — exact-arithmetic
      // discipline (r9 ADVICE), no present-day fixture reaches it
      val nD = col("n").cast(DecimalType(14, 0))
      val t = c.agg(sum(col("n")).as("nn"), sum(col("n1v")).as("n1"),
        sum(nD * nD * nD - nD).as("tie"))
      val j = r.crossJoin(broadcast(t))
        .withColumn("n2", col("nn") - col("n1"))
        .withColumn("u1x2", col("r1x2") - col("n1") * (col("n1") + 1))
        .withColumn("num2", col("u1x2") - col("n1") * col("n2"))
        .withColumn("sig", sqrt(
          col("n1").cast("double") * col("n2").cast("double") / 12.0
            * (col("nn").cast("double") + 1.0
               - col("tie").cast("double")
                 / (col("nn").cast("double") * (col("nn").cast("double") - 1.0)))))
      val z = when(col("num2") > 0,
          (col("num2") - 1).cast("double") / (lit(2.0) * col("sig")))
        .when(col("num2") < 0,
          (col("num2") + 1).cast("double") / (lit(2.0) * col("sig")))
        .otherwise(lit(0.0))
      j.select(col("n1"), col("n2"),
        (col("u1x2").cast("double") / 2.0).as("u1"),
        (floor(z * 1e9 + 0.5) / 1e9).as("z"))
    }, Some(
      s"""$evCte,
         |g AS (SELECT value, CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS g1
         |      FROM ev WHERE event_type IN ('click', 'purchase')),
         |c AS (SELECT value, COUNT(*) AS n, SUM(g1) AS n1v FROM g GROUP BY 1),
         |cum AS (SELECT value, n, n1v, SUM(n) OVER (ORDER BY value) AS gcum FROM c),
         |r AS (SELECT SUM(n1v * (2 * (gcum - n) + n + 1)) AS r1x2 FROM cum),
         |t AS (SELECT SUM(n) AS nn, SUM(n1v) AS n1,
         |        SUM(CAST(n AS HUGEINT) * n * n - n) AS tie FROM c),
         |j AS (SELECT nn, n1, nn - n1 AS n2, tie, r1x2,
         |        r1x2 - n1 * (n1 + 1) AS u1x2,
         |        r1x2 - n1 * (n1 + 1) - n1 * (nn - n1) AS num2,
         |        SQRT(CAST(n1 AS DOUBLE) * CAST(nn - n1 AS DOUBLE) / 12.0
         |          * (CAST(nn AS DOUBLE) + 1.0
         |             - CAST(tie AS DOUBLE) / (CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) - 1.0)))) AS sig
         |      FROM r CROSS JOIN t)
         |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
         |  CAST(u1x2 AS DOUBLE) / 2.0 AS u1,
         |  FLOOR(CASE WHEN num2 > 0 THEN CAST(num2 - 1 AS DOUBLE) / (2.0 * sig)
         |             WHEN num2 < 0 THEN CAST(num2 + 1 AS DOUBLE) / (2.0 * sig)
         |             ELSE 0.0 END * 1e9 + 0.5) / 1e9 AS z
         |FROM j""".stripMargin)),

    QuerySpec("q232_kendall_tau", (s, dir) => {
      // Kendall τ-b between daily click and purchase volumes [EXT] —
      // the tie-robust rank companion to q229's rolling Pearson (rank
      // concordance survives outlier days that bend a linear r; τ-b's
      // denominator corrects for tied days on either margin). Same
      // calendar²-bounded day-pair join as q220; concordant/discordant
      // /tie counts are EXACT integers, the closing
      // (C−D)/√((n0−n1)(n0−n2)) is two exact-int casts, one sqrt and
      // one division — pure IEEE both engines, one floor-round.
      val daily = Dedup.cacheScoped(Tables.events(s, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .groupBy(date_trunc("DAY", col("ts")).as("day"))
        .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y")))
      val pairs = daily.select(col("day").as("d1"), col("x").as("x1"), col("y").as("y1"))
        .join(daily.select(col("day").as("d2"), col("x").as("x2"), col("y").as("y2")),
          col("d1") < col("d2"))
      val cd = pairs.agg(
        count(lit(1)).as("n0"),
        sum(when((col("x2") - col("x1")) * (col("y2") - col("y1")) > 0, 1L)
          .otherwise(0L)).as("c"),
        sum(when((col("x2") - col("x1")) * (col("y2") - col("y1")) < 0, 1L)
          .otherwise(0L)).as("d"),
        sum(when(col("x1") === col("x2"), 1L).otherwise(0L)).as("n1"),
        sum(when(col("y1") === col("y2"), 1L).otherwise(0L)).as("n2"))
      val n = daily.agg(count(lit(1)).as("n_days"))
      cd.crossJoin(n)
        .filter(col("n0") - col("n1") > 0 && col("n0") - col("n2") > 0)
        .select(col("n_days"), col("c").as("concordant"), col("d").as("discordant"),
          (floor((col("c") - col("d")).cast("double")
            / sqrt((col("n0") - col("n1")).cast("double")
              * (col("n0") - col("n2")).cast("double")) * 1e9 + 0.5) / 1e9).as("tau_b"))
    }, Some(
      s"""$evCte,
         |daily AS (SELECT date_trunc('day', ts) AS day,
         |            SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x,
         |            SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
         |          FROM ev WHERE event_type IN ('click', 'purchase') GROUP BY 1),
         |p AS (SELECT a.x AS x1, a.y AS y1, b.x AS x2, b.y AS y2
         |      FROM daily a JOIN daily b ON a.day < b.day),
         |cd AS (SELECT COUNT(*) AS n0,
         |         SUM(CASE WHEN (x2 - x1) * (y2 - y1) > 0 THEN 1 ELSE 0 END) AS c,
         |         SUM(CASE WHEN (x2 - x1) * (y2 - y1) < 0 THEN 1 ELSE 0 END) AS d,
         |         SUM(CASE WHEN x1 = x2 THEN 1 ELSE 0 END) AS n1,
         |         SUM(CASE WHEN y1 = y2 THEN 1 ELSE 0 END) AS n2
         |       FROM p),
         |n AS (SELECT COUNT(*) AS n_days FROM daily)
         |SELECT n_days, CAST(c AS BIGINT) AS concordant, CAST(d AS BIGINT) AS discordant,
         |  FLOOR(CAST(c - d AS DOUBLE)
         |    / sqrt(CAST(n0 - n1 AS DOUBLE) * CAST(n0 - n2 AS DOUBLE)) * 1e9 + 0.5) / 1e9 AS tau_b
         |FROM cd, n WHERE n0 - n1 > 0 AND n0 - n2 > 0""".stripMargin)),

    QuerySpec("q233_calibration_error", (s, dir) => {
      // expected calibration error [EXT] — q150's decile reliability
      // table reduced to the headline scalar: ECE = Σ_b (n_b/N)·
      // |acc_b − conf_b| (Guo et al.'s metric behind "is the quality
      // classifier overconfident?"). Rides q150's exact calibration
      // study — same weights, same least(floor(p·10), 9) deciles — so
      // the scalar IS that table's summary; per-bucket sums reduce in
      // exact decimal (scores are 9-digit by construction, labels
      // integer), the closing weighted sum floor-rounds each |gap| at
      // 9 then reduces in DECIMAL — fully engine-portable.
      // The r10 driver hash-mismatch was not the sigmoid: the oracle's
      // uncast SUM(nb) → HUGEINT → pandas float64 vs Spark int64
      // n_docs (dtype-sensitive driver hash). Fixed r11 with
      // CAST(SUM(nb) AS BIGINT); see q210's note.
      val score = TextAnalysis.classifierScore(col("text"),
        wTokens = 1.2, wStop = 2.0, wAlpha = 1.5, wPunct = -3.0, bias = -1.0)
      val scored = Tables.documents(s, dir)
        .select(col("doc_id"),
          score.as("p"), (col("lang") === "en").cast("long").as("y"))
        .withColumn("b", least(floor(col("p") * 10), lit(9L)).cast("long"))
      val buckets = scored.groupBy(col("b"))
        .agg(count(lit(1)).as("nb"),
          sum(col("p").cast(DecimalType(27, 9))).cast("double").as("sp"),
          sum(col("y")).as("sy"))
      val tot = buckets.agg(sum(col("nb")).as("nn"))
      val gap9 = floor(abs(col("sy").cast("double") / col("nb")
        - col("sp") / col("nb")) * 1e9 + 0.5) / 1e9
      // tight precisions: (10,9)×(14,0) → DECIMAL(25,9), exact. Wider
      // declarations ((27,9)×(27,0) → needs 55) trip Spark's
      // allowPrecisionLoss scale-truncation to 6 digits and silently
      // shave each weight (observed 2e-9 on the final ECE).
      buckets.crossJoin(broadcast(tot))
        .select((gap9.cast(DecimalType(10, 9))
          * col("nb").cast(DecimalType(14, 0))).as("w"), col("nn"))
        .groupBy(col("nn"))
        .agg((floor(sum(col("w")).cast("double") / col("nn").cast("double")
          * 1e9 + 0.5) / 1e9).as("ece"))
        .select(col("nn").as("n_docs"), col("ece"))
    }, Some(
      """WITH f AS (SELECT doc_id, lang,
        |  least(CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) / 100.0, 1.0) AS f_tok,
        |  CASE WHEN len(regexp_extract_all(text, '\S+')) = 0 THEN 0.0
        |       ELSE CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|a|in|is|that|it|for)\b')) AS DOUBLE)
        |            / len(regexp_extract_all(text, '\S+')) END AS f_stop,
        |  CASE WHEN length(text) = 0 THEN 0.0
        |       ELSE CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / length(text) END AS f_alpha,
        |  CASE WHEN length(text) = 0 THEN 0.0
        |       ELSE CAST(length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) AS DOUBLE) / length(text) END AS f_punct
        |FROM documents),
        |z AS (SELECT doc_id, lang,
        |        round(1.0 / (1.0 + exp(-(f_tok * 1.2 + f_stop * 2.0 + f_alpha * 1.5 + f_punct * (-3.0) + (-1.0)))), 9) AS p
        |      FROM f),
        |b AS (SELECT CAST(least(floor(p * 10), 9) AS BIGINT) AS b, p,
        |        CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        |      FROM z),
        |bk AS (SELECT b, COUNT(*) AS nb,
        |         CAST(SUM(CAST(p AS DECIMAL(27,9))) AS DOUBLE) AS sp,
        |         SUM(y) AS sy
        |       FROM b GROUP BY 1),
        |t AS (SELECT CAST(SUM(nb) AS BIGINT) AS nn FROM bk),
        |w AS (SELECT CAST(FLOOR(abs(CAST(sy AS DOUBLE) / nb - sp / nb) * 1e9 + 0.5) / 1e9
        |          AS DECIMAL(27,9)) * CAST(nb AS DECIMAL(27,0)) AS w, nn
        |      FROM bk, t)
        |SELECT nn AS n_docs,
        |  FLOOR(CAST(SUM(w) AS DOUBLE) / CAST(nn AS DOUBLE) * 1e9 + 0.5) / 1e9 AS ece
        |FROM w GROUP BY nn""".stripMargin)),

    QuerySpec("q234_km_survival", (s, dir) => {
      // Kaplan–Meier survival of view→purchase conversion [EXT] —
      // S(t) = Π_{u≤t}(1 − d_u/n_u), the survival companion to q216's
      // delay quantiles (quantiles describe converters; KM describes
      // EVERYONE, censoring the users who never converted inside the
      // 168 h window — dropping them biases time-to-convert toward
      // the fast converters). Administrative censoring at the horizon
      // means at-risk = N − cumulative events: pure integers through
      // the whole table. The product telescopes as exp(Σ ln((n−d)/n))
      // with each ln term floor-rounded at 12 and summed over the
      // ≤168-row hour grid (tiny-frame window exception, like q207) —
      // the q166/q210 transcendental discipline, so both engines walk
      // identical doubles into the one exp, floor-rounded at 9.
      val ev = Tables.events(s, dir)
      val v = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("v_ts"))
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("p_ts"))
      val firstP = v.join(p, Seq("user_id"))
        .filter(col("p_ts") >= col("v_ts"))
        .groupBy(col("user_id"), col("v_ts")).agg(min(col("p_ts")).as("p_ts"))
      val delays = v.join(firstP, Seq("user_id", "v_ts"), "left")
        .select(col("user_id"),
          ((unix_timestamp(col("p_ts")) - unix_timestamp(col("v_ts"))) / 3600L)
            .cast("long").as("delay_h"))
        .withColumn("event", col("delay_h").isNotNull && col("delay_h") < 168)
      val nTot = delays.agg(count(lit(1)).as("n_users"))
      val grid = delays.filter(col("event"))
        .groupBy(col("delay_h").as("t")).agg(count(lit(1)).as("d"))
      val wCum = Window.orderBy(col("t"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.crossJoin(broadcast(nTot))
        .withColumn("cumd", sum(col("d")).over(wCum))
        .withColumn("n_at_risk", col("n_users") - col("cumd") + col("d"))
        // n_at_risk == d (everyone left converts this hour) zeroes the
        // survival curve from here on; ln(0) = -inf must not enter the
        // floor-form (Spark's floor(-inf) -> Long.MinValue vs DuckDB's
        // -inf double would diverge) — carry a hit-zero flag instead
        .withColumn("lt", when(col("n_at_risk") > col("d"), floor(
          log((col("n_at_risk") - col("d")).cast("double") / col("n_at_risk"))
            * 1e12 + 0.5) / 1e12).otherwise(lit(0.0)))
        .withColumn("ls", sum(col("lt").cast(DecimalType(27, 14))).over(wCum))
        .withColumn("hit0",
          max((col("n_at_risk") === col("d")).cast("int")).over(wCum))
        .select(col("t").as("t_hours"), col("d").as("n_events"), col("n_at_risk"),
          when(col("hit0") === 1, lit(0.0)).otherwise(
            floor(exp(col("ls").cast("double")) * 1e9 + 0.5) / 1e9).as("survival"))
        .orderBy(col("t_hours"))
    }, Some(
      s"""$evCte,
         |v AS (SELECT user_id, MIN(ts) AS v_ts FROM ev
         |      WHERE event_type = 'view' GROUP BY 1),
         |fp AS (SELECT v.user_id, v.v_ts, MIN(p.ts) AS p_ts
         |       FROM v JOIN ev p ON p.user_id = v.user_id
         |         AND p.event_type = 'purchase' AND p.ts >= v.v_ts
         |       GROUP BY 1, 2),
         |del AS (SELECT v.user_id,
         |          CAST((epoch_us(fp.p_ts) // 1000000 - epoch_us(v.v_ts) // 1000000)
         |            // 3600 AS BIGINT) AS delay_h
         |        FROM v LEFT JOIN fp ON fp.user_id = v.user_id),
         |nt AS (SELECT COUNT(*) AS n_users FROM del),
         |grid AS (SELECT delay_h AS t, COUNT(*) AS d FROM del
         |         WHERE delay_h IS NOT NULL AND delay_h < 168 GROUP BY 1),
         |m0 AS (SELECT t, d, n_users,
         |         SUM(d) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
         |                      AND CURRENT ROW) AS cumd
         |       FROM grid, nt),
         |m AS (SELECT t, d, n_users - cumd + d AS n_at_risk,
         |        MAX(CASE WHEN n_users - cumd = 0 THEN 1 ELSE 0 END)
         |          OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
         |                AND CURRENT ROW) AS hit0
         |      FROM m0),
         |l AS (SELECT t, d, n_at_risk, hit0,
         |        CASE WHEN n_at_risk > d THEN FLOOR(
         |          ln(CAST(n_at_risk - d AS DOUBLE) / n_at_risk) * 1e12 + 0.5) / 1e12
         |        ELSE 0.0 END AS lt
         |      FROM m),
         |c AS (SELECT t, d, n_at_risk, hit0,
         |        SUM(CAST(lt AS DECIMAL(27,14))) OVER
         |          (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ls
         |      FROM l)
         |SELECT t AS t_hours, d AS n_events, CAST(n_at_risk AS BIGINT) AS n_at_risk,
         |  CASE WHEN hit0 = 1 THEN 0.0
         |       ELSE FLOOR(exp(CAST(ls AS DOUBLE)) * 1e9 + 0.5) / 1e9 END AS survival
         |FROM c ORDER BY t_hours""".stripMargin)),

    QuerySpec("q235_bootstrap_ci", (s, dir) => {
      // deterministic Poisson-bootstrap confidence interval for the
      // mean value per event_type [EXT] — the error-bars operator
      // behind every dashboard number. B=100 replicates via the
      // POISSON bootstrap (Chamandy et al.'s map-side resampling: each
      // row draws a Poisson(1) replicate weight independently — no
      // global resample pass, the form that works on unbounded
      // streams): u = the q109 Lehmer hash of (event_id·101 + b) — the
      // house portable PRNG, pure integer arithmetic in both engines —
      // inverted through a LITERAL Poisson(1) CDF ladder (both engines
      // parse the same 7 cumulative constants; k capped at 7,
      // P ≈ 1e-5). Replicate sums fold INSIDE one typed aggregate per
      // event_type (operators/Bootstrap.scala): state is two long[B]
      // arrays — n agg probes instead of the naive n·B-row explode
      // (which cost a 60M-row decimal hash-agg at sf0.1), partial
      // state 2·B longs per group at ANY corpus size. Each term is
      // floor(w·value·1e4+0.5), an exact integer both engines sum
      // order-free; the percentile band over the 100 replicate means
      // rides the no-buffer selector, bit-equal to quantile_cont.
      val B = 100
      val reps = Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(graft.operators.Bootstrap.poissonReps(B)(
          col("event_id"), col("value")).as("r"))
        .select(col("event_type"),
          explode(arrays_zip(col("r.swx"), col("r.sw"))).as("z"))
        .filter(col("z.sw") > 0)
        .select(col("event_type"),
          (col("z.swx").cast("double") / lit(10000.0)
            / col("z.sw").cast("double")).as("m"))
      val band = graft.operators.Selection.exactGroupedQuantiles(
        Dedup.cacheScoped(reps), "event_type", "m", Seq(0.025, 0.975))
      val mean = Tables.events(s, dir).groupBy(col("event_type"))
        .agg((dsum(col("value")) / count(lit(1))).as("mean_value"))
      mean.join(band.groupBy(col("event_type")).agg(
          max(when(col("q") === 0.025, col("value"))).as("lo95"),
          max(when(col("q") === 0.975, col("value"))).as("hi95")),
        Seq("event_type"))
        .select(col("event_type"), pround(col("mean_value"), 9).as("mean_value"),
          pround(col("lo95"), 9).as("lo95"), pround(col("hi95"), 9).as("hi95"))
        .orderBy(col("event_type"))
    }, Some(
      s"""$evCte,
         |x AS (SELECT event_type, event_id, value, b.b
         |      FROM ev CROSS JOIN (SELECT unnest(generate_series(1, 100)) AS b) b),
         |uu AS (SELECT event_type, value,
         |         (CAST((event_id * 101 + b) % 2147483647 * 48271 % 2147483647
         |            * 48271 % 2147483647 * 48271 % 2147483647 AS DOUBLE) + 0.5)
         |           / 2147483647.0 AS u, b
         |       FROM x),
         |ww AS (SELECT event_type, value, b,
         |         CASE WHEN u < 0.36787944117144233 THEN 0
         |              WHEN u < 0.7357588823428847 THEN 1
         |              WHEN u < 0.9196986029286058 THEN 2
         |              WHEN u < 0.9810118431238463 THEN 3
         |              WHEN u < 0.9963401531726563 THEN 4
         |              WHEN u < 0.9994058151824183 THEN 5
         |              WHEN u < 0.999916758850712 THEN 6
         |              ELSE 7 END AS w
         |       FROM uu),
         |reps AS (SELECT event_type, b,
         |           CAST(SUM(CAST(FLOOR(w * value * 10000 + 0.5) AS BIGINT))
         |                AS DOUBLE) / 10000.0 / CAST(SUM(w) AS DOUBLE) AS m
         |         FROM ww GROUP BY 1, 2 HAVING SUM(w) > 0),
         |band AS (SELECT event_type,
         |           quantile_cont(m, 0.025) AS lo95,
         |           quantile_cont(m, 0.975) AS hi95
         |         FROM reps GROUP BY 1),
         |mn AS (SELECT event_type,
         |         CAST(SUM(CAST(value AS $D)) AS DOUBLE) / COUNT(*) AS mean_value
         |       FROM ev GROUP BY 1)
         |SELECT mn.event_type, round(mean_value, 9) AS mean_value,
         |  round(lo95, 9) AS lo95, round(hi95, 9) AS hi95
         |FROM mn JOIN band ON mn.event_type = band.event_type
         |ORDER BY mn.event_type""".stripMargin)),

    QuerySpec("q236_spearman", (s, dir) => {
      // Spearman rank correlation between daily click and purchase
      // volumes [EXT] — the monotone-association companion to q232's
      // τ-b (ρ uses rank MAGNITUDES, τ counts inversions; the pair
      // diverges under heavy ties, so dashboards report both). Midranks
      // come from per-value counts + one cumulative over the ≤|days|-row
      // value frame (tiny-frame window exception, like q207):
      // 2·midrank = 2(cum−cnt)+cnt+1 is an exact INTEGER, so every sum
      // in the closing Pearson-on-ranks formula is exact long
      // arithmetic; the ×2 scale cancels exactly (sqrt of an exact 4A
      // is exactly 2√A in IEEE), leaving one sqrt+division and a single
      // floor-round — engine-identical by construction.
      val daily = Dedup.cacheScoped(Tables.events(s, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .groupBy(date_trunc("DAY", col("ts")).as("day"))
        .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y")))
      val wv = Window.orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      def rank2(c: String): DataFrame = daily.groupBy(col(c).as("v"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum(col("cnt")).over(wv))
        .select(col("v").as(c),
          (lit(2L) * (col("cum") - col("cnt")) + col("cnt") + 1L).as("r2" + c))
      daily.join(broadcast(rank2("x")), Seq("x"))
        .join(broadcast(rank2("y")), Seq("y"))
        .agg(count(lit(1)).as("n"), sum(col("r2x")).as("sx"), sum(col("r2y")).as("sy"),
          sum(col("r2x") * col("r2x")).as("sxx"),
          sum(col("r2y") * col("r2y")).as("syy"),
          sum(col("r2x") * col("r2y")).as("sxy"))
        .filter(col("n") * col("sxx") - col("sx") * col("sx") > 0 &&
          col("n") * col("syy") - col("sy") * col("sy") > 0)
        .select(col("n").as("n_days"),
          (floor((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
            / (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
              * sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double")))
            * 1e9 + 0.5) / 1e9).as("rho"))
    }, Some(
      s"""$evCte,
         |daily AS (SELECT date_trunc('day', ts) AS day,
         |            SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x,
         |            SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
         |          FROM ev WHERE event_type IN ('click', 'purchase') GROUP BY 1),
         |rx AS (SELECT v AS x, 2 * (cum - cnt) + cnt + 1 AS r2x FROM (
         |         SELECT x AS v, COUNT(*) AS cnt,
         |           SUM(COUNT(*)) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
         |                               AND CURRENT ROW) AS cum
         |         FROM daily GROUP BY x)),
         |ry AS (SELECT v AS y, 2 * (cum - cnt) + cnt + 1 AS r2y FROM (
         |         SELECT y AS v, COUNT(*) AS cnt,
         |           SUM(COUNT(*)) OVER (ORDER BY y ROWS BETWEEN UNBOUNDED PRECEDING
         |                               AND CURRENT ROW) AS cum
         |         FROM daily GROUP BY y)),
         |a AS (SELECT COUNT(*) AS n, SUM(r2x) AS sx, SUM(r2y) AS sy,
         |        SUM(r2x * r2x) AS sxx, SUM(r2y * r2y) AS syy,
         |        SUM(r2x * r2y) AS sxy
         |      FROM daily JOIN rx USING (x) JOIN ry USING (y))
         |SELECT n AS n_days,
         |  FLOOR(CAST(n * sxy - sx * sy AS DOUBLE)
         |    / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
         |      * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) * 1e9 + 0.5) / 1e9 AS rho
         |FROM a WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0""".stripMargin)),

    QuerySpec("q240_jsd_sources", (s, dir) => {
      // Jensen–Shannon divergence between source token distributions
      // [EXT] — the symmetric, bounded (≤ ln 2) corpus-mixing metric:
      // PSI (q166) and KS (q198) compare VALUE distributions; JSD is
      // the standard measure for "how different is source A's language
      // from source B's" when weighting a pretraining mixture. Key
      // scale identity: words present in only ONE source contribute
      // exactly p·ln2, so JSD = ½[Σ_shared(p·ln(2p/(p+q)) +
      // q·ln(2q/(p+q))) + ln2·(2 − mass₁ − mass₂)] needs NO outer
      // join — one word equi-join for the shared terms (fan-out ≤
      // |sources|² per word, vocabulary-bounded) and exact-integer
      // shared-mass counts; transcendental terms floor-round at 12
      // into DECIMAL sums (q166 discipline), masses are single
      // exact-int divisions, one floor-9 close.
      val LN2 = 0.6931471805599453
      val toks = Tables.documents(s, dir)
        .select(col("source"), explode(split(lower(col("text")), " ")).as("w"))
        .filter(length(col("w")) > 0)
      val wc = Dedup.cacheScoped(
        toks.groupBy(col("source"), col("w")).agg(count(lit(1)).as("c")))
      val tot = wc.groupBy(col("source")).agg(sum(col("c")).as("n"))
      val a = wc.join(broadcast(tot), Seq("source"))
        .select(col("source").as("s1"), col("w"), col("c").as("c1"), col("n").as("n1"))
      val b = wc.join(broadcast(tot), Seq("source"))
        .select(col("source").as("s2"), col("w"), col("c").as("c2"), col("n").as("n2"))
      val p = col("c1").cast("double") / col("n1")
      val q = col("c2").cast("double") / col("n2")
      val term = floor((p * log(lit(2) * p / (p + q))
        + q * log(lit(2) * q / (p + q))) * 1e12 + 0.5) / 1e12
      a.join(b, Seq("w")).filter(col("s1") < col("s2"))
        .select(col("s1"), col("s2"), col("n1"), col("n2"),
          col("c1"), col("c2"), term.cast(DecimalType(27, 14)).as("t"))
        .groupBy(col("s1"), col("s2"), col("n1"), col("n2"))
        .agg(count(lit(1)).as("n_shared"), sum(col("t")).cast("double").as("ts"),
          sum(col("c1")).as("m1"), sum(col("c2")).as("m2"))
        .select(col("s1"), col("s2"), col("n_shared"),
          (floor((col("ts") + lit(LN2) * (lit(2)
            - col("m1").cast("double") / col("n1")
            - col("m2").cast("double") / col("n2"))) / 2 * 1e9 + 0.5) / 1e9).as("jsd"))
        .orderBy(col("s1"), col("s2"))
    }, Some(
      """WITH toks AS (SELECT source, unnest(string_split(lower(text), ' ')) AS w
        |              FROM documents),
        |wc AS (SELECT source, w, COUNT(*) AS c FROM toks
        |       WHERE length(w) > 0 GROUP BY 1, 2),
        |tot AS (SELECT source, SUM(c) AS n FROM wc GROUP BY 1),
        |wn AS (SELECT wc.source, wc.w, wc.c, tot.n
        |       FROM wc JOIN tot USING (source)),
        |j AS (SELECT a.source AS s1, b.source AS s2, a.n AS n1, b.n AS n2,
        |        a.c AS c1, b.c AS c2,
        |        CAST(a.c AS DOUBLE) / a.n AS p, CAST(b.c AS DOUBLE) / b.n AS q
        |      FROM wn a JOIN wn b ON a.w = b.w AND a.source < b.source),
        |ag AS (SELECT s1, s2, n1, n2, COUNT(*) AS n_shared,
        |         CAST(SUM(CAST(FLOOR((p * ln(2 * p / (p + q))
        |           + q * ln(2 * q / (p + q))) * 1e12 + 0.5) / 1e12
        |           AS DECIMAL(27,14))) AS DOUBLE) AS ts,
        |         SUM(c1) AS m1, SUM(c2) AS m2
        |       FROM j GROUP BY 1, 2, 3, 4)
        |SELECT s1, s2, n_shared,
        |  FLOOR((ts + 0.6931471805599453 * (2 - CAST(m1 AS DOUBLE) / n1
        |    - CAST(m2 AS DOUBLE) / n2)) / 2 * 1e9 + 0.5) / 1e9 AS jsd
        |FROM ag ORDER BY s1, s2""".stripMargin)),

    QuerySpec("q241_mutual_info", (s, dir) => {
      // mutual information between the value bin and event_type [EXT]
      // — the model-free feature-relevance / leakage detector ("does
      // value predict event_type?"): q86/q146 compute word-pair PMI,
      // q91 per-doc entropy; this is I(X;Y) = Σ (n_xy/n)·
      // ln(n_xy·n/(n_x·n_y)) over the (bin × type) contingency — the
      // quantity feature selection ranks on. Fixed-width bins are
      // map-side (q83's histogram shape), every count is exact, each
      // cell's log ratio takes exact-integer products (< 2⁵³ so the
      // double casts are exact), floor-rounds at 12, weights by the
      // exact cell count, floor-rounds again and reduces in DECIMAL;
      // one division by n and a floor-9 close the scalar.
      val binned = Tables.events(s, dir)
        .select(col("event_type").as("t"), floor(col("value") / 25).cast("long").as("b"))
      val cells = Dedup.cacheScoped(
        binned.groupBy(col("t"), col("b")).agg(count(lit(1)).as("nxy")))
      val nx = cells.groupBy(col("t")).agg(sum(col("nxy")).as("nx"))
      val ny = cells.groupBy(col("b")).agg(sum(col("nxy")).as("ny"))
      val nT = cells.agg(sum(col("nxy")).as("n"))
      val lr = floor(log((col("nxy") * col("n")).cast("double")
        / (col("nx") * col("ny")).cast("double")) * 1e12 + 0.5) / 1e12
      val wterm = floor(col("nxy").cast("double") * lr * 1e12 + 0.5) / 1e12
      cells.join(broadcast(nx), Seq("t")).join(broadcast(ny), Seq("b"))
        .crossJoin(broadcast(nT))
        .select(col("n"), wterm.cast(DecimalType(27, 14)).as("wt"))
        .groupBy(col("n"))
        .agg(count(lit(1)).as("n_cells"), sum(col("wt")).cast("double").as("sw"))
        .select(col("n").as("n_events"), col("n_cells"),
          (floor(col("sw") / col("n") * 1e9 + 0.5) / 1e9).as("mi_nats"))
    }, Some(
      s"""$evCte,
         |binned AS (SELECT event_type AS t,
         |             CAST(FLOOR(value / 25) AS BIGINT) AS b FROM ev),
         |cells AS (SELECT t, b, COUNT(*) AS nxy FROM binned GROUP BY 1, 2),
         |nx AS (SELECT t, SUM(nxy) AS nx FROM cells GROUP BY 1),
         |ny AS (SELECT b, SUM(nxy) AS ny FROM cells GROUP BY 1),
         |nt AS (SELECT SUM(nxy) AS n FROM cells),
         |tm AS (SELECT n,
         |         FLOOR(CAST(nxy AS DOUBLE)
         |           * (FLOOR(ln(CAST(nxy * n AS DOUBLE) / CAST(nx.nx * ny.ny AS DOUBLE))
         |              * 1e12 + 0.5) / 1e12) * 1e12 + 0.5) / 1e12 AS wt
         |       FROM cells JOIN nx USING (t) JOIN ny USING (b), nt)
         |SELECT CAST(n AS BIGINT) AS n_events, COUNT(*) AS n_cells,
         |  FLOOR(CAST(SUM(CAST(wt AS DECIMAL(27,14))) AS DOUBLE) / n * 1e9 + 0.5) / 1e9
         |    AS mi_nats
         |FROM tm GROUP BY n""".stripMargin)),

    QuerySpec("q245_poststrat_mean", (s, dir) => {
      // post-stratified (inverse-propensity) mean [EXT] — the
      // covariate-shift correction behind "clicks skew toward evening
      // hours; what would their mean value be if they followed overall
      // traffic?": m̂ = Σ_h (N_h/N)·mean(value | click, h), i.e. each
      // hour stratum's click mean reweighted by the POPULATION hour
      // distribution (equivalently IPW with exact stratum propensities
      // C_h/N_h — no fitted model, so the weights are exact-integer
      // ratios). q174's CUPED reduces variance with a pre-period
      // covariate; this removes allocation BIAS. One pass builds both
      // strata tables (≤24 rows each, broadcast); per-stratum terms
      // are two exact divisions and a product, floor-rounded at 12
      // into a DECIMAL sum; the naive mean rides the dsum discipline.
      val ev = Tables.events(s, dir)
      val pop = ev.groupBy(hour(col("ts")).cast("long").as("h"))
        .agg(count(lit(1)).as("nh"))
      val clk = ev.filter(col("event_type") === "click")
        .groupBy(hour(col("ts")).cast("long").as("h"))
        .agg(count(lit(1)).as("ch"), dsum(col("value")).as("sh"))
      val nT = ev.agg(count(lit(1)).as("n"))
      val naive = ev.filter(col("event_type") === "click")
        .agg((dsum(col("value")) / count(lit(1))).as("naive"))
      val term = floor(col("nh").cast("double") / col("n")
        * (col("sh") / col("ch")) * 1e12 + 0.5) / 1e12
      pop.join(clk, Seq("h")).crossJoin(broadcast(nT))
        .select(term.cast(DecimalType(27, 14)).as("t"))
        .agg(count(lit(1)).as("n_strata"), sum(col("t")).cast("double").as("adj"))
        .crossJoin(broadcast(naive))
        .select(col("n_strata"), pround(col("naive"), 9).as("naive_mean"),
          pround(col("adj"), 9).as("poststrat_mean"))
    }, Some(
      s"""$evCte,
         |pop AS (SELECT CAST(hour(ts) AS BIGINT) AS h, COUNT(*) AS nh
         |        FROM ev GROUP BY 1),
         |clk AS (SELECT CAST(hour(ts) AS BIGINT) AS h, COUNT(*) AS ch,
         |          CAST(SUM(CAST(value AS $D)) AS DOUBLE) AS sh
         |        FROM ev WHERE event_type = 'click' GROUP BY 1),
         |nt AS (SELECT COUNT(*) AS n FROM ev),
         |nv AS (SELECT CAST(SUM(CAST(value AS $D)) AS DOUBLE) / COUNT(*) AS naive
         |       FROM ev WHERE event_type = 'click'),
         |t AS (SELECT FLOOR(CAST(nh AS DOUBLE) / n * (sh / ch) * 1e12 + 0.5) / 1e12
         |        AS t
         |      FROM pop JOIN clk USING (h), nt),
         |ag AS (SELECT COUNT(*) AS n_strata,
         |         CAST(SUM(CAST(t AS DECIMAL(27,14))) AS DOUBLE) AS adj
         |       FROM t)
         |SELECT n_strata, round(naive, 9) AS naive_mean,
         |  round(adj, 9) AS poststrat_mean
         |FROM ag, nv""".stripMargin)),

    QuerySpec("q247_two_proportion_z", (s, dir) => {
      // two-proportion z-test on funnel conversion across cohorts [EXT]
      // — "did weekend users convert view→click at a different rate
      // than weekday users": the significance gate product analytics
      // runs before acting on a funnel diff (q182 measures the funnel;
      // q222 compares VALUE distributions; this tests a RATE between
      // two user cohorts). Cohort = ISO-weekday of the user's first
      // event (weekend vs weekday); conversion = had a view AND later
      // (or equal) a click. Per-user reductions are exact min/bool
      // aggs; the four cells are exact counts; ẑ closes with pooled
      // p̂(1−p̂)(1/n₁+1/n₂) — pure IEEE from exact ints, one floor-9.
      val ev = Tables.events(s, dir)
      val firstTs = ev.groupBy(col("user_id")).agg(min(col("ts")).as("f_ts"))
      val conv = ev.filter(col("event_type").isin("view", "click"))
        .groupBy(col("user_id"))
        .agg(min(when(col("event_type") === "view", col("ts"))).as("v_ts"),
          max(when(col("event_type") === "click", col("ts"))).as("c_ts"))
        .filter(col("v_ts").isNotNull)
        .select(col("user_id"),
          (col("c_ts").isNotNull && col("c_ts") >= col("v_ts")).cast("long").as("cv"))
      val cohorts = firstTs
        .select(col("user_id"), (weekday(col("f_ts")) >= 5).cast("long").as("wknd"))
        .join(conv, Seq("user_id"))
        .groupBy(col("wknd"))
        .agg(count(lit(1)).as("n"), sum(col("cv")).as("x"))
      val wide = cohorts.agg(
        max(when(col("wknd") === 1, col("n"))).as("n1"),
        max(when(col("wknd") === 1, col("x"))).as("x1"),
        max(when(col("wknd") === 0, col("n"))).as("n2"),
        max(when(col("wknd") === 0, col("x"))).as("x2"))
      val p1 = col("x1").cast("double") / col("n1")
      val p2 = col("x2").cast("double") / col("n2")
      val pp = (col("x1") + col("x2")).cast("double") / (col("n1") + col("n2"))
      wide.filter(col("n1") > 0 && col("n2") > 0)
        .select(col("n1"), col("x1"), col("n2"), col("x2"),
          (floor((p1 - p2) / sqrt(pp * (lit(1.0) - pp)
            * (lit(1.0) / col("n1") + lit(1.0) / col("n2"))) * 1e9 + 0.5) / 1e9)
            .as("z"))
    }, Some(
      s"""$evCte,
         |ft AS (SELECT user_id, MIN(ts) AS f_ts FROM ev GROUP BY 1),
         |conv AS (SELECT user_id,
         |           MIN(CASE WHEN event_type = 'view' THEN ts END) AS v_ts,
         |           MAX(CASE WHEN event_type = 'click' THEN ts END) AS c_ts
         |         FROM ev WHERE event_type IN ('view', 'click') GROUP BY 1),
         |cu AS (SELECT c.user_id,
         |         CASE WHEN c.c_ts IS NOT NULL AND c.c_ts >= c.v_ts
         |              THEN 1 ELSE 0 END AS cv,
         |         CASE WHEN isodow(f.f_ts) >= 6 THEN 1 ELSE 0 END AS wknd
         |       FROM conv c JOIN ft f USING (user_id)
         |       WHERE c.v_ts IS NOT NULL),
         |g AS (SELECT wknd, COUNT(*) AS n, SUM(cv) AS x FROM cu GROUP BY 1),
         |w AS (SELECT MAX(CASE WHEN wknd = 1 THEN n END) AS n1,
         |        MAX(CASE WHEN wknd = 1 THEN x END) AS x1,
         |        MAX(CASE WHEN wknd = 0 THEN n END) AS n2,
         |        MAX(CASE WHEN wknd = 0 THEN x END) AS x2
         |      FROM g)
         |SELECT CAST(n1 AS BIGINT) AS n1, CAST(x1 AS BIGINT) AS x1,
         |  CAST(n2 AS BIGINT) AS n2, CAST(x2 AS BIGINT) AS x2,
         |  FLOOR((CAST(x1 AS DOUBLE) / n1 - CAST(x2 AS DOUBLE) / n2)
         |    / sqrt((CAST(x1 + x2 AS DOUBLE) / (n1 + n2))
         |      * (1.0 - CAST(x1 + x2 AS DOUBLE) / (n1 + n2))
         |      * (1.0 / n1 + 1.0 / n2)) * 1e9 + 0.5) / 1e9 AS z
         |FROM w WHERE n1 > 0 AND n2 > 0""".stripMargin)),

    QuerySpec("q251_smd_balance", (s, dir) => {
      // standardized-mean-difference covariate balance [EXT] — the
      // third leg of the causal-inference triple (q174 CUPED reduces
      // variance, q245 post-stratification removes bias, SMD CHECKS
      // the randomization): per-covariate (μ₁−μ₂)/√((s₁²+s₂²)/2)
      // between the q174 arms; |SMD| > 0.1 flags imbalance before any
      // readout is trusted. Per-user rollup shuffles once on user_id;
      // per-arm moments are pround-then-DECIMAL sums (q174's
      // discipline), the ≤2-row arm frame pivots wide via max(when),
      // and the close is pure IEEE from decimal-cast doubles, floor-9.
      val split = to_timestamp(lit("2024-01-15 00:00:00"))
      val D6 = DecimalType(27, 6)
      val u = Dedup.cacheScoped(Tables.events(s, dir).groupBy(col("user_id"))
        .agg(
          sum(when(col("ts") < split, col("value")).otherwise(lit(0.0))
            .cast(DecimalType(18, 4))).cast("double").as("x"),
          sum(when(col("ts") < split, 1L).otherwise(0L)).cast("double").as("c"))
        .select((col("user_id") % 2).as("t"), col("x"), col("c")))
      def smdOf(cn: String, label: String): DataFrame = {
        val arms = u.groupBy(col("t")).agg(count(lit(1)).as("n"),
          sum(col(cn).cast(D6)).cast("double").as("s"),
          sum(pround(col(cn) * col(cn), 6).cast(D6)).cast("double").as("ss"))
        val w = arms.agg(
          max(when(col("t") === 1, col("n"))).as("n1"),
          max(when(col("t") === 1, col("s"))).as("s1"),
          max(when(col("t") === 1, col("ss"))).as("ss1"),
          max(when(col("t") === 0, col("n"))).as("n2"),
          max(when(col("t") === 0, col("s"))).as("s2"),
          max(when(col("t") === 0, col("ss"))).as("ss2"))
        val m1 = col("s1") / col("n1"); val m2 = col("s2") / col("n2")
        val v1 = (col("ss1") - col("s1") * col("s1") / col("n1")) / (col("n1") - 1)
        val v2 = (col("ss2") - col("s2") * col("s2") / col("n2")) / (col("n2") - 1)
        w.filter(col("n1") > 1 && col("n2") > 1)
          .select(lit(label).as("covariate"), col("n1"), col("n2"),
            pround(m1, 9).as("mean_t"), pround(m2, 9).as("mean_c"),
            when(v1 + v2 > 0,
              floor((m1 - m2) / sqrt((v1 + v2) / 2) * 1e9 + 0.5) / 1e9)
              .as("smd"))
      }
      smdOf("x", "pre_value_sum").unionAll(smdOf("c", "pre_event_count"))
        .orderBy(col("covariate"))
    }, Some {
      def arm(cn: String, label: String) =
        s"""a_$cn AS (SELECT t, COUNT(*) AS n,
           |         CAST(SUM(CAST($cn AS DECIMAL(27,6))) AS DOUBLE) AS s,
           |         CAST(SUM(CAST(round($cn * $cn, 6) AS DECIMAL(27,6))) AS DOUBLE) AS ss
           |       FROM u GROUP BY 1),
           |w_$cn AS (SELECT MAX(CASE WHEN t = 1 THEN n END) AS n1,
           |        MAX(CASE WHEN t = 1 THEN s END) AS s1,
           |        MAX(CASE WHEN t = 1 THEN ss END) AS ss1,
           |        MAX(CASE WHEN t = 0 THEN n END) AS n2,
           |        MAX(CASE WHEN t = 0 THEN s END) AS s2,
           |        MAX(CASE WHEN t = 0 THEN ss END) AS ss2
           |      FROM a_$cn),
           |r_$cn AS (SELECT '$label' AS covariate, CAST(n1 AS BIGINT) AS n1,
           |        CAST(n2 AS BIGINT) AS n2,
           |        round(s1 / n1, 9) AS mean_t, round(s2 / n2, 9) AS mean_c,
           |        CASE WHEN (ss1 - s1 * s1 / n1) / (n1 - 1)
           |                  + (ss2 - s2 * s2 / n2) / (n2 - 1) > 0
           |             THEN FLOOR((s1 / n1 - s2 / n2)
           |               / sqrt(((ss1 - s1 * s1 / n1) / (n1 - 1)
           |                 + (ss2 - s2 * s2 / n2) / (n2 - 1)) / 2)
           |               * 1e9 + 0.5) / 1e9 END AS smd
           |      FROM w_$cn WHERE n1 > 1 AND n2 > 1)""".stripMargin
      s"""$evCte,
         |u AS (SELECT user_id % 2 AS t,
         |        CAST(SUM(CAST(CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00'
         |          THEN value ELSE 0.0 END AS DECIMAL(18,4))) AS DOUBLE) AS x,
         |        CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00'
         |          THEN 1 ELSE 0 END) AS DOUBLE) AS c
         |      FROM ev GROUP BY user_id),
         |${arm("x", "pre_value_sum")},
         |${arm("c", "pre_event_count")}
         |SELECT * FROM r_x UNION ALL SELECT * FROM r_c ORDER BY covariate""".stripMargin
    }),

    QuerySpec("q252_power_analysis", (s, dir) => {
      // A/B sample-size planner per event_type [EXT] — "how many users
      // per arm to detect a 5% lift at α=0.05, power 0.8": n = 2σ²
      // (z_{α/2}+z_β)²/δ² with δ = 5% of the mean — the planning
      // counterpart to q247's post-hoc z (run BEFORE the experiment;
      // rates that need more samples than traffic allows never launch).
      // z constants are literals (identical parsed doubles — never an
      // engine inverse-normal), moments are pround-then-DECIMAL sums,
      // the close is pure IEEE with one ceil (exact on both engines'
      // doubles) and one floor-9 per reported scalar.
      val zA = 1.959963984540054 // z_{0.975}
      val zB = 0.8416212335729143 // z_{0.80}
      val D6 = DecimalType(27, 6)
      val m = Tables.events(s, dir).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 4))).cast("double").as("s"),
          sum(pround(col("value") * col("value"), 6).cast(D6)).cast("double").as("ss"))
      val mu = col("s") / col("n")
      val v = (col("ss") - col("s") * col("s") / col("n")) / (col("n") - 1)
      val delta = lit(0.05) * mu
      m.filter(col("n") > 1)
        .select(col("event_type"), col("n").as("n_obs"),
          pround(mu, 9).as("mean_value"),
          pround(sqrt(v), 9).as("sd"),
          pround(delta, 9).as("mde_abs"),
          ceil(lit(2.0) * v * (lit(zA) + lit(zB)) * (lit(zA) + lit(zB))
            / (delta * delta)).cast("long").as("n_per_arm"))
        .orderBy(col("event_type"))
    }, Some(
      s"""$evCte,
         |m AS (SELECT event_type, COUNT(*) AS n,
         |        CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS s,
         |        CAST(SUM(CAST(round(value * value, 6) AS DECIMAL(27,6))) AS DOUBLE) AS ss
         |      FROM ev GROUP BY 1)
         |SELECT event_type, CAST(n AS BIGINT) AS n_obs,
         |  round(s / n, 9) AS mean_value,
         |  round(sqrt((ss - s * s / n) / (n - 1)), 9) AS sd,
         |  round(0.05 * (s / n), 9) AS mde_abs,
         |  CAST(ceil(2.0 * ((ss - s * s / n) / (n - 1))
         |    * (1.959963984540054 + 0.8416212335729143)
         |    * (1.959963984540054 + 0.8416212335729143)
         |    / ((0.05 * (s / n)) * (0.05 * (s / n)))) AS BIGINT) AS n_per_arm
         |FROM m WHERE n > 1 ORDER BY event_type""".stripMargin)),

    QuerySpec("q254_isotonic_calibration", (s, dir) => {
      // isotonic (PAV) calibration repair [EXT] — q150 DIAGNOSES
      // miscalibration, q233 scores it; this FIXES it: the monotone
      // map score→P(label) that Zadrozny–Elkan calibration deploys.
      // The corpus reduces to ≤10 decile bins (q150's exact frame).
      // PAV's sequential pooling is not ANSI-expressible — but its
      // SOLUTION is: the minimax identity (Robertson–Wright–Dykstra)
      // gives fit_i = max_{j≤i} min_{k≥i} wavg(acc_j..acc_k), an O(n³)
      // closed form that is trivial on a 10-row frame and turns this
      // row from rows-only into a full oracle row (round 12). Segment
      // means stay EXACT integers (nb·acc9 with acc9 = the 9-decimal
      // quantized accuracy ×1e9) until one double division, so both
      // engines compare identical doubles and pick identical extrema
      // — no accumulation-order hazard. Optim.pav stays the operator
      // (OperatorSpec: O(n²) reference, monotonicity, mass
      // preservation; round-12 spec pins pav ≡ minimax).
      val score = TextAnalysis.classifierScore(col("text"),
        wTokens = 1.2, wStop = 2.0, wAlpha = 1.5, wPunct = -3.0, bias = -1.0)
      val bins = Tables.documents(s, dir)
        .select(score.as("p"), (col("lang") === "en").cast("long").as("y"))
        .withColumn("b", least(floor(col("p") * 10), lit(9L)).cast("long"))
        .groupBy(col("b"))
        .agg(count(lit(1)).as("nb"),
          pround(sum(col("p").cast(DecimalType(27, 9))).cast("double")
            / count(lit(1)), 9).as("conf"),
          pround(sum(col("y")).cast("double") / count(lit(1)), 9).as("acc"))
        .orderBy(col("b"))
        .collect() // ≤10 rows by construction — the calibration grid
      val iso = graft.operators.Optim.isotonicMinimax(
        bins.map(_.getDouble(3)).toIndexedSeq, bins.map(_.getLong(1)).toIndexedSeq)
      import s.implicits._
      bins.zip(iso).map { case (r, f) =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
          math.floor(f * 1e9 + 0.5) / 1e9)
      }.toSeq.toDF("bucket", "n", "conf", "acc", "iso_acc")
        .orderBy(col("bucket"))
    },
    // isotonic fit by the MINIMAX identity fit_i = max_{j<=i} min_{k>=i}
    // wavg(acc_j..acc_k) — segment means reduce as exact integers
    // (nb * acc9) until ONE double division, so both engines compare
    // identical doubles and select identical extrema (see Optim
    // .isotonicMinimax, whose Scala loops mirror these CTEs 1:1)
    Some(
      """WITH f AS (SELECT doc_id, lang,
        |  least(CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) / 100.0, 1.0) AS f_tok,
        |  CASE WHEN len(regexp_extract_all(text, '\S+')) = 0 THEN 0.0
        |       ELSE CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|a|in|is|that|it|for)\b')) AS DOUBLE)
        |            / len(regexp_extract_all(text, '\S+')) END AS f_stop,
        |  CASE WHEN length(text) = 0 THEN 0.0
        |       ELSE CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / length(text) END AS f_alpha,
        |  CASE WHEN length(text) = 0 THEN 0.0
        |       ELSE CAST(length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) AS DOUBLE) / length(text) END AS f_punct
        |FROM documents),
        |z AS (SELECT doc_id, lang,
        |        round(1.0 / (1.0 + exp(-(f_tok * 1.2 + f_stop * 2.0 + f_alpha * 1.5 + f_punct * (-3.0) + (-1.0)))), 9) AS score
        |      FROM f),
        |raw AS (SELECT CAST(least(floor(score * 10), 9) AS BIGINT) AS bucket, score,
        |          CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        |        FROM z),
        |bins AS (SELECT bucket, COUNT(*) AS n,
        |           round(CAST(SUM(CAST(score AS DECIMAL(27,9))) AS DOUBLE) / COUNT(*), 9) AS conf,
        |           round(CAST(SUM(y) AS DOUBLE) / COUNT(*), 9) AS acc
        |         FROM raw GROUP BY bucket),
        |b9 AS (SELECT bucket, n, conf, acc,
        |         CAST(FLOOR(acc * 1000000000.0 + 0.5) AS BIGINT) AS acc9
        |       FROM bins),
        |seg AS (SELECT j.bucket AS j, k.bucket AS k,
        |          CAST(SUM(t.n * t.acc9) AS BIGINT) AS num,
        |          CAST(SUM(t.n) AS BIGINT) AS den
        |        FROM b9 j, b9 k, b9 t
        |        WHERE j.bucket <= k.bucket
        |          AND t.bucket BETWEEN j.bucket AND k.bucket
        |        GROUP BY 1, 2),
        |mn AS (SELECT i.bucket, s.j,
        |         MIN(CAST(s.num AS DOUBLE) / CAST(s.den AS DOUBLE)
        |             / 1000000000.0) AS v
        |       FROM b9 i JOIN seg s ON s.j <= i.bucket AND s.k >= i.bucket
        |       GROUP BY 1, 2),
        |iso AS (SELECT bucket, MAX(v) AS fit FROM mn GROUP BY bucket)
        |SELECT b9.bucket, b9.n, b9.conf, b9.acc, round(iso.fit, 9) AS iso_acc
        |FROM b9 JOIN iso ON b9.bucket = iso.bucket
        |ORDER BY b9.bucket""".stripMargin)),

    QuerySpec("q256_conformal_interval", (s, dir) => {
      // split-conformal prediction interval per event_type [EXT] —
      // distribution-free UQ (Vovk; Lei et al.): the train half fits
      // the predictor (the per-type mean), the calibration half takes
      // q̂ = the ceil((n+1)(1−α))-th smallest |residual|, and [μ̂ ± q̂]
      // covers a fresh point with P ≥ 1−α under exchangeability ALONE
      // — no normality, no variance estimate (q235's bootstrap is the
      // resampling cousin; this one carries a finite-sample
      // guarantee). The split is the q109 portable Lehmer parity
      // (engine-identical); the conformal rank is data-dependent per
      // type, so it rides the selector's NEW rank entry point
      // (Selection.exactGroupedOrderStat — never a corpus sort
      // window); α = 0.1. ceil runs on (n+1)·0.9 as a DOUBLE in both
      // engines (decimal 0.9 would ceil differently at exact-integer
      // boundaries: 10·0.9 is 9 in decimal, 9.000…002 in IEEE).
      val ev = Tables.events(s, dir)
        .withColumn("half", lehmer3(col("event_id")) % 2)
      val mu = ev.filter(col("half") === 0).groupBy(col("event_type"))
        .agg((dsum(col("value")) / count(lit(1))).as("mu"))
      val cal = Dedup.cacheScoped(ev.filter(col("half") === 1)
        .join(broadcast(mu), Seq("event_type"))
        .select(col("event_type"), col("event_id"),
          abs(col("value") - col("mu")).as("res")))
      val ks: Map[Any, Long] = cal.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n")).collect()
        .map(r => (r.get(0): Any,
          math.min(math.ceil((r.getLong(1) + 1) * 0.9).toLong, r.getLong(1))))
        .toMap
      val qh = graft.operators.Selection.exactGroupedOrderStat(
        cal, "event_type", "res", ks)
      mu.join(qh, Seq("event_type"))
        .select(col("event_type"), col("k").as("k_rank"),
          pround(col("mu"), 9).as("mu"), pround(col("value"), 9).as("qhat"),
          pround(col("mu") - col("value"), 9).as("lo"),
          pround(col("mu") + col("value"), 9).as("hi"))
        .orderBy(col("event_type"))
    }, Some(
      s"""$evCte,
         |h AS (SELECT event_type, event_id, value,
         |        event_id % 2147483647 * 48271 % 2147483647 * 48271 % 2147483647
         |          * 48271 % 2147483647 % 2 AS half
         |      FROM ev),
         |mu AS (SELECT event_type,
         |         CAST(SUM(CAST(value AS $D)) AS DOUBLE) / COUNT(*) AS mu
         |       FROM h WHERE half = 0 GROUP BY 1),
         |cal AS (SELECT h.event_type, h.event_id, abs(h.value - mu.mu) AS res
         |        FROM h JOIN mu USING (event_type) WHERE half = 1),
         |k AS (SELECT event_type, COUNT(*) AS n,
         |        LEAST(CAST(ceil(CAST(COUNT(*) + 1 AS DOUBLE) * 0.9) AS BIGINT),
         |          COUNT(*)) AS k
         |      FROM cal GROUP BY 1),
         |r AS (SELECT event_type, event_id, res,
         |        row_number() OVER (PARTITION BY event_type
         |                           ORDER BY res, event_id) AS rk
         |      FROM cal),
         |q AS (SELECT r.event_type, k.k, r.res AS qhat
         |      FROM r JOIN k USING (event_type) WHERE r.rk = k.k)
         |SELECT q.event_type, CAST(q.k AS BIGINT) AS k_rank,
         |  round(mu.mu, 9) AS mu, round(q.qhat, 9) AS qhat,
         |  round(mu.mu - q.qhat, 9) AS lo, round(mu.mu + q.qhat, 9) AS hi
         |FROM q JOIN mu USING (event_type) ORDER BY event_type""".stripMargin)),

    QuerySpec("q257_eb_shrinkage", (s, dir) => {
      // empirical-Bayes (James–Stein) shrinkage of per-source quality
      // means [EXT] — the small-domain estimator behind every
      // per-domain dashboard: a 30-doc source's raw mean is mostly
      // noise, so m̃_s = m̄ + B_s·(m_s − m̄) with B_s = τ²/(τ² + σ²/n_s)
      // pulls it toward the grand mean exactly as hard as its sample
      // size warrants (normal-normal EB; τ² by method of moments,
      // clamped at 0 — all-shrink when between-variance vanishes).
      // Scores are the q108/q233 portable sigmoid (9-digit by
      // construction); within-σ² from pround-DECIMAL moments; the
      // ≤|sources|-row shrink frame closes in pure IEEE, floor-9.
      val D6 = DecimalType(27, 6)
      val score = TextAnalysis.classifierScore(col("text"),
        wTokens = 1.2, wStop = 2.0, wAlpha = 1.5, wPunct = -3.0, bias = -1.0)
      val perSrc = Dedup.cacheScoped(Tables.documents(s, dir)
        .select(col("source"), score.as("p"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"),
          sum(col("p").cast(DecimalType(27, 9))).cast("double").as("s"),
          sum(pround(col("p") * col("p"), 6).cast(D6)).cast("double").as("ss")))
      // every cross-source reduction routes through pround+DECIMAL —
      // a raw double sum would be partial-agg-order-dependent even on
      // this ≤|sources|-row frame
      val g = perSrc.agg(sum(col("n")).as("nn"), count(lit(1)).as("kk"),
        sum(col("s").cast(DecimalType(27, 9))).cast("double").as("stot"),
        sum(col("ss").cast(D6)).cast("double").as("sstot"),
        sum(pround((col("s") / col("n")) * (col("s") / col("n")), 9)
          .cast(DecimalType(27, 9))).cast("double").as("sm2"),
        sum(pround(col("s") / col("n"), 9).cast(DecimalType(27, 9)))
          .cast("double").as("smraw"),
        sum(pround(lit(1.0) / col("n"), 12).cast(DecimalType(27, 14)))
          .cast("double").as("sinv"))
      // σ²: global sample variance of scores; between: sample variance
      // of the k raw means; τ² = max(0, between − σ²·avg(1/n))
      val mbar = col("stot") / col("nn")
      val sig2 = (col("sstot") - col("stot") * col("stot") / col("nn")) /
        (col("nn") - 1)
      val between = (col("sm2") - col("smraw") * col("smraw") / col("kk")) /
        (col("kk") - 1)
      val tau2 = greatest(between - sig2 * (col("sinv") / col("kk")), lit(0.0))
      perSrc.crossJoin(broadcast(g))
        .filter(col("kk") > 1 && col("nn") > col("kk"))
        .select(col("source"), col("n"),
          pround(col("s") / col("n"), 9).as("raw_mean"),
          (floor(tau2 / (tau2 + sig2 / col("n")) * 1e9 + 0.5) / 1e9).as("shrink_b"),
          pround(mbar + tau2 / (tau2 + sig2 / col("n"))
            * (col("s") / col("n") - mbar), 9).as("shrunk_mean"))
        .orderBy(col("source"))
    }, Some(
      """WITH f AS (SELECT source,
        |  least(CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) / 100.0, 1.0) AS f_tok,
        |  CASE WHEN len(regexp_extract_all(text, '\S+')) = 0 THEN 0.0
        |       ELSE CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|a|in|is|that|it|for)\b')) AS DOUBLE)
        |            / len(regexp_extract_all(text, '\S+')) END AS f_stop,
        |  CASE WHEN length(text) = 0 THEN 0.0
        |       ELSE CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / length(text) END AS f_alpha,
        |  CASE WHEN length(text) = 0 THEN 0.0
        |       ELSE CAST(length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) AS DOUBLE) / length(text) END AS f_punct
        |FROM documents),
        |z AS (SELECT source,
        |        round(1.0 / (1.0 + exp(-(f_tok * 1.2 + f_stop * 2.0
        |          + f_alpha * 1.5 + f_punct * (-3.0) + (-1.0)))), 9) AS p
        |      FROM f),
        |ps AS (SELECT source, COUNT(*) AS n,
        |         CAST(SUM(CAST(p AS DECIMAL(27,9))) AS DOUBLE) AS s,
        |         CAST(SUM(CAST(round(p * p, 6) AS DECIMAL(27,6))) AS DOUBLE) AS ss
        |       FROM z GROUP BY 1),
        |g AS (SELECT SUM(n) AS nn, COUNT(*) AS kk,
        |        CAST(SUM(CAST(s AS DECIMAL(27,9))) AS DOUBLE) AS stot,
        |        CAST(SUM(CAST(ss AS DECIMAL(27,6))) AS DOUBLE) AS sstot,
        |        CAST(SUM(CAST(round((s / n) * (s / n), 9) AS DECIMAL(27,9))) AS DOUBLE) AS sm2,
        |        CAST(SUM(CAST(round(s / n, 9) AS DECIMAL(27,9))) AS DOUBLE) AS smraw,
        |        CAST(SUM(CAST(round(CAST(1 AS DOUBLE) / n, 12) AS DECIMAL(27,14))) AS DOUBLE) AS sinv
        |      FROM ps),
        |gg AS (SELECT nn, kk, stot,
        |         (sstot - stot * stot / nn) / (nn - 1) AS sig2,
        |         greatest((sm2 - smraw * smraw / kk) / (kk - 1)
        |           - ((sstot - stot * stot / nn) / (nn - 1)) * (sinv / kk),
        |           0.0) AS tau2
        |       FROM g WHERE kk > 1 AND nn > kk)
        |SELECT ps.source, CAST(ps.n AS BIGINT) AS n,
        |  round(ps.s / ps.n, 9) AS raw_mean,
        |  FLOOR(tau2 / (tau2 + sig2 / ps.n) * 1e9 + 0.5) / 1e9 AS shrink_b,
        |  round(stot / nn + tau2 / (tau2 + sig2 / ps.n)
        |    * (ps.s / ps.n - stot / nn), 9) AS shrunk_mean
        |FROM ps, gg ORDER BY ps.source""".stripMargin)),

    QuerySpec("q262_did", (s, dir) => {
      // difference-in-differences [EXT] — the panel-data causal
      // estimator the A/B family still lacked (q174 needs
      // randomization; DiD works on OBSERVATIONAL rollouts):
      // δ̂ = (ȳ_T,post − ȳ_T,pre) − (ȳ_C,post − ȳ_C,pre), which
      // differences away both the group level and the common time
      // trend; SE from the four cells' variances (independent-means
      // approximation — the same ingredients q247/q252 use). Arms are
      // the q174 user parity, periods split at the q174 date; all
      // four cells reduce in ONE conditional agg over one scan
      // (pround+DECIMAL moments), the ≤1-row close is pure IEEE,
      // floor-9.
      val split = to_timestamp(lit("2024-01-15 00:00:00"))
      val D6 = DecimalType(27, 6)
      val cells = Tables.events(s, dir)
        .select((col("user_id") % 2).as("t"),
          (col("ts") >= split).cast("long").as("post"), col("value"))
        .groupBy(col("t"), col("post"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 4))).cast("double").as("s"),
          sum(pround(col("value") * col("value"), 6).cast(D6)).cast("double").as("ss"))
      def cell(t: Int, p: Int, c: String) =
        max(when(col("t") === t && col("post") === p, col(c))).as(s"${c}_${t}$p")
      val w = cells.agg(
        cell(1, 0, "n"), cell(1, 0, "s"), cell(1, 0, "ss"),
        cell(1, 1, "n"), cell(1, 1, "s"), cell(1, 1, "ss"),
        cell(0, 0, "n"), cell(0, 0, "s"), cell(0, 0, "ss"),
        cell(0, 1, "n"), cell(0, 1, "s"), cell(0, 1, "ss"))
      def m(t: Int, p: Int) = col(s"s_$t$p") / col(s"n_$t$p")
      def v(t: Int, p: Int) =
        (col(s"ss_$t$p") - col(s"s_$t$p") * col(s"s_$t$p") / col(s"n_$t$p")) /
          (col(s"n_$t$p") - 1) / col(s"n_$t$p")
      val did = m(1, 1) - m(1, 0) - (m(0, 1) - m(0, 0))
      w.filter(col("n_10") > 1 && col("n_11") > 1 && col("n_00") > 1 && col("n_01") > 1)
        .select(
          col("n_10").as("n_treat_pre"), col("n_11").as("n_treat_post"),
          col("n_00").as("n_ctrl_pre"), col("n_01").as("n_ctrl_post"),
          pround(did, 9).as("did"),
          (floor(sqrt(v(1, 1) + v(1, 0) + v(0, 1) + v(0, 0)) * 1e9 + 0.5) / 1e9)
            .as("se"))
    }, Some {
      def cell(t: Int, p: Int, c: String) =
        s"MAX(CASE WHEN t = $t AND post = $p THEN $c END) AS ${c}_$t$p"
      def m(t: Int, p: Int) = s"(s_$t$p / n_$t$p)"
      def v(t: Int, p: Int) =
        s"((ss_$t$p - s_$t$p * s_$t$p / n_$t$p) / (n_$t$p - 1) / n_$t$p)"
      s"""$evCte,
         |cells AS (SELECT user_id % 2 AS t,
         |            CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:00'
         |                 THEN 1 ELSE 0 END AS post,
         |            COUNT(*) AS n,
         |            CAST(SUM(CAST(value AS $D)) AS DOUBLE) AS s,
         |            CAST(SUM(CAST(round(value * value, 6) AS DECIMAL(27,6)))
         |              AS DOUBLE) AS ss
         |          FROM ev GROUP BY 1, 2),
         |w AS (SELECT ${cell(1, 0, "n")}, ${cell(1, 0, "s")}, ${cell(1, 0, "ss")},
         |        ${cell(1, 1, "n")}, ${cell(1, 1, "s")}, ${cell(1, 1, "ss")},
         |        ${cell(0, 0, "n")}, ${cell(0, 0, "s")}, ${cell(0, 0, "ss")},
         |        ${cell(0, 1, "n")}, ${cell(0, 1, "s")}, ${cell(0, 1, "ss")}
         |      FROM cells)
         |SELECT CAST(n_10 AS BIGINT) AS n_treat_pre,
         |  CAST(n_11 AS BIGINT) AS n_treat_post,
         |  CAST(n_00 AS BIGINT) AS n_ctrl_pre,
         |  CAST(n_01 AS BIGINT) AS n_ctrl_post,
         |  round(${m(1, 1)} - ${m(1, 0)} - (${m(0, 1)} - ${m(0, 0)}), 9) AS did,
         |  FLOOR(sqrt(${v(1, 1)} + ${v(1, 0)} + ${v(0, 1)} + ${v(0, 0)})
         |    * 1e9 + 0.5) / 1e9 AS se
         |FROM w WHERE n_10 > 1 AND n_11 > 1 AND n_00 > 1 AND n_01 > 1""".stripMargin
    }),

    QuerySpec("q265_pr_auc", (s, dir) => {
      // average precision (step-function PR-AUC) per source [EXT] —
      // q221's ROC-AUC twin for the IMBALANCED regime: ROC flatters a
      // rare-positive detector (false positives barely dent the huge
      // negative mass) while PR tracks precision exactly where the
      // positives live — the right eval for quality filters that keep
      // 1% of a crawl. Same per-(source, score) count frame and
      // no-global-window discipline as q221: ONE CumSum two-pass over
      // (source, score DESC) carrying BOTH n and np, per-source rebase
      // with driver offsets (≤|sources| rows), then AP =
      // Σ_thresholds ΔTP·cumTP / (P·cumN) — each term an exact-long
      // ratio pround(12) into a DECIMAL sum, floor-9 close.
      val d = Tables.documents(s, dir).select(col("source"),
        TextAnalysis.qualityScore(col("text")).as("score"),
        (col("lang") === "en").cast("long").as("pos"))
      val c = Dedup.cacheScoped(d.groupBy(col("source"), col("score"))
        .agg(count(lit(1)).as("n"), sum(col("pos")).as("np")))
      val cum = CumSum.withRunningTotals(c,
        Seq(col("source"), col("score") * lit(-1.0)),
        Seq(col("n") -> "gn", col("np") -> "gnp"))
      val tot = c.groupBy(col("source"))
        .agg(sum(col("n")).as("tn"), sum(col("np")).as("tp"))
        .orderBy(col("source")).collect()
      var accN = 0L
      var accP = 0L
      val offs = tot.map { r =>
        val row = (r.getString(0), accN, accP, r.getLong(1), r.getLong(2))
        accN += r.getLong(1); accP += r.getLong(2); row
      }.toIndexedSeq
      import s.implicits._
      val offDf = offs.toDF("source", "offn", "offp", "tn", "tp")
      cum.join(broadcast(offDf), Seq("source"))
        .filter(col("tp") > 0 && col("tn") - col("tp") > 0)
        .withColumn("cn", col("gn") - col("offn"))
        .withColumn("ctp", col("gnp") - col("offp"))
        // double-FIRST products: long·long wraps past 2^63 at corpus
        // scale while DuckDB widens to HUGEINT; IEEE double multiply is
        // engine-identical at any magnitude (q222 tie-term lesson)
        .withColumn("term", pround(
          (col("np").cast("double") * col("ctp").cast("double"))
            / (col("tp").cast("double") * col("cn").cast("double")), 12))
        .groupBy(col("source"))
        .agg(sum(col("term").cast(DecimalType(27, 14))).as("apd"))
        .join(broadcast(offDf), Seq("source"))
        .select(col("source"), col("tp").as("n_pos"),
          (floor(col("apd").cast("double") * 1e9 + 0.5) / 1e9).as("ap"))
        .orderBy(col("source"))
    }, Some(
      s"""$qualityDocCte,
         |c AS (SELECT source, score, COUNT(*) AS n,
         |        SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS np
         |      FROM d GROUP BY 1, 2),
         |cum AS (SELECT source, score, n, np,
         |        SUM(n) OVER (PARTITION BY source ORDER BY score DESC) AS cn,
         |        SUM(np) OVER (PARTITION BY source ORDER BY score DESC) AS ctp
         |        FROM c),
         |t AS (SELECT source, SUM(n) AS tn, SUM(np) AS tp FROM c GROUP BY 1),
         |r AS (SELECT cum.source,
         |        SUM(CAST(round((CAST(np AS DOUBLE) * CAST(ctp AS DOUBLE))
         |            / (CAST(tp AS DOUBLE) * CAST(cn AS DOUBLE)), 12)
         |          AS DECIMAL(27,14))) AS apd
         |      FROM cum JOIN t USING (source)
         |      WHERE tp > 0 AND tn - tp > 0 GROUP BY 1)
         |SELECT r.source AS source, CAST(tp AS BIGINT) AS n_pos,
         |  FLOOR(CAST(apd AS DOUBLE) * 1e9 + 0.5) / 1e9 AS ap
         |FROM r JOIN t USING (source) ORDER BY source""".stripMargin)),

    QuerySpec("q267_cramers_v", (s, dir) => {
      // Cramér's V of event_type × weekday [EXT] — the normalized
      // effect-size companion to q100's χ²: χ² grows linearly with n,
      // so at corpus scale EVERYTHING is "significant"; V ∈ [0,1] is
      // comparable across tables and corpora — the right "is usage
      // actually day-dependent" number for seasonality triage. Weekday
      // from exact integer epoch-day arithmetic (never engine
      // date-part conventions, which disagree on week start); margins
      // broadcast back onto the |types|×7 cell frame; each (o−e)²/e
      // term pround(9) into a DECIMAL sum; dof and the min(r,c)−1
      // normalizer from exact distinct counts.
      val ev = Tables.events(s, dir).select(col("event_type"),
        (datediff(to_date(col("ts")), lit("1970-01-01").cast("date")) % 7).as("dow"))
      val cells = ev.groupBy(col("event_type"), col("dow")).agg(count(lit(1)).as("o"))
      val rowT = cells.groupBy(col("event_type")).agg(sum(col("o")).as("rt"))
      val colT = cells.groupBy(col("dow")).agg(sum(col("o")).as("ct"))
      val nT = cells.agg(sum(col("o")).as("n"),
        countDistinct(col("event_type")).as("r"), countDistinct(col("dow")).as("c"))
      cells.join(broadcast(rowT), Seq("event_type"))
        .join(broadcast(colT), Seq("dow"))
        .crossJoin(broadcast(nT))
        // double-first product: rt·ct reaches n² (wraps long at corpus
        // scale; DuckDB's HUGEINT wouldn't) — IEEE multiply is portable
        .withColumn("e", col("rt").cast("double") * col("ct").cast("double")
          / col("n").cast("double"))
        .withColumn("term",
          pround((col("o") - col("e")) * (col("o") - col("e")) / col("e"), 9))
        .groupBy(col("n"), col("r"), col("c"))
        .agg(sum(col("term").cast(DecimalType(27, 10))).cast("double").as("chi2"))
        .select(col("n"), ((col("r") - 1) * (col("c") - 1)).as("dof"),
          pround(col("chi2"), 6).as("chi2"),
          (floor(sqrt(col("chi2")
            / (col("n") * least(col("r") - 1, col("c") - 1)).cast("double"))
            * 1e9 + 0.5) / 1e9).as("v"))
    }, Some(
      s"""$evCte,
         |x AS (SELECT event_type, (CAST(ts AS DATE) - DATE '1970-01-01') % 7 AS dow FROM ev),
         |cells AS (SELECT event_type, dow, COUNT(*) AS o FROM x GROUP BY 1, 2),
         |rt AS (SELECT event_type, SUM(o) AS rt FROM cells GROUP BY 1),
         |ctt AS (SELECT dow, SUM(o) AS ct FROM cells GROUP BY 1),
         |nt AS (SELECT SUM(o) AS n, COUNT(DISTINCT event_type) AS r,
         |         COUNT(DISTINCT dow) AS c FROM cells),
         |s AS (SELECT n, r, c,
         |        CAST(SUM(CAST(round(
         |          (o - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
         |          * (o - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
         |          / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE)), 9)
         |          AS DECIMAL(27,10))) AS DOUBLE) AS chi2
         |      FROM cells JOIN rt USING (event_type) JOIN ctt USING (dow), nt
         |      GROUP BY 1, 2, 3)
         |SELECT CAST(n AS BIGINT) AS n, CAST((r - 1) * (c - 1) AS BIGINT) AS dof,
         |  round(chi2, 6) AS chi2,
         |  FLOOR(sqrt(chi2 / CAST(n * least(r - 1, c - 1) AS DOUBLE)) * 1e9 + 0.5) / 1e9 AS v
         |FROM s""".stripMargin)),

    QuerySpec("q268_cohens_kappa", (s, dir) => {
      // Cohen's κ between two deterministic raters [EXT] — the
      // chance-corrected agreement number for label QC: raw agreement
      // flatters skewed label distributions (two raters who both say
      // "keep almost everything" agree by accident), κ subtracts the
      // margin-product chance floor — the standard inter-annotator
      // report before trusting a relabeling campaign. Rater A: the
      // cheap quality score ≥ 0.5; rater B: lang = 'en'. All four
      // contingency cells reduce in ONE conditional agg over one scan;
      // po/pe close in exact longs → double ratios mirrored term-for-
      // term in the oracle, floor-9.
      val d = Tables.documents(s, dir).select(
        (TextAnalysis.qualityScore(col("text")) >= 0.5).cast("long").as("a"),
        (col("lang") === "en").cast("long").as("b"))
      val nD = col("n").cast("double")
      val pe = (col("na").cast("double") / nD) * (col("nb").cast("double") / nD) +
        ((col("n") - col("na")).cast("double") / nD) *
          ((col("n") - col("nb")).cast("double") / nD)
      val po = col("agree").cast("double") / nD
      d.agg(count(lit(1)).as("n"), sum(col("a")).as("na"), sum(col("b")).as("nb"),
          sum(when(col("a") === col("b"), 1L).otherwise(0L)).as("agree"))
        .filter(col("n") > 0 && pe =!= 1.0)
        .select(col("n"), col("na").as("n_a_pos"), col("nb").as("n_b_pos"),
          pround(po, 9).as("po"), pround(pe, 9).as("pe"),
          (floor((po - pe) / (lit(1.0) - pe) * 1e9 + 0.5) / 1e9).as("kappa"))
    }, Some(
      s"""$qualityDocCte,
         |lab AS (SELECT CASE WHEN score >= 0.5 THEN 1 ELSE 0 END AS a,
         |          CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS b FROM d),
         |t AS (SELECT COUNT(*) AS n, SUM(a) AS na, SUM(b) AS nb,
         |        SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS agree FROM lab),
         |k AS (SELECT n, na, nb, agree,
         |        CAST(agree AS DOUBLE) / CAST(n AS DOUBLE) AS po,
         |        (CAST(na AS DOUBLE) / CAST(n AS DOUBLE))
         |          * (CAST(nb AS DOUBLE) / CAST(n AS DOUBLE))
         |        + (CAST(n - na AS DOUBLE) / CAST(n AS DOUBLE))
         |          * (CAST(n - nb AS DOUBLE) / CAST(n AS DOUBLE)) AS pe
         |      FROM t)
         |SELECT CAST(n AS BIGINT) AS n, CAST(na AS BIGINT) AS n_a_pos,
         |  CAST(nb AS BIGINT) AS n_b_pos,
         |  round(po, 9) AS po, round(pe, 9) AS pe,
         |  FLOOR((po - pe) / (1.0 - pe) * 1e9 + 0.5) / 1e9 AS kappa
         |FROM k WHERE n > 0 AND pe <> 1.0""".stripMargin)),

    QuerySpec("q270_lognormal_tail", (s, dir) => {
      // log-normal fit + tail-mass check of doc length per source [EXT]
      // — the distributional QC behind length-based curation gates:
      // doc lengths are canonically log-normal; a heavy log-space skew
      // or tail mass far above the 2σ prediction (Φ(−2) ≈ 0.02275)
      // says the source mixes regimes (boilerplate + books) and a
      // single length cut is wrong. Moments of ln(n_chars) pround(9)
      // into DECIMAL sums (one pass); thresholds broadcast back for
      // the tail count (second pass, map-side); compare ROUNDED lx to
      // ROUNDED threshold so an exp/ln last-ulp can't flip a boundary
      // doc (q87 discipline).
      val d = Dedup.cacheScoped(Tables.documents(s, dir)
        .filter(col("n_chars") > 0)
        .select(col("source"), log(col("n_chars").cast("double")).as("lx")))
      val st = d.groupBy(col("source")).agg(
          count(lit(1)).as("n"),
          sum(pround(col("lx"), 9).cast(DecimalType(27, 10))).cast("double").as("s1"),
          sum(pround(col("lx") * col("lx"), 9).cast(DecimalType(27, 10)))
            .cast("double").as("s2"),
          sum(pround(col("lx") * col("lx") * col("lx"), 9).cast(DecimalType(27, 10)))
            .cast("double").as("s3"))
        .filter(col("n") > 2)
        .withColumn("mu", col("s1") / col("n"))
        .withColumn("m2", col("s2") / col("n") - col("mu") * col("mu"))
        .filter(col("m2") > 0)
        .withColumn("m3", col("s3") / col("n")
          - lit(3.0) * col("mu") * (col("s2") / col("n"))
          + lit(2.0) * col("mu") * col("mu") * col("mu"))
        .withColumn("sigma", sqrt(col("m2")))
        .withColumn("thr", pround(col("mu") + lit(2.0) * col("sigma"), 9))
      val tail = d.join(broadcast(st.select(col("source"), col("thr"))), Seq("source"))
        .groupBy(col("source"))
        .agg(sum(when(pround(col("lx"), 9) > col("thr"), 1L).otherwise(0L)).as("n_tail"))
      st.join(tail, Seq("source"))
        .select(col("source"), col("n"),
          pround(col("mu"), 9).as("mu_log"),
          (floor(col("sigma") * 1e9 + 0.5) / 1e9).as("sigma_log"),
          (floor(col("m3") / (col("sigma") * col("m2")) * 1e9 + 0.5) / 1e9)
            .as("skew_log"),
          pround(col("n_tail").cast("double") / col("n"), 9).as("tail_frac"),
          pround(col("n_tail").cast("double") / col("n") - 0.02275, 9).as("tail_excess"))
        .orderBy(col("source"))
    }, Some(
      """WITH d AS (SELECT source, ln(CAST(n_chars AS DOUBLE)) AS lx
        |           FROM documents WHERE n_chars > 0),
        |st AS (SELECT source, COUNT(*) AS n,
        |         CAST(SUM(CAST(round(lx, 9) AS DECIMAL(27,10))) AS DOUBLE) AS s1,
        |         CAST(SUM(CAST(round(lx * lx, 9) AS DECIMAL(27,10))) AS DOUBLE) AS s2,
        |         CAST(SUM(CAST(round(lx * lx * lx, 9) AS DECIMAL(27,10))) AS DOUBLE) AS s3
        |       FROM d GROUP BY 1),
        |f AS (SELECT source, n, s1 / n AS mu, s2 / n - (s1 / n) * (s1 / n) AS m2,
        |        s3 / n - 3.0 * (s1 / n) * (s2 / n)
        |          + 2.0 * (s1 / n) * (s1 / n) * (s1 / n) AS m3
        |      FROM st WHERE n > 2),
        |f2 AS (SELECT source, n, mu, m2, m3, sqrt(m2) AS sigma,
        |         round(mu + 2.0 * sqrt(m2), 9) AS thr
        |       FROM f WHERE m2 > 0),
        |tl AS (SELECT d.source, SUM(CASE WHEN round(lx, 9) > thr THEN 1 ELSE 0 END) AS n_tail
        |       FROM d JOIN f2 USING (source) GROUP BY 1)
        |SELECT f2.source AS source, CAST(n AS BIGINT) AS n,
        |  round(mu, 9) AS mu_log,
        |  FLOOR(sigma * 1e9 + 0.5) / 1e9 AS sigma_log,
        |  FLOOR(m3 / (sigma * m2) * 1e9 + 0.5) / 1e9 AS skew_log,
        |  round(CAST(n_tail AS DOUBLE) / n, 9) AS tail_frac,
        |  round(CAST(n_tail AS DOUBLE) / n - 0.02275, 9) AS tail_excess
        |FROM f2 JOIN tl ON f2.source = tl.source ORDER BY source""".stripMargin)),

    QuerySpec("q271_gumbel_fit", (s, dir) => {
      // Gumbel fit of daily block maxima [EXT] — extreme-value theory's
      // block-maxima branch (q239's Hill index is the OTHER branch:
      // tail decay of ALL large values; Gumbel models the distribution
      // of per-period RECORDS — the "how bad is the worst day of the
      // next year" capacity question). Method of moments: β̂ = s·√6/π,
      // μ̂ = m − γ·β̂, 99% return level μ̂ − β̂·ln(−ln 0.99); √6/π, γ and
      // the ln(−ln p) constant are Scala-computed literals embedded in
      // BOTH plans (never engine-evaluated transcendentals of
      // constants). One corpus pass (daily max), moments on the
      // ≤|days| frame in pround+DECIMAL.
      val sqrt6OverPi = math.sqrt(6.0) / math.Pi
      val gamma = 0.5772156649015329
      val c99 = math.log(-math.log(0.99))
      val daily = Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("day")).agg(max(col("value")).as("mx"))
      daily.agg(count(lit(1)).as("n"),
          sum(pround(col("mx"), 6).cast(DecimalType(27, 8))).cast("double").as("s1"),
          sum(pround(col("mx") * col("mx"), 6).cast(DecimalType(27, 8)))
            .cast("double").as("s2"))
        .filter(col("n") > 1)
        .withColumn("m", col("s1") / col("n"))
        .withColumn("v", (col("s2") - col("s1") * col("s1") / col("n"))
          / (col("n") - 1))
        .filter(col("v") > 0)
        .withColumn("beta", sqrt(col("v")) * lit(sqrt6OverPi))
        .withColumn("mu", col("m") - lit(gamma) * col("beta"))
        .select(col("n").as("n_blocks"), pround(col("m"), 9).as("mean_max"),
          pround(col("mu"), 9).as("mu"),
          (floor(col("beta") * 1e9 + 0.5) / 1e9).as("beta"),
          (floor((col("mu") - col("beta") * lit(c99)) * 1e9 + 0.5) / 1e9)
            .as("return_99"))
    }, Some {
      val sqrt6OverPi = math.sqrt(6.0) / math.Pi
      val gamma = 0.5772156649015329
      val c99 = math.log(-math.log(0.99))
      s"""$evCte,
         |daily AS (SELECT CAST(ts AS DATE) AS day, MAX(value) AS mx FROM ev GROUP BY 1),
         |st AS (SELECT COUNT(*) AS n,
         |         CAST(SUM(CAST(round(mx, 6) AS DECIMAL(27,8))) AS DOUBLE) AS s1,
         |         CAST(SUM(CAST(round(mx * mx, 6) AS DECIMAL(27,8))) AS DOUBLE) AS s2
         |       FROM daily),
         |f AS (SELECT n, s1 / n AS m, (s2 - s1 * s1 / n) / (n - 1) AS v
         |      FROM st WHERE n > 1),
         |g AS (SELECT n, m, sqrt(v) * $sqrt6OverPi AS beta FROM f WHERE v > 0),
         |h AS (SELECT n, m, beta, m - $gamma * beta AS mu FROM g)
         |SELECT CAST(n AS BIGINT) AS n_blocks, round(m, 9) AS mean_max,
         |  round(mu, 9) AS mu,
         |  FLOOR(beta * 1e9 + 0.5) / 1e9 AS beta,
         |  FLOOR((mu - beta * $c99) * 1e9 + 0.5) / 1e9 AS return_99
         |FROM h""".stripMargin
    }),

    QuerySpec("q274_cv_accuracy", (s, dir) => {
      // 5-fold cross-validated accuracy of a nearest-class-mean text
      // classifier [EXT] — the eval loop q108's training head lacks:
      // in-sample accuracy flatters any model, CV is the honest
      // number. The k training sets come from ONE scan via the
      // complement trick: per-(fold, class) count/sum cells reduce
      // once; the held-out fold's training mean is (total − fold) /
      // (n − n_fold) — exact DECIMAL subtraction, never k passes over
      // the corpus. Fold means broadcast back for a map-side predict;
      // ROUNDED score vs ROUNDED means in the decision (q87
      // discipline) so a last-ulp can't flip a prediction.
      val k = 5
      val d = Dedup.cacheScoped(Tables.documents(s, dir).select(
        (col("doc_id") % k).as("fold"),
        (col("lang") === "en").cast("long").as("y"),
        pround(TextAnalysis.qualityScore(col("text")), 9).as("sc")))
      val cell = d.groupBy(col("fold"), col("y"))
        .agg(count(lit(1)).as("nf"), sum(col("sc").cast(DecimalType(27, 10))).as("sf"))
      val tot = cell.groupBy(col("y"))
        .agg(sum(col("nf")).as("nt"), sum(col("sf")).as("stot"))
      val tr = cell.join(broadcast(tot), Seq("y"))
        .filter(col("nt") - col("nf") > 0)
        .select(col("fold"), col("y"),
          pround((col("stot") - col("sf")).cast("double")
            / (col("nt") - col("nf")).cast("double"), 9).as("m"))
      val means = tr.groupBy(col("fold")).agg(
          max(when(col("y") === 1, col("m"))).as("m1"),
          max(when(col("y") === 0, col("m"))).as("m0"))
        .filter(col("m1").isNotNull && col("m0").isNotNull)
      d.join(broadcast(means), Seq("fold"))
        .withColumn("pred",
          (abs(col("sc") - col("m1")) < abs(col("sc") - col("m0"))).cast("long"))
        .groupBy(col("fold"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("pred") === col("y"), 1L).otherwise(0L)).as("n_correct"))
        .withColumn("accuracy", pround(col("n_correct").cast("double") / col("n"), 9))
        .orderBy(col("fold"))
    }, Some(
      s"""$qualityDocCte,
         |dd AS (SELECT doc_id % 5 AS fold,
         |         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         |         round(score, 9) AS sc FROM d),
         |cell AS (SELECT fold, y, COUNT(*) AS nf,
         |           SUM(CAST(sc AS DECIMAL(27,10))) AS sf
         |         FROM dd GROUP BY 1, 2),
         |tot AS (SELECT y, SUM(nf) AS nt, SUM(sf) AS stot FROM cell GROUP BY 1),
         |tr AS (SELECT fold, y,
         |         round(CAST(stot - sf AS DOUBLE) / CAST(nt - nf AS DOUBLE), 9) AS m
         |       FROM cell JOIN tot USING (y) WHERE nt - nf > 0),
         |means AS (SELECT fold, MAX(CASE WHEN y = 1 THEN m END) AS m1,
         |            MAX(CASE WHEN y = 0 THEN m END) AS m0
         |          FROM tr GROUP BY 1),
         |p AS (SELECT dd.fold, y,
         |        CASE WHEN abs(sc - m1) < abs(sc - m0) THEN 1 ELSE 0 END AS pred
         |      FROM dd JOIN means USING (fold)
         |      WHERE m1 IS NOT NULL AND m0 IS NOT NULL)
         |SELECT fold, CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM(CASE WHEN pred = y THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
         |  round(CAST(SUM(CASE WHEN pred = y THEN 1 ELSE 0 END) AS DOUBLE)
         |    / COUNT(*), 9) AS accuracy
         |FROM p GROUP BY 1 ORDER BY fold""".stripMargin)),

    QuerySpec("q276_tost_equivalence", (s, dir) => {
      // TOST equivalence test (two one-sided z-tests) on click-vs-view
      // value means [EXT] — the inverse of q247's difference test: a
      // non-significant difference is NOT evidence of equivalence;
      // TOST bounds the difference inside ±δ (δ = 5% of the control
      // mean) with BOTH one-sided tests — the parity gate before
      // swapping a data source or scorer version. Both groups' moments
      // in ONE conditional agg (q262 cell shape), pround+DECIMAL sums,
      // decision on ROUNDED t's vs the 1.645 literal (q87 discipline).
      val D6 = DecimalType(27, 6)
      val g = Tables.events(s, dir)
        .filter(col("event_type").isin("click", "view"))
        .select((col("event_type") === "click").cast("long").as("t"), col("value"))
        .groupBy(col("t"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 4))).cast("double").as("sv"),
          sum(pround(col("value") * col("value"), 6).cast(D6)).cast("double").as("svv"))
      def cell(t: Int, c: String) =
        max(when(col("t") === t, col(c))).as(s"${c}$t")
      val wv = g.agg(cell(1, "n"), cell(1, "sv"), cell(1, "svv"),
        cell(0, "n"), cell(0, "sv"), cell(0, "svv"))
      def m(t: Int) = col(s"sv$t") / col(s"n$t")
      def v(t: Int) = (col(s"svv$t") - col(s"sv$t") * col(s"sv$t") / col(s"n$t")) /
        (col(s"n$t") - 1) / col(s"n$t")
      val diff = m(1) - m(0)
      val delta = lit(0.05) * m(0)
      val se = sqrt(v(1) + v(0))
      val tl = pround((diff + delta) / se, 9)
      val tu = pround((diff - delta) / se, 9)
      wv.filter(col("n1") > 1 && col("n0") > 1)
        .select(col("n1").as("n_click"), col("n0").as("n_view"),
          pround(diff, 9).as("diff"),
          (floor(delta * 1e9 + 0.5) / 1e9).as("margin"),
          tl.as("t_lower"), tu.as("t_upper"),
          (tl > 1.645 && tu < -1.645).cast("long").as("equivalent"))
    }, Some {
      def m(t: Int) = s"(sv$t / n$t)"
      def v(t: Int) = s"((svv$t - sv$t * sv$t / n$t) / (n$t - 1) / n$t)"
      s"""$evCte,
         |g AS (SELECT CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS t,
         |        COUNT(*) AS n,
         |        CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sv,
         |        CAST(SUM(CAST(round(value * value, 6) AS DECIMAL(27,6))) AS DOUBLE) AS svv
         |      FROM ev WHERE event_type IN ('click', 'view') GROUP BY 1),
         |w AS (SELECT MAX(CASE WHEN t = 1 THEN n END) AS n1,
         |        MAX(CASE WHEN t = 1 THEN sv END) AS sv1,
         |        MAX(CASE WHEN t = 1 THEN svv END) AS svv1,
         |        MAX(CASE WHEN t = 0 THEN n END) AS n0,
         |        MAX(CASE WHEN t = 0 THEN sv END) AS sv0,
         |        MAX(CASE WHEN t = 0 THEN svv END) AS svv0
         |      FROM g),
         |k AS (SELECT n1, n0,
         |        ${m(1)} - ${m(0)} AS diff,
         |        0.05 * ${m(0)} AS delta,
         |        sqrt(${v(1)} + ${v(0)}) AS se
         |      FROM w WHERE n1 > 1 AND n0 > 1),
         |k2 AS (SELECT n1, n0, diff, delta,
         |         round((diff + delta) / se, 9) AS tl,
         |         round((diff - delta) / se, 9) AS tu
         |       FROM k)
         |SELECT CAST(n1 AS BIGINT) AS n_click, CAST(n0 AS BIGINT) AS n_view,
         |  round(diff, 9) AS diff,
         |  FLOOR(delta * 1e9 + 0.5) / 1e9 AS margin,
         |  tl AS t_lower, tu AS t_upper,
         |  CAST(CASE WHEN tl > 1.645 AND tu < -1.645 THEN 1 ELSE 0 END AS BIGINT)
         |    AS equivalent
         |FROM k2""".stripMargin
    }),

    QuerySpec("q281_caliper_matching", (s, dir) => {
      // 1-NN caliper propensity matching (with replacement) for the
      // ATT [EXT] — the causal family's matching estimator (q262 DiD
      // needs a time split, q245 post-stratifies on coarse cells;
      // matching compares each treated unit to its CLOSEST control on
      // a covariate, discarding off-support units): covariate x =
      // per-user view count, outcome y = total purchase value, arms =
      // the q174 user parity, caliper 5. The candidate join is the
      // range-join bucket discipline (q76): treated explode into 3
      // caliper buckets, equi-join controls on the bucket — bounded
      // blow-up, no window, no cross join; the 1-NN argmin is a
      // min-struct with total tie policy (|Δx|, control x, control id).
      val users = Tables.events(s, dir).groupBy(col("user_id")).agg(
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("x"),
        sum(when(col("event_type") === "purchase",
          col("value").cast(DecimalType(18, 4))).otherwise(lit(null)))
          .cast("double").as("y"))
        .select(col("user_id"), col("x"), coalesce(col("y"), lit(0.0)).as("y"),
          (col("user_id") % 2).as("t"))
      val ctl = users.filter(col("t") === 0)
        .select(expr("x div 5").as("b"), col("x").as("xc"),
          col("user_id").as("cid"), col("y").as("yc"))
      val trt = users.filter(col("t") === 1)
        .withColumn("db", explode(array(lit(-1L), lit(0L), lit(1L))))
        .select(col("user_id").as("tid"), col("x").as("xt"), col("y").as("yt"),
          (expr("x div 5") + col("db")).as("b"))
      val matched = trt.join(ctl, Seq("b"))
        .filter(abs(col("xt") - col("xc")) <= 5)
        .groupBy(col("tid"), col("xt"), col("yt"))
        .agg(min(struct(abs(col("xt") - col("xc")).as("adist"), col("xc"),
          col("cid"), col("yc"))).as("mc"))
        .select(col("tid"), col("yt"), col("mc.yc").as("yc"))
      val nT = users.filter(col("t") === 1).agg(count(lit(1)).as("n_treated"))
      matched
        .select((col("yt") - col("yc")).as("d"))
        .agg(count(lit(1)).as("n_matched"),
          sum(col("d").cast(DecimalType(18, 4))).cast("double").as("sd"),
          sum(pround(col("d") * col("d"), 6).cast(DecimalType(27, 8)))
            .cast("double").as("sdd"))
        .crossJoin(broadcast(nT))
        .filter(col("n_matched") > 1)
        .select(col("n_treated"), col("n_matched"),
          pround(col("sd") / col("n_matched"), 9).as("att"),
          (floor(sqrt((col("sdd") - col("sd") * col("sd") / col("n_matched"))
            / (col("n_matched") - 1) / col("n_matched")) * 1e9 + 0.5) / 1e9)
            .as("se"))
    }, Some(
      s"""$evCte,
         |users AS (SELECT user_id,
         |    SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS x,
         |    COALESCE(CAST(SUM(CASE WHEN event_type = 'purchase'
         |      THEN CAST(value AS DECIMAL(18,4)) END) AS DOUBLE), 0.0) AS y,
         |    user_id % 2 AS t
         |  FROM ev GROUP BY 1),
         |cand AS (SELECT tr.user_id AS tid, tr.y AS yt, c.y AS yc,
         |           abs(tr.x - c.x) AS adist, c.x AS xc, c.user_id AS cid
         |         FROM users tr JOIN users c
         |           ON tr.t = 1 AND c.t = 0 AND abs(tr.x - c.x) <= 5),
         |m AS (SELECT tid, yt, yc,
         |        row_number() OVER (PARTITION BY tid ORDER BY adist, xc, cid) AS rn
         |      FROM cand),
         |d AS (SELECT yt - yc AS d FROM m WHERE rn = 1),
         |ag AS (SELECT COUNT(*) AS n_matched,
         |         CAST(SUM(CAST(d AS DECIMAL(18,4))) AS DOUBLE) AS sd,
         |         CAST(SUM(CAST(round(d * d, 6) AS DECIMAL(27,8))) AS DOUBLE) AS sdd
         |       FROM d),
         |nt AS (SELECT COUNT(*) AS n_treated FROM users WHERE t = 1)
         |SELECT CAST(n_treated AS BIGINT) AS n_treated,
         |  CAST(n_matched AS BIGINT) AS n_matched,
         |  round(sd / n_matched, 9) AS att,
         |  FLOOR(sqrt((sdd - sd * sd / n_matched) / (n_matched - 1) / n_matched)
         |    * 1e9 + 0.5) / 1e9 AS se
         |FROM ag, nt WHERE n_matched > 1""".stripMargin)),

    QuerySpec("q283_bh_fdr", (s, dir) => {
      // Benjamini–Hochberg FDR over per-type mean-shift tests [EXT] —
      // the multiplicity correction the testing family lacked: running
      // q247-style tests per type at α each inflates the family-wise
      // false-discovery rate; BH's step-up (reject all p ≤ the largest
      // p_(i) ≤ αi/m) controls FDR at α = 0.1. z per type compares
      // daily counts before/after the q262 split date; Φ via the
      // Abramowitz–Stegun 7.1.26 polynomial in Horner form with
      // literal coefficients (pure exp + arithmetic, mirrored
      // term-for-term — never an engine's erf). |types|-row frame
      // windows only.
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
        .withColumn("post",
          (col("day") >= lit("2024-01-15").cast("date")).cast("long"))
      val gstats = daily.groupBy(col("event_type"), col("post"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum((col("x").cast(DecimalType(38, 0)) * col("x"))).as("sxx"))
      def cellc(p: Int, c: String) =
        max(when(col("post") === p, col(c))).as(s"${c}$p")
      val wv = gstats.groupBy(col("event_type"))
        .agg(cellc(0, "n"), cellc(0, "sx"), cellc(0, "sxx"),
          cellc(1, "n"), cellc(1, "sx"), cellc(1, "sxx"))
        .filter(col("n0") > 1 && col("n1") > 1)
      def mm(p: Int) = col(s"sx$p").cast("double") / col(s"n$p").cast("double")
      def vv(p: Int) = (col(s"sxx$p").cast("double") / col(s"n$p").cast("double")
        - mm(p) * mm(p)) / (col(s"n$p").cast("double") - 1.0)
      val z = pround((mm(1) - mm(0)) / sqrt(vv(1) + vv(0)), 9)
      val az = abs(col("z"))
      val tA = lit(1.0) / (lit(1.0) + lit(0.2316419) * az)
      val poly = tA * (lit(0.319381530) + tA * (lit(-0.356563782)
        + tA * (lit(1.781477937) + tA * (lit(-1.821255978)
          + tA * lit(1.330274429)))))
      val pdf = exp(az * az * lit(-0.5)) * lit(0.3989422804014327)
      val scored = wv.select(col("event_type"), z.as("z"))
        .withColumn("p", pround(lit(2.0) * pdf * poly, 12))
      val wRank = Window.orderBy(col("p"), col("event_type"))
      val ranked = scored
        .withColumn("rank", row_number().over(wRank).cast("long"))
        .crossJoin(broadcast(scored.agg(count(lit(1)).as("m"))))
        .withColumn("ok", (col("p") <= lit(0.1) * col("rank").cast("double")
          / col("m").cast("double")).cast("long"))
      val kMax = ranked.agg(max(when(col("ok") === 1, col("rank"))
        .otherwise(lit(0L))).as("kmax"))
      ranked.crossJoin(broadcast(kMax))
        .select(col("event_type"), col("z"), col("p"), col("rank"),
          (col("rank") <= col("kmax")).cast("long").as("rejected"))
        .orderBy(col("event_type"))
    }, Some {
      def mmm(p: Int) = s"(CAST(sx$p AS DOUBLE) / CAST(n$p AS DOUBLE))"
      def vvv(p: Int) =
        s"((CAST(sxx$p AS DOUBLE) / CAST(n$p AS DOUBLE) - ${mmm(p)} * ${mmm(p)})" +
          s" / (CAST(n$p AS DOUBLE) - 1.0))"
      s"""$evCte,
         |daily AS (SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS x
         |          FROM ev GROUP BY 1, 2),
         |g AS (SELECT event_type,
         |        CASE WHEN day >= DATE '2024-01-15' THEN 1 ELSE 0 END AS post,
         |        COUNT(*) AS n, SUM(x) AS sx, SUM(CAST(x AS HUGEINT) * x) AS sxx
         |      FROM daily GROUP BY 1, 2),
         |wv AS (SELECT event_type,
         |         MAX(CASE WHEN post = 0 THEN n END) AS n0,
         |         MAX(CASE WHEN post = 0 THEN sx END) AS sx0,
         |         MAX(CASE WHEN post = 0 THEN sxx END) AS sxx0,
         |         MAX(CASE WHEN post = 1 THEN n END) AS n1,
         |         MAX(CASE WHEN post = 1 THEN sx END) AS sx1,
         |         MAX(CASE WHEN post = 1 THEN sxx END) AS sxx1
         |       FROM g GROUP BY 1),
         |f AS (SELECT event_type,
         |        round((${mmm(1)} - ${mmm(0)}) / sqrt(${vvv(1)} + ${vvv(0)}), 9) AS z
         |      FROM wv WHERE n0 > 1 AND n1 > 1),
         |p2 AS (SELECT event_type, z,
         |         1.0 / (1.0 + 0.2316419 * abs(z)) AS ta FROM f),
         |p3 AS (SELECT event_type, z,
         |         round(2.0 * (exp(abs(z) * abs(z) * -0.5) * 0.3989422804014327)
         |           * (ta * (0.319381530 + ta * (-0.356563782 + ta * (1.781477937
         |              + ta * (-1.821255978 + ta * 1.330274429))))), 12) AS p
         |       FROM p2),
         |r AS (SELECT event_type, z, p,
         |        row_number() OVER (ORDER BY p, event_type) AS rank FROM p3),
         |mm2 AS (SELECT COUNT(*) AS m FROM p3),
         |ok AS (SELECT r.event_type, r.z, r.p, r.rank,
         |         CASE WHEN p <= 0.1 * CAST(rank AS DOUBLE) / CAST(m AS DOUBLE)
         |              THEN 1 ELSE 0 END AS ok
         |       FROM r, mm2),
         |km AS (SELECT MAX(CASE WHEN ok = 1 THEN rank ELSE 0 END) AS kmax FROM ok)
         |SELECT event_type, z, p, CAST(rank AS BIGINT) AS rank,
         |  CAST(CASE WHEN rank <= kmax THEN 1 ELSE 0 END AS BIGINT) AS rejected
         |FROM ok, km ORDER BY event_type""".stripMargin
    }),

    QuerySpec("q284_partial_correlation", (s, dir) => {
      // partial correlation r_xy·z [EXT] — the confound-aware
      // correlation the moments family lacked: q103's Pearson r of
      // (value, hour) is inflated by any weekday effect on both; the
      // partial form regresses BOTH out of z = weekday first, via the
      // closed form (rxy − rxz·ryz)/√((1−rxz²)(1−ryz²)). ALL nine
      // moments in ONE agg (q103 discipline): ints exact, y-moments
      // pround→DECIMAL, cross moments double-first (the q275 decimal-
      // product lesson); the close is a 1-row mirrored-double frame.
      val e = Tables.events(s, dir).select(
        col("value").as("y"), hour(col("ts")).cast("long").as("x"),
        (datediff(to_date(col("ts")), lit("1970-01-01").cast("date")) % 7)
          .cast("long").as("z"))
      val st = e.agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("z")).as("sz"),
        sum(col("y").cast(DecimalType(18, 4))).cast("double").as("sy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("z") * col("z")).as("szz"),
        sum(col("x") * col("z")).as("sxz"),
        sum(pround(col("y") * col("y"), 6).cast(DecimalType(27, 8)))
          .cast("double").as("syy"),
        sum(pround(col("y") * col("x").cast("double"), 4).cast(DecimalType(38, 6)))
          .cast("double").as("sxy"),
        sum(pround(col("y") * col("z").cast("double"), 4).cast(DecimalType(38, 6)))
          .cast("double").as("syz"))
      val nd = col("n").cast("double")
      def corr2(sab: Column, sa: Column, sb: Column, saa: Column, sbb: Column) =
        (nd * sab - sa * sb) / sqrt((nd * saa - sa * sa) * (nd * sbb - sb * sb))
      val rxy = corr2(col("sxy"), col("sx").cast("double"), col("sy"),
        col("sxx").cast("double"), col("syy"))
      val rxz = corr2(col("sxz").cast("double"), col("sx").cast("double"),
        col("sz").cast("double"), col("sxx").cast("double"), col("szz").cast("double"))
      val ryz = corr2(col("syz"), col("sz").cast("double"), col("sy"),
        col("szz").cast("double"), col("syy"))
      st.filter(col("n") > 2)
        .withColumn("rxy", pround(rxy, 9))
        .withColumn("rxz", pround(rxz, 9))
        .withColumn("ryz", pround(ryz, 9))
        .filter((lit(1.0) - col("rxz") * col("rxz")) > 0 &&
          (lit(1.0) - col("ryz") * col("ryz")) > 0)
        .select(col("n"), col("rxy"), col("rxz"), col("ryz"),
          (floor((col("rxy") - col("rxz") * col("ryz"))
            / sqrt((lit(1.0) - col("rxz") * col("rxz"))
              * (lit(1.0) - col("ryz") * col("ryz"))) * 1e9 + 0.5) / 1e9)
            .as("partial_r"))
    }, Some {
      def corr2(sab: String, sa: String, sb: String, saa: String, sbb: String) =
        s"(nd * $sab - $sa * $sb) / sqrt((nd * $saa - $sa * $sa)" +
          s" * (nd * $sbb - $sb * $sb))"
      s"""$evCte,
         |e2 AS (SELECT value AS y, CAST(EXTRACT(hour FROM ts) AS BIGINT) AS x,
         |         (CAST(ts AS DATE) - DATE '1970-01-01') % 7 AS z FROM ev),
         |st AS (SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(z) AS sz,
         |         CAST(SUM(CAST(y AS DECIMAL(18,4))) AS DOUBLE) AS sy,
         |         SUM(x * x) AS sxx, SUM(z * z) AS szz, SUM(x * z) AS sxz,
         |         CAST(SUM(CAST(round(y * y, 6) AS DECIMAL(27,8))) AS DOUBLE) AS syy,
         |         CAST(SUM(CAST(round(y * x, 4) AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
         |         CAST(SUM(CAST(round(y * z, 4) AS DECIMAL(38,6))) AS DOUBLE) AS syz
         |       FROM e2),
         |d2 AS (SELECT n, CAST(n AS DOUBLE) AS nd, sy, syy, sxy, syz,
         |         CAST(sx AS DOUBLE) AS sxd, CAST(sz AS DOUBLE) AS szd,
         |         CAST(sxx AS DOUBLE) AS sxxd, CAST(szz AS DOUBLE) AS szzd,
         |         CAST(sxz AS DOUBLE) AS sxzd
         |       FROM st WHERE n > 2),
         |r AS (SELECT n,
         |        round(${corr2("sxy", "sxd", "sy", "sxxd", "syy")}, 9) AS rxy,
         |        round(${corr2("sxzd", "sxd", "szd", "sxxd", "szzd")}, 9) AS rxz,
         |        round(${corr2("syz", "szd", "sy", "szzd", "syy")}, 9) AS ryz
         |      FROM d2)
         |SELECT CAST(n AS BIGINT) AS n, rxy, rxz, ryz,
         |  FLOOR((rxy - rxz * ryz)
         |    / sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz)) * 1e9 + 0.5) / 1e9
         |    AS partial_r
         |FROM r WHERE (1.0 - rxz * rxz) > 0 AND (1.0 - ryz * ryz) > 0""".stripMargin
    }),

    QuerySpec("q285_moods_median", (s, dir) => {
      // Mood's median test across event types [EXT] — the robust
      // k-sample location test (q222's Mann–Whitney is two-sample;
      // ANOVA assumes normal tails): split every value at the POOLED
      // exact median and χ² the above/below counts per type. The
      // pooled median rides the histogram-refinement selector (q165's
      // three shared scans — no single-buffer percentile at corpus
      // scale), broadcast back as a 1-row frame for the map-side
      // split; χ² over the 2×|types| table reuses the q267 margin
      // shape with expected counts as mirrored doubles.
      val ev = Dedup.cacheScoped(Tables.events(s, dir)
        .select(col("event_type"), col("value")))
      val med = graft.operators.Selection
        .exactGroupedMedian(ev.select(lit("all").as("g"), col("value")), "g", "value")
        .select(col("median"))
      val cells = ev.crossJoin(broadcast(med))
        .select(col("event_type"), (col("value") > col("median")).cast("long").as("hi"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("rt"), sum(col("hi")).as("a"))
      val tot = cells.agg(sum(col("rt")).as("n"), sum(col("a")).as("ta"),
        count(lit(1)).as("k"))
      cells.crossJoin(broadcast(tot))
        .withColumn("ehi", col("rt").cast("double") * col("ta").cast("double")
          / col("n").cast("double"))
        .withColumn("elo", col("rt").cast("double")
          * (col("n") - col("ta")).cast("double") / col("n").cast("double"))
        .filter(col("ehi") > 0 && col("elo") > 0)
        .withColumn("term", pround(
          (col("a") - col("ehi")) * (col("a") - col("ehi")) / col("ehi")
            + (col("rt") - col("a") - col("elo")) * (col("rt") - col("a") - col("elo"))
              / col("elo"), 9))
        .groupBy(col("n"), col("k"))
        .agg(sum(col("term").cast(DecimalType(27, 10))).cast("double").as("chi2"))
        .crossJoin(broadcast(med))
        .select(col("n"), (col("k") - 1).as("dof"),
          pround(col("median"), 9).as("pooled_median"),
          pround(col("chi2"), 6).as("chi2"))
    }, Some(
      s"""$evCte,
         |med AS (SELECT quantile_cont(value, 0.5) AS median FROM ev),
         |cells AS (SELECT event_type, COUNT(*) AS rt,
         |            SUM(CASE WHEN value > median THEN 1 ELSE 0 END) AS a
         |          FROM ev, med GROUP BY 1),
         |tot AS (SELECT SUM(rt) AS n, SUM(a) AS ta, COUNT(*) AS k FROM cells),
         |t2 AS (SELECT rt, a, n, k,
         |         CAST(rt AS DOUBLE) * CAST(ta AS DOUBLE) / CAST(n AS DOUBLE) AS ehi,
         |         CAST(rt AS DOUBLE) * CAST(n - ta AS DOUBLE) / CAST(n AS DOUBLE) AS elo
         |       FROM cells, tot),
         |s2 AS (SELECT n, k,
         |         CAST(SUM(CAST(round((a - ehi) * (a - ehi) / ehi
         |           + (rt - a - elo) * (rt - a - elo) / elo, 9)
         |           AS DECIMAL(27,10))) AS DOUBLE) AS chi2
         |       FROM t2 WHERE ehi > 0 AND elo > 0 GROUP BY 1, 2)
         |SELECT CAST(n AS BIGINT) AS n, CAST(k - 1 AS BIGINT) AS dof,
         |  round(median, 9) AS pooled_median, round(chi2, 6) AS chi2
         |FROM s2, med""".stripMargin)),

    QuerySpec("q286_welch_t", (s, dir) => {
      // Welch's unequal-variance t with Satterthwaite dof [EXT] — the
      // correct two-sample mean test when variances differ (q247 tests
      // proportions; q222 ranks; the pooled-variance t silently
      // miscalibrates under heteroscedasticity — Welch is the default
      // recommendation). Both groups' moments in ONE conditional agg
      // (q276 cell shape); t and the dof close as mirrored doubles.
      val D6 = DecimalType(27, 6)
      val g = Tables.events(s, dir)
        .filter(col("event_type").isin("click", "view"))
        .select((col("event_type") === "click").cast("long").as("t"), col("value"))
        .groupBy(col("t"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 4))).cast("double").as("sv"),
          sum(pround(col("value") * col("value"), 6).cast(D6)).cast("double").as("svv"))
      def cell(t: Int, c: String) = max(when(col("t") === t, col(c))).as(s"${c}$t")
      val wv = g.agg(cell(1, "n"), cell(1, "sv"), cell(1, "svv"),
        cell(0, "n"), cell(0, "sv"), cell(0, "svv"))
      def m(t: Int) = col(s"sv$t") / col(s"n$t")
      def se2(t: Int) = (col(s"svv$t") - col(s"sv$t") * col(s"sv$t") / col(s"n$t")) /
        (col(s"n$t") - 1) / col(s"n$t")
      val dof = (se2(1) + se2(0)) * (se2(1) + se2(0)) /
        (se2(1) * se2(1) / (col("n1") - 1) + se2(0) * se2(0) / (col("n0") - 1))
      wv.filter(col("n1") > 1 && col("n0") > 1)
        .select(col("n1").as("n_click"), col("n0").as("n_view"),
          pround(m(1) - m(0), 9).as("diff"),
          (floor((m(1) - m(0)) / sqrt(se2(1) + se2(0)) * 1e9 + 0.5) / 1e9).as("t_stat"),
          (floor(dof * 1e6 + 0.5) / 1e6).as("dof"))
    }, Some {
      def m(t: Int) = s"(sv$t / n$t)"
      def v(t: Int) = s"((svv$t - sv$t * sv$t / n$t) / (n$t - 1) / n$t)"
      s"""$evCte,
         |g AS (SELECT CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS t,
         |        COUNT(*) AS n,
         |        CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sv,
         |        CAST(SUM(CAST(round(value * value, 6) AS DECIMAL(27,6))) AS DOUBLE) AS svv
         |      FROM ev WHERE event_type IN ('click', 'view') GROUP BY 1),
         |w AS (SELECT MAX(CASE WHEN t = 1 THEN n END) AS n1,
         |        MAX(CASE WHEN t = 1 THEN sv END) AS sv1,
         |        MAX(CASE WHEN t = 1 THEN svv END) AS svv1,
         |        MAX(CASE WHEN t = 0 THEN n END) AS n0,
         |        MAX(CASE WHEN t = 0 THEN sv END) AS sv0,
         |        MAX(CASE WHEN t = 0 THEN svv END) AS svv0
         |      FROM g)
         |SELECT CAST(n1 AS BIGINT) AS n_click, CAST(n0 AS BIGINT) AS n_view,
         |  round(${m(1)} - ${m(0)}, 9) AS diff,
         |  FLOOR((${m(1)} - ${m(0)}) / sqrt(${v(1)} + ${v(0)}) * 1e9 + 0.5) / 1e9
         |    AS t_stat,
         |  FLOOR((${v(1)} + ${v(0)}) * (${v(1)} + ${v(0)})
         |    / (${v(1)} * ${v(1)} / (n1 - 1) + ${v(0)} * ${v(0)} / (n0 - 1))
         |    * 1e6 + 0.5) / 1e6 AS dof
         |FROM w WHERE n1 > 1 AND n0 > 1""".stripMargin
    }),

    QuerySpec("q287_energy_distance", (s, dir) => {
      // energy distance between click and view value distributions
      // [EXT] — the ALL-moments two-sample metric (KS q198 sees the
      // worst ECDF gap, W1 q194 the decile mass shift; energy distance
      // 2E|X−Y| − E|X−X'| − E|Y−Y'| is zero iff the distributions are
      // EQUAL — the metric behind energy statistics/MMD tests). The
      // O(nm) pairwise sums collapse to prefix sums over the sorted
      // distinct-value frame: values quantize exactly to centi-units
      // (the generator's grid), so EVERY pairwise term is exact
      // integer arithmetic until three final divisions; the global
      // order rides ONE CumSum two-pass carrying all four weights.
      val ev = Tables.events(s, dir)
        .filter(col("event_type").isin("click", "view"))
        .select(floor(col("value") * 100 + 0.5).as("v"),
          (col("event_type") === "click").cast("long").as("isx"))
      val byV = ev.groupBy(col("v")).agg(
        sum(col("isx")).as("nx"), sum(lit(1L) - col("isx")).as("ny"))
      val cum = graft.operators.CumSum.withRunningTotals(byV, Seq(col("v")),
        Seq(col("nx") -> "cnx", col("ny") -> "cny",
          (col("nx") * col("v")) -> "csx", (col("ny") * col("v")) -> "csy"))
      val tot = byV.agg(sum(col("nx")).as("tnx"), sum(col("ny")).as("tny"),
        sum(col("nx") * col("v")).as("tsx"), sum(col("ny") * col("v")).as("tsy"))
      val terms = cum.crossJoin(broadcast(tot))
        // Σ_i |x_i − v| from the inclusive cumulatives, exact longs
        .withColumn("dx", (col("v") * col("cnx") - col("csx"))
          + ((col("tsx") - col("csx")) - col("v") * (col("tnx") - col("cnx"))))
        .withColumn("dy", (col("v") * col("cny") - col("csy"))
          + ((col("tsy") - col("csy")) - col("v") * (col("tny") - col("cny"))))
        // decimal-FIRST products: count·pairdist wraps long at corpus
        // scale (DuckDB's HUGEINT wouldn't) — cast one factor before
        // multiplying so the sum stays exact at any magnitude
        .agg(sum(col("ny").cast(DecimalType(38, 0)) * col("dx")).as("sxy"),
          sum(col("nx").cast(DecimalType(38, 0)) * col("dy")).as("syx"),
          sum(col("nx").cast(DecimalType(38, 0)) * col("dx")).as("sxx"),
          sum(col("ny").cast(DecimalType(38, 0)) * col("dy")).as("syy"))
      terms.crossJoin(broadcast(tot))
        .filter(col("tnx") > 0 && col("tny") > 0)
        .withColumn("exy", (col("sxy").cast("double") + col("syx").cast("double"))
          / (lit(2.0) * col("tnx").cast("double") * col("tny").cast("double")) / 100.0)
        .withColumn("exx", col("sxx").cast("double")
          / (col("tnx").cast("double") * col("tnx").cast("double")) / 100.0)
        .withColumn("eyy", col("syy").cast("double")
          / (col("tny").cast("double") * col("tny").cast("double")) / 100.0)
        .select(col("tnx").as("n_click"), col("tny").as("n_view"),
          pround(col("exy"), 9).as("e_xy"),
          pround(col("exx"), 9).as("e_xx"),
          pround(col("eyy"), 9).as("e_yy"),
          (floor(sqrt(lit(2.0) * col("exy") - col("exx") - col("eyy"))
            * 1e9 + 0.5) / 1e9).as("energy_d"))
    }, Some(
      s"""$evCte,
         |e2 AS (SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v,
         |         CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS isx
         |       FROM ev WHERE event_type IN ('click', 'view')),
         |byv AS (SELECT v, SUM(isx) AS nx, SUM(1 - isx) AS ny FROM e2 GROUP BY 1),
         |cum AS (SELECT v, nx, ny,
         |          SUM(nx) OVER win AS cnx, SUM(ny) OVER win AS cny,
         |          SUM(nx * v) OVER win AS csx, SUM(ny * v) OVER win AS csy
         |        FROM byv WINDOW win AS (ORDER BY v)),
         |tot AS (SELECT SUM(nx) AS tnx, SUM(ny) AS tny,
         |          SUM(nx * v) AS tsx, SUM(ny * v) AS tsy FROM byv),
         |t2 AS (SELECT nx, ny,
         |         (v * cnx - csx) + ((tsx - csx) - v * (tnx - cnx)) AS dx,
         |         (v * cny - csy) + ((tsy - csy) - v * (tny - cny)) AS dy
         |       FROM cum, tot),
         |ag AS (SELECT SUM(ny * dx) AS sxy, SUM(nx * dy) AS syx,
         |         SUM(nx * dx) AS sxx, SUM(ny * dy) AS syy FROM t2)
         |SELECT CAST(tnx AS BIGINT) AS n_click, CAST(tny AS BIGINT) AS n_view,
         |  round((CAST(sxy AS DOUBLE) + CAST(syx AS DOUBLE))
         |    / (2.0 * CAST(tnx AS DOUBLE) * CAST(tny AS DOUBLE)) / 100.0, 9) AS e_xy,
         |  round(CAST(sxx AS DOUBLE)
         |    / (CAST(tnx AS DOUBLE) * CAST(tnx AS DOUBLE)) / 100.0, 9) AS e_xx,
         |  round(CAST(syy AS DOUBLE)
         |    / (CAST(tny AS DOUBLE) * CAST(tny AS DOUBLE)) / 100.0, 9) AS e_yy,
         |  FLOOR(sqrt(2.0 * (CAST(sxy AS DOUBLE) + CAST(syx AS DOUBLE))
         |      / (2.0 * CAST(tnx AS DOUBLE) * CAST(tny AS DOUBLE)) / 100.0
         |    - CAST(sxx AS DOUBLE) / (CAST(tnx AS DOUBLE) * CAST(tnx AS DOUBLE)) / 100.0
         |    - CAST(syy AS DOUBLE) / (CAST(tny AS DOUBLE) * CAST(tny AS DOUBLE)) / 100.0)
         |    * 1e9 + 0.5) / 1e9 AS energy_d
         |FROM ag, tot WHERE tnx > 0 AND tny > 0""".stripMargin)),

    QuerySpec("q288_logrank", (s, dir) => {
      // log-rank test between the two arms' conversion survival [EXT]
      // — the hypothesis-test companion to q234's KM curve ("ARE the
      // two survival curves different", weighting every event time by
      // its at-risk split; the standard A/B readout for time-to-event
      // outcomes). Same delays frame as q234 with administrative
      // censoring at 168 h — so nobody exits the risk set before the
      // horizon and at-risk counts are pure cumulative-event
      // subtractions: exact integers through the entire ≤168-row grid
      // (tiny-frame window exception), O/E/V terms as mirrored doubles
      // pround(12) into DECIMAL sums.
      val ev = Tables.events(s, dir)
      val v = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("v_ts"))
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("p_ts"))
      val firstP = v.join(p, Seq("user_id"))
        .filter(col("p_ts") >= col("v_ts"))
        .groupBy(col("user_id"), col("v_ts")).agg(min(col("p_ts")).as("p_ts"))
      val delays = v.join(firstP, Seq("user_id", "v_ts"), "left")
        .select(col("user_id"), (col("user_id") % 2).as("arm"),
          ((unix_timestamp(col("p_ts")) - unix_timestamp(col("v_ts"))) / 3600L)
            .cast("long").as("delay_h"))
        .withColumn("event", col("delay_h").isNotNull && col("delay_h") < 168)
      val nTot = delays.agg(count(lit(1)).as("nn"),
        sum(col("arm")).as("n1"))
      val grid = delays.filter(col("event"))
        .groupBy(col("delay_h").as("t"))
        .agg(count(lit(1)).as("d"), sum(col("arm")).as("d1"))
      val wCum = Window.orderBy(col("t"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val terms = grid.crossJoin(broadcast(nTot))
        .withColumn("cumd", sum(col("d")).over(wCum))
        .withColumn("cumd1", sum(col("d1")).over(wCum))
        .withColumn("nr", col("nn") - col("cumd") + col("d"))
        .withColumn("nr1", col("n1") - col("cumd1") + col("d1"))
        .filter(col("nr") > 1)
        .withColumn("frac", col("nr1").cast("double") / col("nr").cast("double"))
        .withColumn("et", pround(col("d").cast("double") * col("frac"), 12))
        .withColumn("vt", pround(col("d").cast("double") * col("frac")
          * (lit(1.0) - col("frac"))
          * (col("nr") - col("d")).cast("double")
          / (col("nr") - 1).cast("double"), 12))
      terms.agg(sum(col("d1")).as("o1"),
          sum(col("et").cast(DecimalType(27, 14))).cast("double").as("e1"),
          sum(col("vt").cast(DecimalType(27, 14))).cast("double").as("v1"))
        .filter(col("v1") > 0)
        .select(col("o1"), pround(col("e1"), 6).as("e1"),
          (floor((col("o1") - col("e1")) / sqrt(col("v1")) * 1e9 + 0.5) / 1e9)
            .as("z"))
    }, Some(
      s"""$evCte,
         |v AS (SELECT user_id, MIN(ts) AS v_ts FROM ev
         |      WHERE event_type = 'view' GROUP BY 1),
         |p AS (SELECT user_id, ts AS p_ts FROM ev WHERE event_type = 'purchase'),
         |fp AS (SELECT v.user_id, v.v_ts, MIN(p.p_ts) AS p_ts
         |       FROM v JOIN p ON v.user_id = p.user_id AND p.p_ts >= v.v_ts
         |       GROUP BY 1, 2),
         |delays AS (SELECT v.user_id, v.user_id % 2 AS arm,
         |             CAST((epoch_us(fp.p_ts) // 1000000
         |               - epoch_us(v.v_ts) // 1000000) // 3600 AS BIGINT) AS delay_h
         |           FROM v LEFT JOIN fp ON v.user_id = fp.user_id
         |             AND v.v_ts = fp.v_ts),
         |nt AS (SELECT COUNT(*) AS nn, SUM(arm) AS n1 FROM delays),
         |grid AS (SELECT delay_h AS t, COUNT(*) AS d, SUM(arm) AS d1
         |         FROM delays WHERE delay_h IS NOT NULL AND delay_h < 168
         |         GROUP BY 1),
         |cum AS (SELECT t, d, d1, nn, n1,
         |          SUM(d) OVER w AS cumd, SUM(d1) OVER w AS cumd1
         |        FROM grid, nt
         |        WINDOW w AS (ORDER BY t
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |terms AS (SELECT d, d1,
         |            nn - cumd + d AS nr, n1 - cumd1 + d1 AS nr1,
         |            CAST(n1 - cumd1 + d1 AS DOUBLE) / CAST(nn - cumd + d AS DOUBLE)
         |              AS frac
         |          FROM cum WHERE nn - cumd + d > 1),
         |t2 AS (SELECT d1,
         |         round(CAST(d AS DOUBLE) * frac, 12) AS et,
         |         round(CAST(d AS DOUBLE) * frac * (1.0 - frac)
         |           * CAST(nr - d AS DOUBLE) / CAST(nr - 1 AS DOUBLE), 12) AS vt
         |       FROM terms),
         |ag AS (SELECT CAST(SUM(d1) AS BIGINT) AS o1,
         |         CAST(SUM(CAST(et AS DECIMAL(27,14))) AS DOUBLE) AS e1,
         |         CAST(SUM(CAST(vt AS DECIMAL(27,14))) AS DOUBLE) AS v1
         |       FROM t2)
         |SELECT o1, round(e1, 6) AS e1,
         |  FLOOR((o1 - e1) / sqrt(v1) * 1e9 + 0.5) / 1e9 AS z
         |FROM ag WHERE v1 > 0""".stripMargin)),

    QuerySpec("q289_kruskal_wallis", (s, dir) => {
      // Kruskal–Wallis H across all event types [EXT] — the k-sample
      // rank test (q222's Mann–Whitney is its two-sample case; q290's
      // ANOVA assumes normal tails): midranks from the grouped value
      // frame via 2R = 2·cumBefore + n_v + 1 (exact-integer doubling,
      // q221/q222 discipline), per-type rank sums as decimal-first
      // products, the H close and the tie correction Σ(t³−t) in
      // DECIMAL/HUGEINT — everything exact until the final mirrored
      // doubles.
      val ev = Tables.events(s, dir).select(col("event_type"), col("value"))
      val cells = Dedup.cacheScoped(ev.groupBy(col("value"), col("event_type"))
        .agg(count(lit(1)).as("ng")))
      val byV = cells.groupBy(col("value")).agg(sum(col("ng")).as("nv"))
      val cum = graft.operators.CumSum.withRunningTotal(byV, Seq(col("value")),
        col("nv"), "gcum")
      val r2 = cells.join(cum.select(col("value"), col("nv"), col("gcum")),
          Seq("value"))
        .withColumn("r2row", col("ng").cast(DecimalType(38, 0))
          * (lit(2) * (col("gcum") - col("nv")) + col("nv") + 1))
        .groupBy(col("event_type"))
        .agg(sum(col("ng")).as("n_g"), sum(col("r2row")).as("r2_g"))
      val ties = byV.agg(sum(col("nv").cast(DecimalType(38, 0)) * col("nv") * col("nv")
        - col("nv")).as("tie"), sum(col("nv")).as("nn"),
        count(lit(1)).as("n_distinct"))
      val h = r2.crossJoin(broadcast(ties))
        .withColumn("rbar", col("r2_g").cast("double") / 2.0
          / col("n_g").cast("double"))
        .withColumn("dev", col("rbar")
          - (col("nn").cast("double") + 1.0) / 2.0)
        .withColumn("term", pround(col("n_g").cast("double")
          * col("dev") * col("dev"), 6))
        .groupBy(col("nn"), col("tie"))
        .agg(count(lit(1)).as("k"),
          sum(col("term").cast(DecimalType(27, 8))).cast("double").as("ssb"))
      h.filter(col("nn") > 1)
        .withColumn("hstat", lit(12.0) * col("ssb")
          / (col("nn").cast("double") * (col("nn").cast("double") + 1.0)))
        .withColumn("cf", lit(1.0) - col("tie").cast("double")
          / (col("nn").cast("double") * col("nn").cast("double")
            * col("nn").cast("double") - col("nn").cast("double")))
        .filter(col("cf") > 0)
        .select(col("nn").as("n"), (col("k") - 1).as("dof"),
          pround(col("hstat"), 9).as("h"),
          (floor(col("hstat") / col("cf") * 1e9 + 0.5) / 1e9).as("h_tie_corrected"))
    }, Some(
      s"""$evCte,
         |cells AS (SELECT value, event_type, COUNT(*) AS ng
         |          FROM ev GROUP BY 1, 2),
         |byv AS (SELECT value, SUM(ng) AS nv FROM cells GROUP BY 1),
         |cum AS (SELECT value, nv, SUM(nv) OVER (ORDER BY value) AS gcum FROM byv),
         |r2 AS (SELECT c.event_type, SUM(c.ng) AS n_g,
         |         SUM(CAST(c.ng AS HUGEINT)
         |           * (2 * (m.gcum - m.nv) + m.nv + 1)) AS r2_g
         |       FROM cells c JOIN cum m ON c.value = m.value GROUP BY 1),
         |tie AS (SELECT SUM(CAST(nv AS HUGEINT) * nv * nv - nv) AS tie,
         |          SUM(nv) AS nn, COUNT(*) AS n_distinct FROM byv),
         |h AS (SELECT nn, tie, COUNT(*) AS k,
         |        CAST(SUM(CAST(round(CAST(n_g AS DOUBLE)
         |          * (CAST(r2_g AS DOUBLE) / 2.0 / CAST(n_g AS DOUBLE)
         |             - (CAST(nn AS DOUBLE) + 1.0) / 2.0)
         |          * (CAST(r2_g AS DOUBLE) / 2.0 / CAST(n_g AS DOUBLE)
         |             - (CAST(nn AS DOUBLE) + 1.0) / 2.0), 6)
         |          AS DECIMAL(27,8))) AS DOUBLE) AS ssb
         |      FROM r2, tie GROUP BY 1, 2),
         |f AS (SELECT nn, tie, k,
         |        12.0 * ssb / (CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) + 1.0)) AS hstat,
         |        1.0 - CAST(tie AS DOUBLE)
         |          / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)
         |             - CAST(nn AS DOUBLE)) AS cf
         |      FROM h WHERE nn > 1)
         |SELECT CAST(nn AS BIGINT) AS n, CAST(k - 1 AS BIGINT) AS dof,
         |  round(hstat, 9) AS h,
         |  FLOOR(hstat / cf * 1e9 + 0.5) / 1e9 AS h_tie_corrected
         |FROM f WHERE cf > 0""".stripMargin)),

    QuerySpec("q290_anova_f", (s, dir) => {
      // one-way ANOVA F of value across event types [EXT] — the
      // classical k-sample mean test (q286 is its two-sample Welch
      // case; q289 the rank form): SSB/SSW from per-group exact
      // DECIMAL sums in ONE grouped agg + one 1-row close, F and η²
      // as mirrored doubles — the canonical "does the group label
      // explain variance" readout.
      val D6 = DecimalType(27, 6)
      val g = Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 4))).cast("double").as("sv"),
          sum(pround(col("value") * col("value"), 6).cast(D6)).cast("double").as("svv"))
      val tot = g.agg(sum(col("n")).as("nn"), count(lit(1)).as("k"),
        sum(col("sv").cast(DecimalType(27, 6))).cast("double").as("st"))
      g.crossJoin(broadcast(tot))
        .withColumn("ssb_t", pround(col("sv") * col("sv") / col("n").cast("double"), 6))
        .withColumn("ssw_t", pround(col("svv")
          - col("sv") * col("sv") / col("n").cast("double"), 6))
        .groupBy(col("nn"), col("k"), col("st"))
        .agg(sum(col("ssb_t").cast(DecimalType(27, 8))).cast("double").as("sb"),
          sum(col("ssw_t").cast(DecimalType(27, 8))).cast("double").as("sw"))
        .filter(col("k") > 1 && col("nn") > col("k"))
        .withColumn("ssb", col("sb") - col("st") * col("st") / col("nn").cast("double"))
        .withColumn("msb", col("ssb") / (col("k") - 1).cast("double"))
        .withColumn("msw", col("sw") / (col("nn") - col("k")).cast("double"))
        .filter(col("msw") > 0)
        .select(col("nn").as("n"), (col("k") - 1).as("df_between"),
          (col("nn") - col("k")).as("df_within"),
          (floor(col("msb") / col("msw") * 1e9 + 0.5) / 1e9).as("f_stat"),
          (floor(col("ssb") / (col("ssb") + col("sw")) * 1e9 + 0.5) / 1e9)
            .as("eta_sq"))
    }, Some(
      s"""$evCte,
         |g AS (SELECT event_type, COUNT(*) AS n,
         |        CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sv,
         |        CAST(SUM(CAST(round(value * value, 6) AS DECIMAL(27,6))) AS DOUBLE)
         |          AS svv
         |      FROM ev GROUP BY 1),
         |tot AS (SELECT SUM(n) AS nn, COUNT(*) AS k,
         |          CAST(SUM(CAST(sv AS DECIMAL(27,6))) AS DOUBLE) AS st FROM g),
         |t2 AS (SELECT nn, k, st,
         |         CAST(SUM(CAST(round(sv * sv / CAST(n AS DOUBLE), 6)
         |           AS DECIMAL(27,8))) AS DOUBLE) AS sb,
         |         CAST(SUM(CAST(round(svv - sv * sv / CAST(n AS DOUBLE), 6)
         |           AS DECIMAL(27,8))) AS DOUBLE) AS sw
         |       FROM g, tot GROUP BY 1, 2, 3),
         |f AS (SELECT nn, k, sw,
         |        sb - st * st / CAST(nn AS DOUBLE) AS ssb
         |      FROM t2 WHERE k > 1 AND nn > k),
         |f2 AS (SELECT nn, k, sw, ssb,
         |         ssb / CAST(k - 1 AS DOUBLE) AS msb,
         |         sw / CAST(nn - k AS DOUBLE) AS msw
         |       FROM f)
         |SELECT CAST(nn AS BIGINT) AS n, CAST(k - 1 AS BIGINT) AS df_between,
         |  CAST(nn - k AS BIGINT) AS df_within,
         |  FLOOR(msb / msw * 1e9 + 0.5) / 1e9 AS f_stat,
         |  FLOOR(ssb / (ssb + sw) * 1e9 + 0.5) / 1e9 AS eta_sq
         |FROM f2 WHERE msw > 0""".stripMargin)),

    QuerySpec("q291_brown_forsythe", (s, dir) => {
      // Brown–Forsythe variance-homogeneity test [EXT] — "do the
      // groups differ in SPREAD" (q290 tests means; variance QC is
      // the precondition for pooled tests and a drift signal in its
      // own right; the median-centered Levene variant is robust to
      // heavy tails). Per-type exact medians ride the grouped
      // histogram-refinement selector (q165's shared scans), broadcast
      // back for the map-side |x − med_g| transform, then q290's
      // ANOVA-F machinery on the transformed values with pround(4)
      // quantization shared by BOTH engines.
      val ev = Dedup.cacheScoped(Tables.events(s, dir)
        .select(col("event_type"), col("value")))
      val med = graft.operators.Selection
        .exactGroupedMedian(ev, "event_type", "value")
      val z = ev.join(broadcast(med), Seq("event_type"))
        .select(col("event_type"), pround(abs(col("value") - col("median")), 4).as("z"))
      val D6 = DecimalType(27, 6)
      val g = z.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("z").cast(DecimalType(18, 4))).cast("double").as("sv"),
          sum(pround(col("z") * col("z"), 6).cast(D6)).cast("double").as("svv"))
      val tot = g.agg(sum(col("n")).as("nn"), count(lit(1)).as("k"),
        sum(col("sv").cast(DecimalType(27, 6))).cast("double").as("st"))
      g.crossJoin(broadcast(tot))
        .withColumn("ssb_t", pround(col("sv") * col("sv") / col("n").cast("double"), 6))
        .withColumn("ssw_t", pround(col("svv")
          - col("sv") * col("sv") / col("n").cast("double"), 6))
        .groupBy(col("nn"), col("k"), col("st"))
        .agg(sum(col("ssb_t").cast(DecimalType(27, 8))).cast("double").as("sb"),
          sum(col("ssw_t").cast(DecimalType(27, 8))).cast("double").as("sw"))
        .filter(col("k") > 1 && col("nn") > col("k"))
        .withColumn("ssb", col("sb") - col("st") * col("st") / col("nn").cast("double"))
        .withColumn("msw", col("sw") / (col("nn") - col("k")).cast("double"))
        .filter(col("msw") > 0)
        .select(col("nn").as("n"), (col("k") - 1).as("df_between"),
          (col("nn") - col("k")).as("df_within"),
          (floor(col("ssb") / (col("k") - 1).cast("double") / col("msw")
            * 1e9 + 0.5) / 1e9).as("f_stat"))
    }, Some(
      s"""$evCte,
         |med AS (SELECT event_type, quantile_cont(value, 0.5) AS median
         |        FROM ev GROUP BY 1),
         |z AS (SELECT ev.event_type,
         |        round(abs(value - median), 4) AS z
         |      FROM ev JOIN med ON ev.event_type = med.event_type),
         |g AS (SELECT event_type, COUNT(*) AS n,
         |        CAST(SUM(CAST(z AS DECIMAL(18,4))) AS DOUBLE) AS sv,
         |        CAST(SUM(CAST(round(z * z, 6) AS DECIMAL(27,6))) AS DOUBLE) AS svv
         |      FROM z GROUP BY 1),
         |tot AS (SELECT SUM(n) AS nn, COUNT(*) AS k,
         |          CAST(SUM(CAST(sv AS DECIMAL(27,6))) AS DOUBLE) AS st FROM g),
         |t2 AS (SELECT nn, k, st,
         |         CAST(SUM(CAST(round(sv * sv / CAST(n AS DOUBLE), 6)
         |           AS DECIMAL(27,8))) AS DOUBLE) AS sb,
         |         CAST(SUM(CAST(round(svv - sv * sv / CAST(n AS DOUBLE), 6)
         |           AS DECIMAL(27,8))) AS DOUBLE) AS sw
         |       FROM g, tot GROUP BY 1, 2, 3),
         |f AS (SELECT nn, k, sw,
         |        sb - st * st / CAST(nn AS DOUBLE) AS ssb
         |      FROM t2 WHERE k > 1 AND nn > k),
         |f2 AS (SELECT nn, k, ssb,
         |         sw / CAST(nn - k AS DOUBLE) AS msw FROM f)
         |SELECT CAST(nn AS BIGINT) AS n, CAST(k - 1 AS BIGINT) AS df_between,
         |  CAST(nn - k AS BIGINT) AS df_within,
         |  FLOOR(ssb / CAST(k - 1 AS DOUBLE) / msw * 1e9 + 0.5) / 1e9 AS f_stat
         |FROM f2 WHERE msw > 0""".stripMargin)),

    QuerySpec("q292_cliffs_delta", (s, dir) => {
      // Cliff's delta effect size, click vs view values [EXT] — the
      // DIRECTIONAL companion to q222's Mann–Whitney (U says whether
      // the shift is significant; δ = P(X>Y) − P(X<Y) says how LARGE
      // and is robust where Cohen's d assumes normality). Rides q287's
      // grouped centi-unit value frame: #(x>y) = Σ_v nx_v·cny_{<v}
      // from ONE CumSum pass, everything exact integers (decimal-first
      // products) until the single final division.
      val ev = Tables.events(s, dir)
        .filter(col("event_type").isin("click", "view"))
        .select(floor(col("value") * 100 + 0.5).as("v"),
          (col("event_type") === "click").cast("long").as("isx"))
      val byV = ev.groupBy(col("v")).agg(
        sum(col("isx")).as("nx"), sum(lit(1L) - col("isx")).as("ny"))
      val cum = graft.operators.CumSum.withRunningTotals(byV, Seq(col("v")),
        Seq(col("nx") -> "cnx", col("ny") -> "cny"))
      val tot = byV.agg(sum(col("nx")).as("tnx"), sum(col("ny")).as("tny"))
      cum.crossJoin(broadcast(tot))
        .withColumn("gt", col("nx").cast(DecimalType(38, 0))
          * (col("cny") - col("ny")))
        .withColumn("lt2", col("nx").cast(DecimalType(38, 0))
          * (col("tny") - col("cny")))
        .agg(sum(col("gt")).as("n_gt"), sum(col("lt2")).as("n_lt"),
          max(col("tnx")).as("tnx"), max(col("tny")).as("tny"))
        .filter(col("tnx") > 0 && col("tny") > 0)
        .select(col("tnx").as("n_click"), col("tny").as("n_view"),
          col("n_gt").cast("long").as("n_gt"),
          col("n_lt").cast("long").as("n_lt"),
          (floor((col("n_gt").cast("double") - col("n_lt").cast("double"))
            / (col("tnx").cast("double") * col("tny").cast("double"))
            * 1e9 + 0.5) / 1e9).as("delta"))
    }, Some(
      s"""$evCte,
         |e2 AS (SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v,
         |         CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS isx
         |       FROM ev WHERE event_type IN ('click', 'view')),
         |byv AS (SELECT v, SUM(isx) AS nx, SUM(1 - isx) AS ny FROM e2 GROUP BY 1),
         |cum AS (SELECT v, nx, ny,
         |          SUM(nx) OVER win AS cnx, SUM(ny) OVER win AS cny
         |        FROM byv WINDOW win AS (ORDER BY v)),
         |tot AS (SELECT SUM(nx) AS tnx, SUM(ny) AS tny FROM byv),
         |ag AS (SELECT SUM(nx * (cny - ny)) AS n_gt,
         |         SUM(nx * (tny - cny)) AS n_lt,
         |         MAX(tnx) AS tnx, MAX(tny) AS tny
         |       FROM cum, tot)
         |SELECT CAST(tnx AS BIGINT) AS n_click, CAST(tny AS BIGINT) AS n_view,
         |  CAST(n_gt AS BIGINT) AS n_gt, CAST(n_lt AS BIGINT) AS n_lt,
         |  FLOOR((CAST(n_gt AS DOUBLE) - CAST(n_lt AS DOUBLE))
         |    / (CAST(tnx AS DOUBLE) * CAST(tny AS DOUBLE)) * 1e9 + 0.5) / 1e9 AS delta
         |FROM ag WHERE tnx > 0 AND tny > 0""".stripMargin)),

    QuerySpec("q294_median_ci", (s, dir) => {
      // distribution-free binomial CI for the per-type median [EXT] —
      // the uncertainty the point estimates (q55/q165) don't carry:
      // order statistics x_(k), x_(n+1−k) with k = ⌊(n − 1.96√n)/2⌋
      // bracket the median at ~95% by the sign-test argument — no
      // normality, no bootstrap replicates (q235's B resamples cost
      // B× this). Ranks from mirrored doubles on the |types|-row count
      // frame (driver map — the selector's documented conformal-k
      // tier); both bracket values from the histogram-refinement
      // selector (two calls, shared machinery, no per-group buffer).
      val ev = Dedup.cacheScoped(Tables.events(s, dir)
        .select(col("event_type"), col("value")))
      val ns = ev.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        .filter(_._2 >= 16)
      val kLo: Map[Any, Long] = ns.map { case (g, n) =>
        (g: Any) -> math.max(1L,
          math.floor((n - 1.96 * math.sqrt(n.toDouble)) / 2.0).toLong)
      }
      val kHi: Map[Any, Long] = ns.map { case (g, n) => (g: Any) -> (n + 1 - kLo(g)) }
      val lo = graft.operators.Selection
        .exactGroupedOrderStat(ev, "event_type", "value", kLo)
        .select(col("event_type"), col("k").as("k_lo"), col("value").as("ci_lo"))
      val hi = graft.operators.Selection
        .exactGroupedOrderStat(ev, "event_type", "value", kHi)
        .select(col("event_type"), col("k").as("k_hi"), col("value").as("ci_hi"))
      import s.implicits._
      val nDf = ns.toSeq.map { case (g, n) => (g, n) }.toDF("event_type", "n")
      nDf.join(lo, Seq("event_type")).join(hi, Seq("event_type"))
        .select(col("event_type"), col("n"), col("k_lo"), col("k_hi"),
          col("ci_lo"), col("ci_hi"))
        .orderBy(col("event_type"))
    }, Some(
      s"""$evCte,
         |ns AS (SELECT event_type, COUNT(*) AS n FROM ev GROUP BY 1
         |       HAVING COUNT(*) >= 16),
         |ks AS (SELECT event_type, n,
         |         GREATEST(1, CAST(FLOOR((CAST(n AS DOUBLE)
         |           - 1.96 * sqrt(CAST(n AS DOUBLE))) / 2.0) AS BIGINT)) AS k_lo
         |       FROM ns),
         |ks2 AS (SELECT event_type, n, k_lo, n + 1 - k_lo AS k_hi FROM ks),
         |rk AS (SELECT event_type, value,
         |         row_number() OVER (PARTITION BY event_type ORDER BY value) AS r
         |       FROM ev)
         |SELECT k.event_type, CAST(k.n AS BIGINT) AS n,
         |  CAST(k.k_lo AS BIGINT) AS k_lo, CAST(k.k_hi AS BIGINT) AS k_hi,
         |  lo.value AS ci_lo, hi.value AS ci_hi
         |FROM ks2 k
         |JOIN rk lo ON lo.event_type = k.event_type AND lo.r = k.k_lo
         |JOIN rk hi ON hi.event_type = k.event_type AND hi.r = k.k_hi
         |ORDER BY k.event_type""".stripMargin)),

    QuerySpec("q295_brier_score", (s, dir) => {
      // Brier score + Murphy decomposition of the quality classifier
      // [EXT] — the PROPER scoring rule the calibration family lacked
      // (q150 shows the reliability table, q233 averages |gap|; the
      // Brier score is what the model actually optimizes, and its
      // reliability − resolution + uncertainty decomposition says
      // WHERE the loss comes from). One scan for the scores, decile
      // bins (q150's floor-bucketing), every cross-row reduction
      // pround→DECIMAL; the three components close on the 10-row bin
      // frame as mirrored doubles.
      val score = TextAnalysis.classifierScore(col("text"),
        wTokens = 1.2, wStop = 2.0, wAlpha = 1.5, wPunct = -3.0, bias = -1.0)
      val d = Dedup.cacheScoped(Tables.documents(s, dir)
        .select(score.as("p"), (col("lang") === "en").cast("long").as("y"))
        .withColumn("bucket", least(floor(col("p") * 10), lit(9L)).cast("long")))
      val t = d.agg(count(lit(1)).as("n"),
        (sum(col("y")).cast("double") / count(lit(1))).as("ybar"),
        sum(pround((col("p") - col("y")) * (col("p") - col("y")), 9)
          .cast(DecimalType(27, 10))).cast("double").as("sq"))
      val bins = d.groupBy(col("bucket"))
        .agg(count(lit(1)).as("nb"),
          (sum(col("p").cast(DecimalType(18, 9))).cast("double") / count(lit(1)))
            .as("pbar"),
          (sum(col("y")).cast("double") / count(lit(1))).as("ybarb"))
      val comp = bins.crossJoin(broadcast(t))
        .agg(
          sum(pround(col("nb").cast("double") * (col("pbar") - col("ybarb"))
            * (col("pbar") - col("ybarb")), 9).cast(DecimalType(27, 10)))
            .cast("double").as("reln"),
          sum(pround(col("nb").cast("double") * (col("ybarb") - col("ybar"))
            * (col("ybarb") - col("ybar")), 9).cast(DecimalType(27, 10)))
            .cast("double").as("resn"))
      comp.crossJoin(broadcast(t))
        .filter(col("n") > 0)
        .select(col("n"),
          pround(col("sq") / col("n"), 9).as("brier"),
          pround(col("reln") / col("n"), 9).as("reliability"),
          pround(col("resn") / col("n"), 9).as("resolution"),
          pround(col("ybar") * (lit(1.0) - col("ybar")), 9).as("uncertainty"))
    }, Some(
      """WITH f AS (SELECT doc_id, lang,
        |  least(CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) / 100.0, 1.0) AS f_tok,
        |  CASE WHEN len(regexp_extract_all(text, '\S+')) = 0 THEN 0.0
        |       ELSE CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|a|in|is|that|it|for)\b')) AS DOUBLE)
        |            / len(regexp_extract_all(text, '\S+')) END AS f_stop,
        |  CASE WHEN length(text) = 0 THEN 0.0
        |       ELSE CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / length(text) END AS f_alpha,
        |  CASE WHEN length(text) = 0 THEN 0.0
        |       ELSE CAST(length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) AS DOUBLE) / length(text) END AS f_punct
        |FROM documents),
        |z AS (SELECT doc_id, lang,
        |        round(1.0 / (1.0 + exp(-(f_tok * 1.2 + f_stop * 2.0 + f_alpha * 1.5 + f_punct * (-3.0) + (-1.0)))), 9) AS p
        |      FROM f),
        |b AS (SELECT p, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
        |        CAST(least(floor(p * 10), 9) AS BIGINT) AS bucket FROM z),
        |t AS (SELECT COUNT(*) AS n, CAST(SUM(y) AS DOUBLE) / COUNT(*) AS ybar,
        |        CAST(SUM(CAST(round((p - y) * (p - y), 9) AS DECIMAL(27,10)))
        |          AS DOUBLE) AS sq
        |      FROM b),
        |bb AS (SELECT bucket, COUNT(*) AS nb,
        |         CAST(SUM(CAST(p AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*) AS pbar,
        |         CAST(SUM(y) AS DOUBLE) / COUNT(*) AS ybarb
        |       FROM b GROUP BY 1),
        |comp AS (SELECT
        |           CAST(SUM(CAST(round(CAST(nb AS DOUBLE) * (pbar - ybarb)
        |             * (pbar - ybarb), 9) AS DECIMAL(27,10))) AS DOUBLE) AS reln,
        |           CAST(SUM(CAST(round(CAST(nb AS DOUBLE) * (ybarb - ybar)
        |             * (ybarb - ybar), 9) AS DECIMAL(27,10))) AS DOUBLE) AS resn
        |         FROM bb, t)
        |SELECT CAST(n AS BIGINT) AS n,
        |  round(sq / n, 9) AS brier,
        |  round(reln / n, 9) AS reliability,
        |  round(resn / n, 9) AS resolution,
        |  round(ybar * (1.0 - ybar), 9) AS uncertainty
        |FROM comp, t WHERE n > 0""".stripMargin)),

    QuerySpec("q296_gini_split", (s, dir) => {
      // CART decision-stump split finder on the quality score [EXT] —
      // the supervised threshold chooser the gate family lacked (q108
      // fixes 0.5; q75 uses hand rules): the split minimizing weighted
      // Gini impurity is exactly one tree level of CART/XGBoost — the
      // principled "where to cut a quality filter" answer. Candidate
      // thresholds are the grouped distinct scores; left/right class
      // counts come from ONE CumSum two-pass (never a global window);
      // impurity closes as mirrored doubles, argmin total-ordered by
      // (impurity, threshold).
      val d = Tables.documents(s, dir).select(
        pround(TextAnalysis.qualityScore(col("text")), 9).as("sc"),
        (col("lang") === "en").cast("long").as("y"))
      val byV = d.groupBy(col("sc")).agg(count(lit(1)).as("n"), sum(col("y")).as("p"))
      val cum = graft.operators.CumSum.withRunningTotals(byV, Seq(col("sc")),
        Seq(col("n") -> "cn", col("p") -> "cp"))
      val tot = byV.agg(sum(col("n")).as("tn"), sum(col("p")).as("tp"))
      cum.crossJoin(broadcast(tot))
        .filter(col("cn") < col("tn") && col("tn") > 0)
        .withColumn("nl", col("cn").cast("double"))
        .withColumn("nr", (col("tn") - col("cn")).cast("double"))
        .withColumn("pl", col("cp").cast("double") / col("nl"))
        .withColumn("pr2", (col("tp") - col("cp")).cast("double") / col("nr"))
        .withColumn("gl", lit(1.0) - col("pl") * col("pl")
          - (lit(1.0) - col("pl")) * (lit(1.0) - col("pl")))
        .withColumn("gr", lit(1.0) - col("pr2") * col("pr2")
          - (lit(1.0) - col("pr2")) * (lit(1.0) - col("pr2")))
        .withColumn("impRaw", (col("nl") * col("gl") + col("nr") * col("gr"))
          / col("tn").cast("double"))
        .withColumn("imp", pround(col("impRaw"), 9))
        .withColumn("p0", col("tp").cast("double") / col("tn").cast("double"))
        .withColumn("g0", lit(1.0) - col("p0") * col("p0")
          - (lit(1.0) - col("p0")) * (lit(1.0) - col("p0")))
        .orderBy(col("imp"), col("sc")).limit(1)
        .select(col("sc").as("threshold"), col("cn").as("n_left"),
          (col("tn") - col("cn")).as("n_right"), col("imp").as("impurity"),
          pround(col("g0"), 9).as("gini_parent"),
          pround(col("g0") - col("impRaw"), 9).as("gain"))
    }, Some(
      s"""$qualityDocCte,
         |d2 AS (SELECT round(score, 9) AS sc,
         |         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y FROM d),
         |byv AS (SELECT sc, COUNT(*) AS n, SUM(y) AS p FROM d2 GROUP BY 1),
         |cum AS (SELECT sc, n, p,
         |          SUM(n) OVER win AS cn, SUM(p) OVER win AS cp
         |        FROM byv WINDOW win AS (ORDER BY sc)),
         |tot AS (SELECT SUM(n) AS tn, SUM(p) AS tp FROM byv),
         |g AS (SELECT sc, cn, tn,
         |        CAST(cn AS DOUBLE) AS nl, CAST(tn - cn AS DOUBLE) AS nr,
         |        CAST(cp AS DOUBLE) / CAST(cn AS DOUBLE) AS pl,
         |        CAST(tp - cp AS DOUBLE) / CAST(tn - cn AS DOUBLE) AS pr2,
         |        CAST(tp AS DOUBLE) / CAST(tn AS DOUBLE) AS p0
         |      FROM cum, tot WHERE cn < tn AND tn > 0),
         |h AS (SELECT sc, cn, tn, p0,
         |        (nl * (1.0 - pl * pl - (1.0 - pl) * (1.0 - pl))
         |         + nr * (1.0 - pr2 * pr2 - (1.0 - pr2) * (1.0 - pr2)))
         |          / CAST(tn AS DOUBLE) AS imp_raw
         |      FROM g),
         |h2 AS (SELECT sc, cn, tn, p0, imp_raw, round(imp_raw, 9) AS imp FROM h)
         |SELECT sc AS threshold, CAST(cn AS BIGINT) AS n_left,
         |  CAST(tn - cn AS BIGINT) AS n_right, imp AS impurity,
         |  round(1.0 - p0 * p0 - (1.0 - p0) * (1.0 - p0), 9) AS gini_parent,
         |  round((1.0 - p0 * p0 - (1.0 - p0) * (1.0 - p0)) - imp_raw, 9) AS gain
         |FROM h2 ORDER BY imp, sc LIMIT 1""".stripMargin)),

    QuerySpec("q304_ols_two_factor", (s, dir) => {
      // closed-form two-regressor OLS [EXT] — value ~ hour-of-day +
      // day-of-week via the NORMAL EQUATIONS (Cramer on the centered
      // moment matrix), the exact one-pass answer where Optim.linregGD
      // (q103's family) iterates: one grouped-moment scan, a 1-row
      // close. Moment sums are exact DECIMAL over centi-quantized y
      // (q287's on-entry quantization — the only float in the inputs
      // dies there); the centered combos n·Sxy − Sx·Sy and the Cramer
      // solve run in pure IEEE double from those exact sums (both
      // engines cast exact decimals identically), pround once per
      // output. R² = (b1·S1y + b2·S2y)/SST on the same centered sums.
      val D = DecimalType(38, 0)
      val ev = Tables.events(s, dir).select(
        hour(col("ts")).cast("long").as("x1"),
        dayofweek(col("ts")).cast("long").as("x2"),
        floor(col("value") * 100 + 0.5).cast("long").as("yc"))
      val m = ev.agg(count(lit(1)).as("n"),
        sum(col("x1").cast(D)).as("sx1"), sum(col("x2").cast(D)).as("sx2"),
        sum(col("yc").cast(D)).as("sy"),
        sum((col("x1") * col("x1")).cast(D)).as("sx1x1"),
        sum((col("x1") * col("x2")).cast(D)).as("sx1x2"),
        sum((col("x2") * col("x2")).cast(D)).as("sx2x2"),
        sum((col("x1") * col("yc")).cast(D)).as("sx1y"),
        sum((col("x2") * col("yc")).cast(D)).as("sx2y"),
        sum((col("yc").cast(D) * col("yc")).cast(D)).as("syy"))
      def dbl(name: String) = col(name).cast("double")
      val nd = dbl("n")
      val s11 = nd * dbl("sx1x1") - dbl("sx1") * dbl("sx1")
      val s12 = nd * dbl("sx1x2") - dbl("sx1") * dbl("sx2")
      val s22 = nd * dbl("sx2x2") - dbl("sx2") * dbl("sx2")
      val s1y = nd * dbl("sx1y") - dbl("sx1") * dbl("sy")
      val s2y = nd * dbl("sx2y") - dbl("sx2") * dbl("sy")
      val sst = nd * dbl("syy") - dbl("sy") * dbl("sy")
      val det = s11 * s22 - s12 * s12
      val b1c = (s1y * s22 - s2y * s12) / det
      val b2c = (s2y * s11 - s1y * s12) / det
      m.select(col("n"),
          pround((dbl("sy") - b1c * dbl("sx1") - b2c * dbl("sx2")) / nd / 100.0, 9)
            .as("intercept"),
          pround(b1c / 100.0, 9).as("beta_hour"),
          pround(b2c / 100.0, 9).as("beta_dow"),
          pround((b1c * s1y + b2c * s2y) / sst, 9).as("r2"))
    }, Some(
      """WITH ev AS (SELECT
        |    CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS x1,
        |    CAST(dayofweek(CAST(ts AS TIMESTAMP)) + 1 AS BIGINT) AS x2,
        |    CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS yc
        |  FROM events),
        |m AS (SELECT COUNT(*) AS n,
        |    SUM(CAST(x1 AS HUGEINT)) AS sx1, SUM(CAST(x2 AS HUGEINT)) AS sx2,
        |    SUM(CAST(yc AS HUGEINT)) AS sy,
        |    SUM(CAST(x1 * x1 AS HUGEINT)) AS sx1x1,
        |    SUM(CAST(x1 * x2 AS HUGEINT)) AS sx1x2,
        |    SUM(CAST(x2 * x2 AS HUGEINT)) AS sx2x2,
        |    SUM(CAST(x1 * yc AS HUGEINT)) AS sx1y,
        |    SUM(CAST(x2 * yc AS HUGEINT)) AS sx2y,
        |    SUM(CAST(yc AS HUGEINT) * CAST(yc AS HUGEINT)) AS syy
        |  FROM ev),
        |c AS (SELECT n,
        |    CAST(n AS DOUBLE) AS nd,
        |    CAST(sx1 AS DOUBLE) AS dx1, CAST(sx2 AS DOUBLE) AS dx2,
        |    CAST(sy AS DOUBLE) AS dy,
        |    CAST(n AS DOUBLE) * CAST(sx1x1 AS DOUBLE)
        |      - CAST(sx1 AS DOUBLE) * CAST(sx1 AS DOUBLE) AS s11,
        |    CAST(n AS DOUBLE) * CAST(sx1x2 AS DOUBLE)
        |      - CAST(sx1 AS DOUBLE) * CAST(sx2 AS DOUBLE) AS s12,
        |    CAST(n AS DOUBLE) * CAST(sx2x2 AS DOUBLE)
        |      - CAST(sx2 AS DOUBLE) * CAST(sx2 AS DOUBLE) AS s22,
        |    CAST(n AS DOUBLE) * CAST(sx1y AS DOUBLE)
        |      - CAST(sx1 AS DOUBLE) * CAST(sy AS DOUBLE) AS s1y,
        |    CAST(n AS DOUBLE) * CAST(sx2y AS DOUBLE)
        |      - CAST(sx2 AS DOUBLE) * CAST(sy AS DOUBLE) AS s2y,
        |    CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS sst
        |  FROM m),
        |sol AS (SELECT n, nd, dx1, dx2, dy, s1y, s2y, sst,
        |    (s1y * s22 - s2y * s12) / (s11 * s22 - s12 * s12) AS b1c,
        |    (s2y * s11 - s1y * s12) / (s11 * s22 - s12 * s12) AS b2c
        |  FROM c)
        |SELECT CAST(n AS BIGINT) AS n,
        |  round((dy - b1c * dx1 - b2c * dx2) / nd / 100.0, 9) AS intercept,
        |  round(b1c / 100.0, 9) AS beta_hour,
        |  round(b2c / 100.0, 9) AS beta_dow,
        |  round((b1c * s1y + b2c * s2y) / sst, 9) AS r2
        |FROM sol""".stripMargin)),

    QuerySpec("q346_ipf_raking", (s, dir) => {
      // iterative proportional fitting (raking), 3 half-steps [EXT] —
      // the survey-calibration workhorse q245's post-stratification
      // can't replace when TWO margins must hold at once: reweight the
      // event_type × weekday cell counts so weekdays become UNIFORM
      // (the "what if traffic were day-balanced" counterfactual) while
      // type totals stay fixed. Column-fit → row-fit → column-fit;
      // each half-step is one margin agg (r12'd cells sum in exact
      // DECIMAL — order-free) + a broadcast factor join. The oracle
      // unrolls the identical three CTE rounds. Output: the ≤7·|types|
      // cell frame with final weights and the residual column error.
      // r19: the 3 half-steps run on the DRIVER over the collected
      // ≤7·|types| cell frame (the q342/q345 bounded-frame driver tier —
      // one agg job + one tiny collect instead of 3 margin aggs, 4
      // broadcast joins and their stages). Arithmetic mirrors the old
      // distributed plan EXACTLY: msum's double→DECIMAL(27,14) cast is
      // BigDecimal.valueOf(m).setScale(14, HALF_UP) (the Graph
      // localPageRank mirror), sums are exact decimal (order-free),
      // pround's floor form is replicated with its 2^52 passthrough
      // branch — so every fitted weight is bit-identical.
      import java.math.{BigDecimal => JBD, RoundingMode}
      def msumD(vs: Iterable[Double]): Double =
        vs.foldLeft(JBD.ZERO)((a, v) =>
          a.add(JBD.valueOf(v).setScale(14, RoundingMode.HALF_UP)))
          .doubleValue()
      def prD(x: Double, scale: Int): Double = proundD(x, scale)
      val cells = Tables.events(s, dir)
        .groupBy(col("event_type"),
          dayofweek(col("ts")).cast("long").as("dow"))
        .agg(count(lit(1)).as("n"))
        // ≤ 7·|event_types| rows by construction — dow has 7 values and
        // event_type is a closed small enum in this schema (the bound
        // holds as long as that stays true; a high-cardinality type
        // column would need the distributed half-steps back)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      val nn = cells.map(_._3).sum
      val rowT = cells.groupBy(_._1).map { case (t, g) => t -> g.map(_._3).sum }
      val colT = nn.toDouble / 7.0
      var m: Map[(String, Long), Double] =
        cells.map { case (t, d, n) => (t, d) -> n.toDouble }.toMap
      def colFitD(): Unit = {
        val cs = m.groupBy(_._1._2).map { case (d, g) => d -> msumD(g.values) }
        m = m.map { case (k, v) => k -> prD(v * colT / cs(k._2), 12) }
      }
      def rowFitD(): Unit = {
        val rs = m.groupBy(_._1._1).map { case (t, g) => t -> msumD(g.values) }
        m = m.map { case (k, v) =>
          k -> prD(v * rowT(k._1).toDouble / rs(k._1), 12) }
      }
      colFitD(); rowFitD(); colFitD()
      import s.implicits._
      cells.toSeq.map { case (t, d, n) =>
          val mv = m((t, d))
          (t, d, n, prD(mv, 9), prD(mv / n.toDouble, 9))
        }
        .toDF("event_type", "dow", "n", "fitted", "weight")
        .orderBy(col("event_type"), col("dow"))
    }, Some(
      s"""$evCte,
         |cells AS (SELECT event_type, CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
         |            COUNT(*) AS n FROM ev GROUP BY 1, 2),
         |tot AS (SELECT SUM(n) AS nn FROM cells),
         |rowt AS (SELECT event_type, SUM(n) AS rt FROM cells GROUP BY 1),
         |m0 AS (SELECT event_type, dow, n, CAST(n AS DOUBLE) AS m,
         |         CAST(nn AS DOUBLE) / 7.0 AS colt FROM cells, tot),
         |c1s AS (SELECT dow, CAST(SUM(CAST(m AS DECIMAL(27,14))) AS DOUBLE) AS cs
         |        FROM m0 GROUP BY 1),
         |m1 AS (SELECT m0.event_type, m0.dow, m0.n,
         |         round(m0.m * m0.colt / c1s.cs, 12) AS m, m0.colt
         |       FROM m0 JOIN c1s USING (dow)),
         |r1s AS (SELECT event_type,
         |          CAST(SUM(CAST(m AS DECIMAL(27,14))) AS DOUBLE) AS rs
         |        FROM m1 GROUP BY 1),
         |m2 AS (SELECT m1.event_type, m1.dow, m1.n,
         |         round(m1.m * CAST(r.rt AS DOUBLE) / r1s.rs, 12) AS m, m1.colt
         |       FROM m1 JOIN r1s USING (event_type) JOIN rowt r USING (event_type)),
         |c2s AS (SELECT dow, CAST(SUM(CAST(m AS DECIMAL(27,14))) AS DOUBLE) AS cs
         |        FROM m2 GROUP BY 1),
         |m3 AS (SELECT m2.event_type, m2.dow, m2.n,
         |         round(m2.m * m2.colt / c2s.cs, 12) AS m
         |       FROM m2 JOIN c2s USING (dow))
         |SELECT event_type, dow, CAST(n AS BIGINT) AS n,
         |  round(m, 9) AS fitted, round(m / CAST(n AS DOUBLE), 9) AS weight
         |FROM m3 ORDER BY event_type, dow""".stripMargin)),

    QuerySpec("q347_capture_recapture", (s, dir) => {
      // Chapman capture–recapture population estimate [EXT] — "how
      // many users EXIST given two overlapping activity samples":
      // N̂ = (n₁+1)(n₂+1)/(m+1) − 1 from the week-1 and week-2 active
      // sets — the ecology estimator that doubles as a coverage check
      // for observability pipelines (does a week of logs see the whole
      // population?). Three distinct-count aggs + one semi-join
      // overlap — exact integers until the single division; compared
      // against the OBSERVED distinct total.
      val ev = Dedup.cacheScoped(Tables.events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("day")))
      val w1 = ev.filter(col("day").between(lit("2024-01-02"), lit("2024-01-08")))
        .select(col("user_id")).distinct()
      val w2 = ev.filter(col("day").between(lit("2024-01-09"), lit("2024-01-15")))
        .select(col("user_id")).distinct()
      val n1 = w1.agg(count(lit(1)).as("n1"))
      val n2 = w2.agg(count(lit(1)).as("n2"))
      val m = w1.join(w2, Seq("user_id"), "left_semi")
        .agg(count(lit(1)).as("m"))
      val truth = ev.select(col("user_id")).distinct()
        .agg(count(lit(1)).as("n_observed"))
      n1.crossJoin(n2).crossJoin(m).crossJoin(truth)
        .select(col("n1"), col("n2"), col("m"), col("n_observed"),
          pround((col("n1") + 1).cast("double") * (col("n2") + 1).cast("double")
            / (col("m") + 1).cast("double") - 1.0, 9).as("chapman_estimate"))
    }, Some(
      s"""$evCte,
         |ud AS (SELECT user_id, CAST(ts AS DATE) AS day FROM ev),
         |w1 AS (SELECT DISTINCT user_id FROM ud
         |       WHERE day BETWEEN DATE '2024-01-02' AND DATE '2024-01-08'),
         |w2 AS (SELECT DISTINCT user_id FROM ud
         |       WHERE day BETWEEN DATE '2024-01-09' AND DATE '2024-01-15'),
         |n1 AS (SELECT COUNT(*) AS n1 FROM w1),
         |n2 AS (SELECT COUNT(*) AS n2 FROM w2),
         |m AS (SELECT COUNT(*) AS m FROM w1 WHERE user_id IN
         |      (SELECT user_id FROM w2)),
         |tr AS (SELECT COUNT(DISTINCT user_id) AS n_observed FROM ud)
         |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
         |  CAST(m AS BIGINT) AS m, CAST(n_observed AS BIGINT) AS n_observed,
         |  round(CAST(n1 + 1 AS DOUBLE) * CAST(n2 + 1 AS DOUBLE)
         |    / CAST(m + 1 AS DOUBLE) - 1.0, 9) AS chapman_estimate
         |FROM n1, n2, m, tr""".stripMargin)),

    QuerySpec("q351_negbin_fit", (s, dir) => {
      // negative-binomial fit of daily counts per type [EXT] — q246's
      // Fano factor SAYS the counts are overdispersed; this gives the
      // PARAMETERS (method of moments: p = m/v, r = m²/(v−m)) that a
      // capacity planner or synthetic-data generator actually uses.
      // Exact integer moments over the calendar-bounded daily frame,
      // Poisson fallback flagged when v ≤ m (NB undefined). One
      // grouped agg + a |types|-row close.
      val D = DecimalType(38, 0)
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
      val st = daily.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("x").cast(D)).as("sx"),
          sum((col("x").cast(D) * col("x")).cast(D)).as("sxx"))
        .filter(col("n") > 1)
      val m = col("sx").cast("double") / col("n").cast("double")
      val v = ((col("n").cast("double") * col("sxx").cast("double")
        - col("sx").cast("double") * col("sx").cast("double"))
        / (col("n").cast("double") * (col("n").cast("double") - 1.0)))
      st.select(col("event_type"), col("n").as("n_days"),
          pround(m, 9).as("mean"), pround(v, 9).as("variance"),
          (v > m).as("overdispersed"),
          when(v > m, pround(m / v, 9)).as("p_hat"),
          when(v > m, pround(m * m / (v - m), 9)).as("r_hat"))
        .orderBy(col("event_type"))
    }, Some(
      s"""$evCte,
         |daily AS (SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS x
         |          FROM ev GROUP BY 1, 2),
         |st AS (SELECT event_type, COUNT(*) AS n,
         |         SUM(CAST(x AS HUGEINT)) AS sx,
         |         SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx
         |       FROM daily GROUP BY 1 HAVING COUNT(*) > 1),
         |c AS (SELECT event_type, n,
         |        CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS m,
         |        (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
         |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         |          / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) AS v
         |      FROM st)
         |SELECT event_type, CAST(n AS BIGINT) AS n_days, round(m, 9) AS mean,
         |  round(v, 9) AS variance, (v > m) AS overdispersed,
         |  CASE WHEN v > m THEN round(m / v, 9) END AS p_hat,
         |  CASE WHEN v > m THEN round(m * m / (v - m), 9) END AS r_hat
         |FROM c ORDER BY event_type""".stripMargin)),

    QuerySpec("q355_tail_dependence", (s, dir) => {
      // extremal tail dependence between click and purchase days [EXT]
      // — q349's CCF measures AVERAGE linear coupling; capacity
      // planning cares about the TAILS: when clicks spike past their
      // P75, how often do purchases spike past theirs the SAME day
      // (the empirical χ co-exceedance, and its independence baseline
      // 1−q)? Day-level thresholds from the selector (exact),
      // exceedance flags compare exact counts to ROUNDED thresholds,
      // the 2×2 close is integer counts.
      val daily = Dedup.cacheScoped(Tables.events(s, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x")))
      val thr = graft.operators.Selection.exactGroupedQuantiles(
          daily.select(col("event_type").as("g"), col("x").cast("double")
            .as("x")), "g", "x", Seq(0.75))
        .select(col("g").as("event_type"), pround(col("value"), 9).as("q75"))
      val flagged = daily.join(broadcast(thr), Seq("event_type"))
        .select(col("day"), col("event_type"),
          (col("x").cast("double") > col("q75")).cast("long").as("exc"))
      val a = flagged.filter(col("event_type") === "click")
        .select(col("day"), col("exc").as("ea"))
      val b = flagged.filter(col("event_type") === "purchase")
        .select(col("day"), col("exc").as("eb"))
      a.join(b, Seq("day"))
        .agg(count(lit(1)).as("n_days"), sum(col("ea")).as("n_click_exc"),
          sum(col("eb")).as("n_purch_exc"),
          sum(col("ea") * col("eb")).as("n_joint"))
        .select(col("n_days"), col("n_click_exc"), col("n_purch_exc"),
          col("n_joint"),
          when(col("n_click_exc") > 0,
            pround(col("n_joint").cast("double")
              / col("n_click_exc").cast("double"), 9)).as("chi_hat"),
          pround(col("n_purch_exc").cast("double")
            / col("n_days").cast("double"), 9).as("independence_baseline"))
    }, Some(
      s"""$evCte,
         |daily AS (SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS x
         |          FROM ev WHERE event_type IN ('click', 'purchase')
         |          GROUP BY 1, 2),
         |thr AS (SELECT event_type,
         |          round(quantile_cont(CAST(x AS DOUBLE), 0.75), 9) AS q75
         |        FROM daily GROUP BY 1),
         |fl AS (SELECT d.day, d.event_type,
         |         CASE WHEN CAST(d.x AS DOUBLE) > t.q75 THEN 1 ELSE 0 END AS exc
         |       FROM daily d JOIN thr t USING (event_type)),
         |a AS (SELECT day, exc AS ea FROM fl WHERE event_type = 'click'),
         |b AS (SELECT day, exc AS eb FROM fl WHERE event_type = 'purchase'),
         |j AS (SELECT a.ea, b.eb FROM a JOIN b USING (day)),
         |st AS (SELECT COUNT(*) AS n_days, SUM(ea) AS nce, SUM(eb) AS npe,
         |         SUM(ea * eb) AS nj FROM j)
         |SELECT CAST(n_days AS BIGINT) AS n_days, CAST(nce AS BIGINT)
         |    AS n_click_exc,
         |  CAST(npe AS BIGINT) AS n_purch_exc, CAST(nj AS BIGINT) AS n_joint,
         |  CASE WHEN nce > 0 THEN
         |    round(CAST(nj AS DOUBLE) / CAST(nce AS DOUBLE), 9) END AS chi_hat,
         |  round(CAST(npe AS DOUBLE) / CAST(n_days AS DOUBLE), 9)
         |    AS independence_baseline
         |FROM st""".stripMargin)),

    QuerySpec("q359_mcnemar", (s, dir) => {
      // McNemar's paired test between two quality gates [EXT] — do
      // the Gopher alpha-words rule and the stopword rule disagree
      // SYSTEMATICALLY on the same docs (the paired question an
      // unpaired χ² (q100) gets wrong): only the discordant cells
      // matter, χ² = (b−c)²/(b+c) with the continuity correction
      // (|b−c|−1)²/(b+c). One codegen scan, exact-integer 2×2, two
      // IEEE closes.
      val d = Tables.documents(s, dir).select(
        TextAnalysis.wsTokenCount(col("text")).cast("long").as("ws"),
        size(regexp_extract_all(col("text"),
          lit(TextAnalysis.alphaWordPattern), lit(0))).cast("long").as("aw"),
        size(regexp_extract_all(lower(col("text")),
          lit(TextAnalysis.stopwordAltPattern), lit(0))).cast("long").as("sw"))
        .filter(col("ws") > 0)
        .select((col("aw") * 5 >= col("ws") * 4).as("ga"),
          (col("sw") * 100 >= col("ws") * 3).as("gs"))
      d.agg(count(lit(1)).as("n"),
          sum(when(col("ga") && col("gs"), 1L).otherwise(0L)).as("n_both"),
          sum(when(col("ga") && !col("gs"), 1L).otherwise(0L)).as("only_a"),
          sum(when(!col("ga") && col("gs"), 1L).otherwise(0L)).as("only_s"),
          sum(when(!col("ga") && !col("gs"), 1L).otherwise(0L)).as("neither"))
        .filter(col("only_a") + col("only_s") > 0)
        .select(col("n"), col("n_both"), col("only_a"), col("only_s"),
          col("neither"),
          pround((col("only_a") - col("only_s")).cast("double")
            * (col("only_a") - col("only_s")).cast("double")
            / (col("only_a") + col("only_s")).cast("double"), 9)
            .as("mcnemar_chi2"),
          pround((abs(col("only_a") - col("only_s")) - 1).cast("double")
            * (abs(col("only_a") - col("only_s")) - 1).cast("double")
            / (col("only_a") + col("only_s")).cast("double"), 9)
            .as("mcnemar_cc"))
    }, Some(
      """WITH f AS (SELECT len(regexp_extract_all(text, '\S+')) AS ws,
        |    len(regexp_extract_all(text, '\S*[A-Za-z]\S*')) AS aw,
        |    len(regexp_extract_all(lower(text),
        |        '\b(the|and|of|to|a|in|is|that|it|for)\b')) AS sw
        |  FROM documents),
        |g AS (SELECT (aw * 5 >= ws * 4) AS ga, (sw * 100 >= ws * 3) AS gs
        |      FROM f WHERE ws > 0),
        |a AS (SELECT COUNT(*) AS n,
        |        SUM(CASE WHEN ga AND gs THEN 1 ELSE 0 END) AS nb,
        |        SUM(CASE WHEN ga AND NOT gs THEN 1 ELSE 0 END) AS only_a,
        |        SUM(CASE WHEN NOT ga AND gs THEN 1 ELSE 0 END) AS only_s,
        |        SUM(CASE WHEN NOT ga AND NOT gs THEN 1 ELSE 0 END) AS neither
        |      FROM g)
        |SELECT CAST(n AS BIGINT) AS n, CAST(nb AS BIGINT) AS n_both,
        |  CAST(only_a AS BIGINT) AS only_a, CAST(only_s AS BIGINT) AS only_s,
        |  CAST(neither AS BIGINT) AS neither,
        |  round(CAST(only_a - only_s AS DOUBLE) * CAST(only_a - only_s AS DOUBLE)
        |    / CAST(only_a + only_s AS DOUBLE), 9) AS mcnemar_chi2,
        |  round(CAST(abs(only_a - only_s) - 1 AS DOUBLE)
        |    * CAST(abs(only_a - only_s) - 1 AS DOUBLE)
        |    / CAST(only_a + only_s AS DOUBLE), 9) AS mcnemar_cc
        |FROM a WHERE only_a + only_s > 0""".stripMargin)),

    QuerySpec("q360_lift_chart", (s, dir) => {
      // decile lift/gain chart of the quality classifier [EXT] — the
      // model-eval table next to ROC (q221) and calibration (q233):
      // rank docs by the q295 classifier score, cut into 10 equal
      // slices by the two-pass dense-id (q319's discipline), and per
      // decile report the en-rate, lift vs base rate, and cumulative
      // gain — "the top decile captures X% of positives". Exact
      // integers through the CumSum running totals; three divisions
      // close each row.
      val scored = Tables.documents(s, dir).select(col("doc_id"),
        pround(TextAnalysis.classifierScore(col("text"),
          1.2, 2.0, 1.5, -3.0, -1.0), 9).as("p"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"))
      val ranked = graft.operators.DocPipeline.withDenseIds(
        scored, struct(-col("p"), col("doc_id")), "rid")
      val nTot = ranked.agg(count(lit(1)).as("n"), sum(col("y")).as("pos"))
      val dec = ranked.crossJoin(broadcast(nTot))
        .withColumn("decile", (col("rid") * 10 / col("n")).cast("int"))
        .groupBy(col("decile"), col("n"), col("pos"))
        .agg(count(lit(1)).as("n_docs"), sum(col("y")).as("n_pos"))
      // r19: same ≤10-row driver close as q319 — the corpus-sized
      // CumSum layout pass is overkill for a by-construction decile
      // frame; identical exact-long running sum and pround mirrors.
      val decRows = dec.orderBy(col("decile")).collect()
      var cum = 0L
      import s.implicits._
      decRows.toSeq.map { r =>
          val (decile, n, pos) = (r.getInt(0), r.getLong(1), r.getLong(2))
          val (nDocs, nPos) = (r.getLong(3), r.getLong(4))
          cum += nPos
          (decile, nDocs, nPos,
            proundD(nPos.toDouble / nDocs.toDouble, 9),
            proundD(nPos.toDouble / nDocs.toDouble
              / (pos.toDouble / n.toDouble), 9),
            proundD(cum.toDouble / pos.toDouble, 9))
        }
        .toDF("decile", "n_docs", "n_pos", "response_rate", "lift", "cum_gain")
        .orderBy(col("decile"))
    }, Some(
      """WITH f AS (SELECT doc_id, lang,
        |  least(CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) / 100.0, 1.0) AS f_tok,
        |  CASE WHEN len(regexp_extract_all(text, '\S+')) = 0 THEN 0.0
        |       ELSE CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|a|in|is|that|it|for)\b')) AS DOUBLE)
        |            / len(regexp_extract_all(text, '\S+')) END AS f_stop,
        |  CASE WHEN length(text) = 0 THEN 0.0
        |       ELSE CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / length(text) END AS f_alpha,
        |  CASE WHEN length(text) = 0 THEN 0.0
        |       ELSE CAST(length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) AS DOUBLE) / length(text) END AS f_punct
        |FROM documents),
        |z AS (SELECT doc_id,
        |        round(1.0 / (1.0 + exp(-(f_tok * 1.2 + f_stop * 2.0
        |          + f_alpha * 1.5 + f_punct * (-3.0) + (-1.0)))), 9) AS p,
        |        CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        |      FROM f),
        |rk AS (SELECT p, y,
        |         row_number() OVER (ORDER BY p DESC, doc_id) - 1 AS rid
        |       FROM z),
        |nt AS (SELECT COUNT(*) AS n, SUM(y) AS pos FROM z),
        |dec AS (SELECT (rid * 10) // nt.n AS decile, COUNT(*) AS n_docs,
        |          SUM(y) AS n_pos, MAX(nt.n) AS n, MAX(nt.pos) AS pos
        |        FROM rk CROSS JOIN nt GROUP BY 1),
        |cum AS (SELECT *, SUM(n_pos) OVER (ORDER BY decile
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pos
        |        FROM dec)
        |SELECT CAST(decile AS INT) AS decile, CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(n_pos AS BIGINT) AS n_pos,
        |  round(CAST(n_pos AS DOUBLE) / CAST(n_docs AS DOUBLE), 9)
        |    AS response_rate,
        |  round(CAST(n_pos AS DOUBLE) / CAST(n_docs AS DOUBLE)
        |    / (CAST(pos AS DOUBLE) / CAST(n AS DOUBLE)), 9) AS lift,
        |  round(CAST(cum_pos AS DOUBLE) / CAST(pos AS DOUBLE), 9) AS cum_gain
        |FROM cum ORDER BY decile""".stripMargin)),
  )
}

package graft
package catalog

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Dedup, Graph}

import Parity._

/** Graph queries over the session co-visitation graph and the text graph:
  * PageRank, triangles, clustering coefficient, k-core, assortativity, link
  * prediction, label propagation and centrality. */
object GraphQueries {

  /** Per-session SORTED DISTINCT page sets of the 30-min-gap
    * sessionization — one row per (user_id, sid) with
    * `pgs = array_sort(collect_set(page))` — the blocking frame shared
    * by the whole co-visitation family (q148/q162/q183/q203–q206/q208/
    * q228). Per-user windows only, never global; nulls drop from the
    * set exactly as they dropped from the former self-join's
    * `page_a < page_b` predicate.
    *
    * r19 optimization (guide §2.4, remove shuffles outright): the old
    * shape was a distinct (user_id, sid, page) frame self-joined on
    * (user_id, sid) — 4 exchanges before the pair frame exists
    * (window, distinct, join re-shuffle, pair agg). Here the set-build
    * groupBy keys on (user_id, sid), a SUPERSET of the window's
    * user_id hash partitioning, so it adds NO exchange after the
    * window pass, and pairs explode in-row ([[sessionPagePairs]]) —
    * 2 exchanges total to the pair aggregation. Session page sets are
    * gap-bounded (the same Σ|session|² argument the join form relied
    * on), so the in-row set is bounded at any corpus size. */
  private[graft] def sessionPageSets(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("page"))
      .withColumn("gap", (unix_timestamp(col("ts")) -
        unix_timestamp(lag(col("ts"), 1).over(w))) >= 1800)
      .withColumn("brk", when(col("gap").isNull || !col("gap"), 0L).otherwise(1L))
      .withColumn("sid", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sid"))
      .agg(array_sort(collect_set(col("page"))).as("pgs"))
  }

  /** All unordered within-session page pairs (page_a < page_b), one row
    * per (session, pair) — the EXACT row multiset of the former
    * sessionPages self-join on (user_id, sid) filtered to
    * page_a < page_b, produced map-side from [[sessionPageSets]] by the
    * q157 bounded in-row pair transform: `pgs` is sorted ascending, so
    * (pgs[i], pgs[j]) with i < j enumerates each unordered pair once
    * with page_a < page_b by construction. */
  private[graft] def sessionPagePairs(sets: DataFrame): DataFrame =
    sets.select(explode(flatten(transform(col("pgs"), (a, i) =>
        transform(slice(col("pgs"), i + lit(2), size(col("pgs"))), b =>
          struct(a.as("a"), b.as("b")))))).as("p"))
      .select(col("p.a").as("page_a"), col("p.b").as("page_b"))

  /** DuckDB twin of [[sessionPageSets]]'s row source — ends with CTE `d` (distinct
    * (user_id, sid, page)); shared by the q148 and q162 oracles. */
  private lazy val sessionPagesCte: String =
    s"""$evCte,
       |pg AS (SELECT user_id, ts, event_id,
       |         CAST(json_extract_string(props, '$$.k') AS BIGINT) AS page,
       |         CAST(epoch_us(ts) // 1000000 AS BIGINT) AS sec FROM ev),
       |l AS (SELECT user_id, ts, event_id, page,
       |        CASE WHEN sec - lag(sec) OVER (PARTITION BY user_id ORDER BY ts, event_id) >= 1800
       |             THEN 1 ELSE 0 END AS brk
       |      FROM pg),
       |sx AS (SELECT user_id, page,
       |         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
       |       FROM l),
       |d AS (SELECT DISTINCT user_id, sid, page FROM sx)""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q112_pagerank", (s, dir) => {
      // weighted PageRank (3 damped rounds) over the page-transition
      // graph: nodes = props.k pages, edges = consecutive visits per
      // user with multi-edge counts as weights. Each round is one
      // ranks⋈edges shuffle + one exact-decimal contribution agg,
      // lineage-truncated (the CC discipline) — rounds are a fixed
      // constant, never O(diameter).
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val pages = Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("page"))
      val edges = pages
        .select(col("user_id"), col("page").as("src"),
          lead(col("page"), 1).over(w).as("dst"))
        .filter(col("dst").isNotNull)
        .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
      Graph.pageRank(edges, iters = 3, damping = 0.85)
    }, Some(
      s"""$evCte,
         |pg AS (SELECT user_id, ts, event_id,
         |         CAST(json_extract_string(props, '$$.k') AS BIGINT) AS page FROM ev),
         |tr AS (SELECT user_id, page AS src,
         |         lead(page, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst FROM pg),
         |e AS (SELECT src, dst, COUNT(*) AS w FROM tr WHERE dst IS NOT NULL GROUP BY src, dst),
         |wo AS (SELECT src, SUM(w) AS wout FROM e GROUP BY src),
         |f AS (SELECT e.src, e.dst, CAST(e.w AS DOUBLE) / CAST(wo.wout AS DOUBLE) AS frac
         |      FROM e JOIN wo USING (src)),
         |nodes AS (SELECT DISTINCT node FROM
         |            (SELECT src AS node FROM e UNION SELECT dst FROM e)),
         |nn AS (SELECT COUNT(*) AS n_nodes FROM nodes),
         |r0 AS (SELECT node, n_nodes, round(CAST(1.0 AS DOUBLE) / n_nodes, 9) AS rank
         |       FROM nodes, nn),
         |c1 AS (SELECT f.dst, SUM(CAST(r.rank * f.frac AS DECIMAL(27,12))) AS s
         |       FROM r0 r JOIN f ON r.node = f.src GROUP BY f.dst),
         |r1 AS (SELECT r.node, r.n_nodes,
         |         round((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / r.n_nodes
         |               + CAST(0.85 AS DOUBLE) * coalesce(CAST(c1.s AS DOUBLE), 0.0), 9) AS rank
         |       FROM r0 r LEFT JOIN c1 ON r.node = c1.dst),
         |c2 AS (SELECT f.dst, SUM(CAST(r.rank * f.frac AS DECIMAL(27,12))) AS s
         |       FROM r1 r JOIN f ON r.node = f.src GROUP BY f.dst),
         |r2 AS (SELECT r.node, r.n_nodes,
         |         round((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / r.n_nodes
         |               + CAST(0.85 AS DOUBLE) * coalesce(CAST(c2.s AS DOUBLE), 0.0), 9) AS rank
         |       FROM r1 r LEFT JOIN c2 ON r.node = c2.dst),
         |c3 AS (SELECT f.dst, SUM(CAST(r.rank * f.frac AS DECIMAL(27,12))) AS s
         |       FROM r2 r JOIN f ON r.node = f.src GROUP BY f.dst),
         |r3 AS (SELECT r.node, r.n_nodes,
         |         round((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / r.n_nodes
         |               + CAST(0.85 AS DOUBLE) * coalesce(CAST(c3.s AS DOUBLE), 0.0), 9) AS rank
         |       FROM r2 r LEFT JOIN c3 ON r.node = c3.dst)
         |SELECT node, rank FROM r3""".stripMargin)),

    QuerySpec("q148_covisitation", (s, dir) => {
      // session co-visitation matrix (the "users who viewed k also
      // viewed k'" statistic): gap-sessionize (30 min, the q19/q98
      // bucketed discipline applied per user), DISTINCT pages per
      // session, pairs within session via self-join on the session key
      // — blocking on session bounds the pair blow-up to
      // Σ |session|², never |corpus|². Top-30 pairs.
      sessionPagePairs(sessionPageSets(s, dir))
        .groupBy(col("page_a"), col("page_b")).agg(count(lit(1)).as("n_sessions"))
        .orderBy(desc("n_sessions"), col("page_a"), col("page_b"))
        .limit(30)
    }, Some(
      s"""$sessionPagesCte,
         |p AS (SELECT a.page AS page_a, b.page AS page_b, COUNT(*) AS n_sessions
         |      FROM d a JOIN d b ON a.user_id = b.user_id AND a.sid = b.sid AND a.page < b.page
         |      GROUP BY a.page, b.page)
         |SELECT page_a, page_b, CAST(n_sessions AS BIGINT) AS n_sessions FROM p
         |ORDER BY n_sessions DESC, page_a, page_b LIMIT 30""".stripMargin)),

    QuerySpec("q162_triangles", (s, dir) => {
      // triangle participation on the co-visitation graph (q148's
      // edges) — the density signal behind community detection and
      // related-content surfaces. Edges are session-blocked pairs
      // (bounded by Σ|session|², q148's argument) and ORIENTED
      // (DEGREE-ordered via Graph.orientByDegree — hubs never fan out,
      // so the wedge join's Σ indeg·outdeg candidate count stays
      // near-linear where an id order lets one mid-id hub pay
      // O(deg²)), so each triangle materializes exactly once through
      // two equi-joins + a semi-join closure check. Per-page counts
      // are orientation-invariant, so the oracle is unchanged.
      val edges = Dedup.cacheScoped(graft.operators.Graph.orientByDegree(
        sessionPagePairs(sessionPageSets(s, dir))
          .select(col("page_a").as("a"), col("page_b").as("b"))))
      val tri = edges.select(col("u").as("x"), col("v").as("y"))
        .join(edges.select(col("u").as("y"), col("v").as("z")), Seq("y"))
        .join(edges.select(col("u").as("x"), col("v").as("z")), Seq("x", "z"),
          "left_semi")
      tri.select(explode(array(col("x"), col("y"), col("z"))).as("page"))
        .groupBy(col("page")).agg(count(lit(1)).as("n_triangles"))
        .orderBy(desc("n_triangles"), col("page")).limit(10)
    }, Some(
      s"""$sessionPagesCte,
         |e AS (SELECT a.page AS u, b.page AS v
         |      FROM d a JOIN d b
         |        ON a.user_id = b.user_id AND a.sid = b.sid AND a.page < b.page
         |      GROUP BY 1, 2)
         |SELECT page, COUNT(*) AS n_triangles FROM (
         |  SELECT unnest([e1.u, e1.v, e2.v]) AS page
         |  FROM e e1 JOIN e e2 ON e1.v = e2.u
         |            JOIN e e3 ON e1.u = e3.u AND e2.v = e3.v)
         |GROUP BY page ORDER BY n_triangles DESC, page LIMIT 10""".stripMargin)),

    QuerySpec("q183_assoc_rules", (s, dir) => {
      // association rules over session co-visitation (market-basket
      // analysis, the "viewers also viewed" scorer; q86's PMI is the
      // log-scaled collocation cousin over word bigrams): support /
      // confidence / lift from the q148 session-blocked pair counts —
      // N, per-page session counts and pair counts are ONE distinct-
      // session frame plus two roll-ups; both rule directions reuse
      // the same undirected pair count (unioned, never recomputed).
      // Counts stay exact integers; ratios divide at the end.
      // r19: the session frame is the per-session page-SET form
      // (sessionPageSets) — n_sess = one row per set group (identical
      // to the old countDistinct(user_id, sid): a group exists exactly
      // where a distinct (user_id, sid) pair did), per-page session
      // counts explode the sets (each distinct page once per session,
      // the old distinct frame's row multiset), pairs explode in-row.
      val sess = Dedup.cacheScoped(sessionPageSets(s, dir))
      val n = sess.agg(count(lit(1)).as("n_sess"))
      val pageN = sess.select(explode(col("pgs")).as("page"))
        .groupBy(col("page")).agg(count(lit(1)).as("np"))
      val pairs = sessionPagePairs(sess)
        .select(col("page_a").as("pa"), col("page_b").as("pb"))
        .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("n_ab"))
      val both = pairs.select(col("pa").as("ante"), col("pb").as("cons"), col("n_ab"))
        .unionByName(pairs.select(col("pb").as("ante"), col("pa").as("cons"), col("n_ab")))
      both
        .join(broadcast(pageN.select(col("page").as("ante"), col("np").as("na"))), Seq("ante"))
        .join(broadcast(pageN.select(col("page").as("cons"), col("np").as("nb"))), Seq("cons"))
        .crossJoin(broadcast(n))
        .filter(col("n_ab") >= 10)
        .select(col("ante"), col("cons"), col("n_ab"),
          pround(col("n_ab").cast("double") / col("n_sess"), 9).as("support"),
          pround(col("n_ab").cast("double") / col("na"), 9).as("confidence"),
          pround((col("n_ab") * col("n_sess")).cast("double") / (col("na") * col("nb")), 9)
            .as("lift"))
        .orderBy(desc("lift"), col("ante"), col("cons")).limit(30)
    }, Some(
      s"""$sessionPagesCte,
         |n AS (SELECT COUNT(*) AS n_sess FROM (SELECT DISTINCT user_id, sid FROM d)),
         |pn AS (SELECT page, COUNT(*) AS np FROM d GROUP BY page),
         |pr AS (SELECT a.page AS pa, b.page AS pb, COUNT(*) AS nab
         |       FROM d a JOIN d b ON a.user_id = b.user_id AND a.sid = b.sid AND a.page < b.page
         |       GROUP BY 1, 2),
         |bo AS (SELECT pa AS ante, pb AS cons, nab FROM pr
         |       UNION ALL SELECT pb, pa, nab FROM pr),
         |j AS (SELECT ante, cons, nab, na.np AS na, nb.np AS nb, n_sess
         |      FROM bo JOIN pn na ON na.page = ante JOIN pn nb ON nb.page = cons, n
         |      WHERE nab >= 10)
         |SELECT ante, cons, CAST(nab AS BIGINT) AS n_ab,
         |  round(CAST(nab AS DOUBLE) / n_sess, 9) AS support,
         |  round(CAST(nab AS DOUBLE) / na, 9) AS confidence,
         |  round(CAST(nab * n_sess AS DOUBLE) / (na * nb), 9) AS lift
         |FROM j ORDER BY lift DESC, ante, cons LIMIT 30""".stripMargin)),

    QuerySpec("q203_clustering_coeff", (s, dir) => {
      // local clustering coefficient on the co-visitation graph —
      // 2·tri(v) / (deg(v)·(deg(v)−1)), the community-density signal
      // q162's raw triangle counts feed: a page in one tight community
      // scores 1.0 at any degree, a hub bridging many communities
      // scores near 0. Same degree-oriented wedge join as q162
      // (per-node counts are orientation-invariant), degrees from the
      // undirected edge set, coefficient as pure IEEE arithmetic on
      // the two exact longs with one final floor-round.
      val und = Dedup.cacheScoped(sessionPagePairs(sessionPageSets(s, dir))
        .select(col("page_a").as("a"), col("page_b").as("b"))
        .distinct())
      val deg = und.select(explode(array(col("a"), col("b"))).as("page"))
        .groupBy(col("page")).agg(count(lit(1)).as("degree"))
      val edges = Dedup.cacheScoped(graft.operators.Graph.orientByDegree(und))
      val tri = edges.select(col("u").as("x"), col("v").as("y"))
        .join(edges.select(col("u").as("y"), col("v").as("z")), Seq("y"))
        .join(edges.select(col("u").as("x"), col("v").as("z")), Seq("x", "z"),
          "left_semi")
        .select(explode(array(col("x"), col("y"), col("z"))).as("page"))
        .groupBy(col("page")).agg(count(lit(1)).as("n_triangles"))
      deg.filter(col("degree") >= 2)
        .join(tri, Seq("page"), "left")
        .select(col("page"), col("degree"),
          coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
          (floor(lit(2.0) * coalesce(col("n_triangles"), lit(0L))
            / (col("degree") * (col("degree") - 1)) * 1e9 + 0.5) / 1e9).as("coeff"))
        .orderBy(desc("coeff"), col("page")).limit(10)
    }, Some(
      s"""$sessionPagesCte,
         |e AS (SELECT a.page AS u, b.page AS v
         |      FROM d a JOIN d b
         |        ON a.user_id = b.user_id AND a.sid = b.sid AND a.page < b.page
         |      GROUP BY 1, 2),
         |deg AS (SELECT page, COUNT(*) AS degree FROM (
         |          SELECT u AS page FROM e UNION ALL SELECT v FROM e)
         |        GROUP BY page),
         |tri AS (SELECT page, COUNT(*) AS n_triangles FROM (
         |          SELECT unnest([e1.u, e1.v, e2.v]) AS page
         |          FROM e e1 JOIN e e2 ON e1.v = e2.u
         |                    JOIN e e3 ON e1.u = e3.u AND e2.v = e3.v)
         |        GROUP BY page)
         |SELECT deg.page, deg.degree,
         |  COALESCE(tri.n_triangles, 0) AS n_triangles,
         |  FLOOR(2.0 * COALESCE(tri.n_triangles, 0)
         |        / (deg.degree * (deg.degree - 1)) * 1e9 + 0.5) / 1e9 AS coeff
         |FROM deg LEFT JOIN tri USING (page)
         |WHERE deg.degree >= 2
         |ORDER BY coeff DESC, deg.page LIMIT 10""".stripMargin)),

    QuerySpec("q204_kcore", (s, dir) => {
      // 3-core of the co-visitation graph — the dense-community
      // pre-filter (peel the low-degree fringe BEFORE paying for
      // community detection / q203's coefficients on nodes that can't
      // be in one). Iterative peel with cascading removals runs to a
      // fixpoint (Graph.kCore: per-round degree agg + two semi-joins,
      // checkpoint lineage truncation, observed edge-count telemetry,
      // loud maxIter failure). The oracle unrolls 12 peel rounds —
      // rounds past the fixpoint are no-ops, so any convergence in
      // ≤ 12 rounds hash-matches exactly; a deeper cascade would
      // MISMATCH loudly rather than silently truncate.
      // r19: the pair frame goes to kCore undeduplicated — kCore's own
      // symmetrize+distinct subsumes the former .distinct() exchange
      val und = sessionPagePairs(sessionPageSets(s, dir))
        .select(col("page_a").as("a"), col("page_b").as("b"))
      val (core, _) = graft.operators.Graph.kCore(und, k = 3)
      core.orderBy(col("page"))
    }, Some {
      // 12 unrolled peel rounds: each keeps nodes with degree >= 3 and
      // the edges between them; rounds past the fixpoint are no-ops.
      // MATERIALIZED is load-bearing: each round references the
      // previous frame three times, and DuckDB's default CTE inlining
      // would re-expand the chain ~3^12 times (observed as a
      // too-many-open-files explosion on the base parquet).
      val rounds = (1 to 12).map { i =>
        s"""n$i AS MATERIALIZED (SELECT src AS node FROM e${i - 1} GROUP BY src HAVING COUNT(*) >= 3),
           |e$i AS MATERIALIZED (SELECT e.src, e.dst FROM e${i - 1} e
           |        JOIN n$i a ON e.src = a.node JOIN n$i b ON e.dst = b.node)""".stripMargin
      }.mkString(",\n")
      s"""$sessionPagesCte,
         |eu AS MATERIALIZED (SELECT a.page AS u, b.page AS v
         |       FROM d a JOIN d b
         |         ON a.user_id = b.user_id AND a.sid = b.sid AND a.page < b.page
         |       GROUP BY 1, 2),
         |e0 AS MATERIALIZED (SELECT u AS src, v AS dst FROM eu UNION SELECT v, u FROM eu),
         |$rounds
         |SELECT src AS page, COUNT(*) AS core_degree FROM e12
         |GROUP BY src ORDER BY page""".stripMargin
    }),

    QuerySpec("q205_assortativity", (s, dir) => {
      // degree assortativity (Newman r) of the co-visitation graph —
      // do popular pages co-occur with popular pages? The one-number
      // mixing diagnostic community pipelines check before trusting
      // degree-based cuts. Pearson r of (deg(src), deg(dst)) over the
      // SYMMETRIZED edge list: two equi-joins onto the degree frame,
      // q103's closed form on exact DECIMAL(38,0) sums of integer
      // degrees (long products would overflow at web scale), floor-
      // round once.
      val und = sessionPagePairs(sessionPageSets(s, dir))
        .select(col("page_a").as("u"), col("page_b").as("v"))
        .distinct()
      val sym = Dedup.cacheScoped(und.select(col("u").as("src"), col("v").as("dst"))
        .union(und.select(col("v").as("src"), col("u").as("dst"))))
      val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("d"))
      val D = DecimalType(38, 0)
      def esum(c: Column) = sum(c.cast(D)).cast("double")
      val e = sym
        .join(deg.select(col("src"), col("d").as("dx")), Seq("src"))
        .join(deg.select(col("src").as("dst"), col("d").as("dy")), Seq("dst"))
      val st = e.agg(count(lit(1)).as("m"),
        esum(col("dx")).as("sx"), esum(col("dy")).as("sy"),
        esum(col("dx") * col("dy")).as("sxy"),
        esum(col("dx") * col("dx")).as("sxx"),
        esum(col("dy") * col("dy")).as("syy"))
      val md = col("m").cast("double")
      val r = (md * col("sxy") - col("sx") * col("sy")) /
        sqrt((md * col("sxx") - col("sx") * col("sx")) *
          (md * col("syy") - col("sy") * col("sy")))
      st.select(col("m").as("n_directed_edges"),
        (floor(r * 1e9 + 0.5) / 1e9).as("assortativity"))
    }, Some(
      s"""$sessionPagesCte,
         |eu AS MATERIALIZED (SELECT a.page AS u, b.page AS v
         |       FROM d a JOIN d b
         |         ON a.user_id = b.user_id AND a.sid = b.sid AND a.page < b.page
         |       GROUP BY 1, 2),
         |sym AS MATERIALIZED (SELECT u AS src, v AS dst FROM eu UNION ALL SELECT v, u FROM eu),
         |deg AS MATERIALIZED (SELECT src, COUNT(*) AS dg FROM sym GROUP BY src),
         |e AS (SELECT x.dg AS dx, y.dg AS dy FROM sym
         |      JOIN deg x ON sym.src = x.src JOIN deg y ON sym.dst = y.src),
         |st AS (SELECT COUNT(*) AS m,
         |         CAST(SUM(CAST(dx AS DECIMAL(38,0))) AS DOUBLE) AS sx,
         |         CAST(SUM(CAST(dy AS DECIMAL(38,0))) AS DOUBLE) AS sy,
         |         CAST(SUM(CAST(dx * dy AS DECIMAL(38,0))) AS DOUBLE) AS sxy,
         |         CAST(SUM(CAST(dx * dx AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
         |         CAST(SUM(CAST(dy * dy AS DECIMAL(38,0))) AS DOUBLE) AS syy
         |       FROM e)
         |SELECT m AS n_directed_edges,
         |  FLOOR((m * sxy - sx * sy)
         |        / SQRT((m * sxx - sx * sx) * (m * syy - sy * sy)) * 1e9 + 0.5) / 1e9
         |    AS assortativity
         |FROM st""".stripMargin)),

    QuerySpec("q206_adamic_adar", (s, dir) => {
      // Adamic–Adar link prediction on the co-visitation graph: for
      // NON-adjacent page pairs, Σ over common neighbors w of
      // 1/ln(deg(w)) — the related-content score that discounts hub
      // co-neighbors. Delegates to Graph.adamicAdar: HUB-CAPPED wedge
      // join (each node wedges through its 64 id-smallest neighbors;
      // candidates bounded by E·64 instead of Σdeg² — the web-scale
      // mitigation this query's r9 scaladoc prescribed but didn't
      // implement), true degrees in the discount, existing edges
      // removed by an anti-join, per-term scores floor-rounded to 9
      // then summed as exact DECIMAL(27,9). The oracle implements the
      // identical deterministic cap.
      val und = sessionPagePairs(sessionPageSets(s, dir))
        .select(col("page_a").as("u"), col("page_b").as("v"))
        .distinct()
      graft.operators.Graph.adamicAdar(und, capK = 64, topN = 10)
    }, Some(
      s"""$sessionPagesCte,
         |eu AS MATERIALIZED (SELECT a.page AS u, b.page AS v
         |       FROM d a JOIN d b
         |         ON a.user_id = b.user_id AND a.sid = b.sid AND a.page < b.page
         |       GROUP BY 1, 2),
         |sym AS MATERIALIZED (SELECT u AS src, v AS dst FROM eu UNION ALL SELECT v, u FROM eu),
         |deg AS MATERIALIZED (SELECT src, COUNT(*) AS dg FROM sym GROUP BY src),
         |cap AS MATERIALIZED (SELECT src, dst FROM (
         |        SELECT src, dst,
         |          row_number() OVER (PARTITION BY src ORDER BY dst) AS rn
         |        FROM sym) WHERE rn <= 64),
         |w AS (SELECT w1.src AS w, w1.dst AS u, w2.dst AS v
         |      FROM cap w1 JOIN cap w2 ON w1.src = w2.src
         |      WHERE w1.dst < w2.dst),
         |sc AS (SELECT u, v,
         |         CAST(FLOOR(1.0 / LN(deg.dg) * 1e9 + 0.5) / 1e9 AS DECIMAL(27,9)) AS t
         |       FROM w JOIN deg ON w.w = deg.src),
         |p AS (SELECT u, v, CAST(SUM(t) AS DOUBLE) AS aa_score,
         |        COUNT(*) AS common_neighbors
         |      FROM sc GROUP BY 1, 2),
         |np AS (SELECT p.* FROM p LEFT JOIN eu ON p.u = eu.u AND p.v = eu.v
         |       WHERE eu.u IS NULL)
         |SELECT u, v, aa_score, common_neighbors FROM np
         |ORDER BY aa_score DESC, u, v LIMIT 10""".stripMargin)),

    QuerySpec("q208_label_prop", (s, dir) => {
      // synchronous label-propagation communities, 3 FIXED rounds —
      // the cheap community detector LPA (Raghavan et al.): each round
      // every node adopts its neighbors' most frequent label. LPA is
      // notoriously nondeterministic in async formulations; this one
      // is engine-exact by construction: synchronous rounds, fixed
      // count (the q112/q143 unrolled-iteration discipline — CC/q204
      // run to fixpoints because their results are order-invariant;
      // LPA's isn't, so the round count IS part of the definition),
      // ties broken (max count, then MIN label) via one struct-max
      // partial agg — no per-node window. Per round: one edges⋈labels
      // equi-join + two partial aggs.
      val und = sessionPagePairs(sessionPageSets(s, dir))
        .select(col("page_a").as("u"), col("page_b").as("v"))
        .distinct()
      val sym = Dedup.cacheScoped(und
        .union(und.select(col("v"), col("u"))).toDF("src", "dst"))
      var labels = sym.select(col("src").as("node")).distinct()
        .withColumn("lbl", col("node"))
      for (_ <- 1 to 3) {
        val msgs = sym
          .join(labels.select(col("node").as("src"), col("lbl")), Seq("src"))
          .groupBy(col("dst").as("node"), col("lbl"))
          .agg(count(lit(1)).as("cnt"))
        labels = msgs.groupBy(col("node"))
          .agg(max(struct(col("cnt"), (-col("lbl")).as("nl"))).as("m"))
          .select(col("node"), (-col("m.nl")).as("lbl"))
      }
      labels.select(col("node").as("page"), col("lbl").as("community"))
        .orderBy(col("page"))
    }, Some {
      // 3 unrolled synchronous LPA rounds; per round the most frequent
      // neighbor label wins, ties to the smaller label (row_number)
      val rounds = (1 to 3).map { i =>
        s"""c$i AS MATERIALIZED (SELECT sym.dst AS node, l.lbl, COUNT(*) AS cnt
           |      FROM sym JOIN l${i - 1} l ON sym.src = l.node GROUP BY 1, 2),
           |l$i AS MATERIALIZED (SELECT node, lbl FROM (
           |        SELECT node, lbl,
           |          row_number() OVER (PARTITION BY node ORDER BY cnt DESC, lbl) AS rn
           |        FROM c$i) WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      s"""$sessionPagesCte,
         |eu AS MATERIALIZED (SELECT a.page AS u, b.page AS v
         |       FROM d a JOIN d b
         |         ON a.user_id = b.user_id AND a.sid = b.sid AND a.page < b.page
         |       GROUP BY 1, 2),
         |sym AS MATERIALIZED (SELECT u AS src, v AS dst FROM eu UNION ALL SELECT v, u FROM eu),
         |l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS lbl FROM sym),
         |$rounds
         |SELECT node AS page, lbl AS community FROM l3 ORDER BY page""".stripMargin
    }),

    QuerySpec("q209_textrank", (s, dir) => {
      // TextRank keyword extraction (Mihalcea & Tarau): PageRank on the
      // word co-occurrence graph — adjacent-word edges, symmetric,
      // weighted by co-occurrence count — surfaces the corpus's
      // central vocabulary the way raw frequency (q13-style top-k)
      // can't: a word ranks high for co-occurring with OTHER central
      // words. Composition: one tokenize pass → lead() adjacency →
      // (a,b) weight agg → Graph.pageRank (q112's engine-exact
      // decimal-contribution iteration, 3 damped rounds) → top-20.
      // String keys route pageRank to its distributed tier — the
      // 100 TB path exercised on an oracle-matched query.
      val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val adj = Tables.documents(s, dir)
        .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
        .filter(length(col("word")) > 0)
        .select(col("doc_id"), col("word").as("u"),
          lead(col("word"), 1).over(w).as("v"))
        .filter(col("v").isNotNull && col("u") =!= col("v"))
      val und = adj
        .select(least(col("u"), col("v")).as("a"), greatest(col("u"), col("v")).as("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("w"))
      val edges = und.select(col("a").as("src"), col("b").as("dst"), col("w"))
        .union(und.select(col("b").as("src"), col("a").as("dst"), col("w")))
      graft.operators.Graph.pageRank(edges, iters = 3)
        .orderBy(desc("rank"), col("node")).limit(20)
        .select(col("node").as("word"), col("rank"))
    }, Some {
      // q112's unrolled damped-decimal iteration on the word graph
      val iters = (1 to 3).map { i =>
        s"""c$i AS (SELECT f.dst, SUM(CAST(r.rank * f.frac AS DECIMAL(27,12))) AS s
           |       FROM r${i - 1} r JOIN f ON r.node = f.src GROUP BY f.dst),
           |r$i AS MATERIALIZED (SELECT r.node, r.n_nodes,
           |         round((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / r.n_nodes
           |               + CAST(0.85 AS DOUBLE) * coalesce(CAST(c$i.s AS DOUBLE), 0.0), 9) AS rank
           |       FROM r${i - 1} r LEFT JOIN c$i ON r.node = c$i.dst)""".stripMargin
      }.mkString(",\n")
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |tok AS (SELECT doc_id, CAST(g.i AS BIGINT) AS pos, ws[g.i] AS word
         |        FROM t, LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i) g
         |        WHERE length(ws[g.i]) > 0),
         |adj AS (SELECT word AS u,
         |          lead(word, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS v
         |        FROM tok),
         |und AS (SELECT least(u, v) AS a, greatest(u, v) AS b, COUNT(*) AS w
         |        FROM adj WHERE v IS NOT NULL AND u <> v GROUP BY 1, 2),
         |e AS MATERIALIZED (SELECT a AS src, b AS dst, w FROM und
         |     UNION ALL SELECT b, a, w FROM und),
         |wo AS (SELECT src, SUM(w) AS wout FROM e GROUP BY src),
         |f AS MATERIALIZED (SELECT e.src, e.dst,
         |       CAST(e.w AS DOUBLE) / CAST(wo.wout AS DOUBLE) AS frac
         |     FROM e JOIN wo USING (src)),
         |nodes AS (SELECT DISTINCT node FROM
         |            (SELECT src AS node FROM e UNION SELECT dst FROM e)),
         |nn AS (SELECT COUNT(*) AS n_nodes FROM nodes),
         |r0 AS MATERIALIZED (SELECT node, n_nodes,
         |       round(CAST(1.0 AS DOUBLE) / n_nodes, 9) AS rank FROM nodes, nn),
         |$iters
         |SELECT node AS word, rank FROM r3 ORDER BY rank DESC, node LIMIT 20""".stripMargin
    }),

    QuerySpec("q228_harmonic_centrality", (s, dir) => {
      // 3-hop harmonic centrality on the co-visitation page graph
      // [EXT]: Σ over v reachable in d(u,v) ≤ 3 of 1/d — the
      // closeness-family complement to q112's PageRank (authority ≠
      // proximity). Delegates to Graph.harmonicCentrality3 (round-14):
      // ring-subtraction BFS, all equi/anti joins — with the q206-style
      // HUB-CAP TIER for skewed graphs (Σ deg² over `exactWedgeCap`
      // routes expansion through each node's 64 id-smallest neighbors,
      // bounding ring candidates by E·64 instead of Σ deg³). Test-scale
      // graphs stay under the guard, so this query runs the EXACT tier
      // and the oracle is the textbook computation; the capped tier is
      // pinned by the planted-hub spec; the tier taken is surfaced
      // (Graph.lastHarmonicTier, r15) — a capped run is a documented
      // lower bound, so the oracle comparison is only meaningful when
      // the tier is "exact". Harmonic = n1 + n2/2 + n3/3: exact
      // integer counts, two IEEE divisions, engine-identical.
      val und = sessionPagePairs(sessionPageSets(s, dir))
        .select(col("page_a").as("u"), col("page_b").as("v"))
        .distinct()
      graft.operators.Graph.harmonicCentrality3(und, hubCap = 64, topN = 20)
    }, Some {
      s"""$sessionPagesCte,
         |eu AS MATERIALIZED (SELECT a.page AS u, b.page AS v
         |       FROM d a JOIN d b
         |         ON a.user_id = b.user_id AND a.sid = b.sid AND a.page < b.page
         |       GROUP BY 1, 2),
         |r1 AS MATERIALIZED (SELECT u AS src, v AS dst FROM eu UNION ALL SELECT v, u FROM eu),
         |p2 AS (SELECT DISTINCT a.src, b.dst FROM r1 a JOIN r1 b ON a.dst = b.src
         |       WHERE a.src <> b.dst),
         |r2 AS MATERIALIZED (SELECT p2.src, p2.dst FROM p2
         |       LEFT JOIN r1 ON r1.src = p2.src AND r1.dst = p2.dst
         |       WHERE r1.src IS NULL),
         |p3 AS (SELECT DISTINCT a.src, b.dst FROM r2 a JOIN r1 b ON a.dst = b.src
         |       WHERE a.src <> b.dst),
         |r3 AS (SELECT p3.src, p3.dst FROM p3
         |       LEFT JOIN r1 ON r1.src = p3.src AND r1.dst = p3.dst
         |       LEFT JOIN r2 ON r2.src = p3.src AND r2.dst = p3.dst
         |       WHERE r1.src IS NULL AND r2.src IS NULL),
         |n1 AS (SELECT src, COUNT(*) AS n1 FROM r1 GROUP BY 1),
         |n2 AS (SELECT src, COUNT(*) AS n2 FROM r2 GROUP BY 1),
         |n3 AS (SELECT src, COUNT(*) AS n3 FROM r3 GROUP BY 1)
         |SELECT n1.src AS page,
         |  round(n1.n1 + COALESCE(n2.n2, 0) / 2.0 + COALESCE(n3.n3, 0) / 3.0, 9) AS harmonic
         |FROM n1 LEFT JOIN n2 ON n1.src = n2.src LEFT JOIN n3 ON n1.src = n3.src
         |ORDER BY harmonic DESC, page LIMIT 20""".stripMargin
    }),
  )
}

package graft.operators

import java.math.RoundingMode

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType, StructField, StructType}

/** Graph centrality over edge frames — the link-analysis primitive of
  * corpus pipelines (page authority as a quality prior, à la the original
  * Common-Crawl PageRank filters). [EXT] — the reference has no graph
  * surface; this extends the dedup family's iterative-join discipline
  * ([[Dedup.connectedComponents]]) to value propagation, including its
  * two-tier shape: broadcast-sized graphs iterate on the driver (an
  * iterative DataFrame loop there pays per-round job scheduling for
  * nothing), larger graphs run the distributed join loop.
  *
  * Scale shape (100 TB): ranks and edges are both corpus-sized frames —
  * each distributed iteration is one shuffle-join of ranks onto edges
  * keyed by `src` plus one partial+final agg keyed by `dst`. Edge weight
  * fractions are precomputed ONCE and cached (the per-iteration join
  * rides that same partitioning), ranks are lineage-truncated per round
  * (localCheckpoint, the CC discipline), and the iteration count is a
  * fixed small constant — there is no O(diameter) dependence.
  *
  * Engine-parity discipline: the per-node contribution sum is a float
  * reduction whose order Spark's partial aggregation does not fix — each
  * contribution is cast to DECIMAL(27,12) (deterministic per-value
  * rounding) and summed EXACTLY, then the damped update is rounded to 9
  * (q82/q91 discipline), so every iteration's ranks are bit-identical in
  * any engine computing the same formula — including the driver tier,
  * which replicates the exact cast/round semantics with BigDecimal.
  */
object Graph {

  /** Degree-ordered orientation of an undirected edge set `(a, b)` —
    * returns each edge exactly once as `(u, v)` pointing from the
    * LOWER-degree endpoint to the higher (ties by id), the standard
    * triangle-enumeration refinement: any total order makes each
    * triangle materialize exactly once through the wedge join, but
    * ordering by degree bounds every node's OUT-degree by O(√E)
    * (arboricity), so the wedge candidate count Σ indeg·outdeg stays
    * near-linear where an id order lets one mid-id hub pay O(deg²).
    * Input may carry each undirected edge in either or both directions;
    * output is distinct. Degrees are computed from the deduplicated
    * undirected set, joined back per endpoint (plain equi-joins — AQE
    * broadcasts the degree frame when the vertex set is small). */
  def orientByDegree(und: DataFrame): DataFrame = {
    val e = und.select(
      least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val deg = e.select(explode(array(col("a"), col("b"))).as("p"))
      .groupBy(col("p")).agg(count(lit(1)).as("d"))
    val aFirst = (col("da") < col("db")) ||
      ((col("da") === col("db")) && (col("a") < col("b")))
    e.join(deg.select(col("p").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("p").as("b"), col("d").as("db")), Seq("b"))
      .select(when(aFirst, col("a")).otherwise(col("b")).as("u"),
        when(aFirst, col("b")).otherwise(col("a")).as("v"))
  }

  /** Adamic–Adar link prediction over an undirected edge set `(u, v)`
    * (each edge once, u < v, distinct): for non-adjacent pairs, the
    * top-`topN` by Σ over common neighbors w of 1/ln(deg(w)).
    *
    * The wedge join is HUB-CAPPED: each node contributes at most
    * `capK` neighbors (deterministically the `capK` smallest by id) to
    * wedge enumeration, bounding candidates by Σ min(deg, K)² ≤ E·K
    * instead of Σ deg² — the standard web-scale mitigation (one
    * celebrity hub otherwise pays deg² ≈ 10¹² wedges alone). Degrees
    * in the 1/ln(deg) discount are TRUE degrees (computed before the
    * cap), so the score of surviving wedges is uncapped-exact; what
    * the cap drops is wedges through a hub beyond its first `capK`
    * neighbors — exactly the terms a hub's 1/ln(deg) already discounts
    * toward zero. The cap is part of the operator's definition and the
    * oracle implements the identical rank (row_number by neighbor id).
    *
    * Per-term scores floor-rounded to 9 then summed as exact
    * DECIMAL(27,9) so the float reduction order can't split engines. */
  def adamicAdar(und0: DataFrame, capK: Int = 64, topN: Int = 10): DataFrame = {
    val und = Dedup.cacheScoped(und0.select(col("u"), col("v")))
    val sym = und.union(und.select(col("v"), col("u"))).toDF("src", "dst")
    // per-node neighbor cap: bounded-frame window per src (frame size
    // ≤ deg; only rank ≤ capK survive — the skew a hub row group pays
    // is one sort of its adjacency, not a deg² join blow-up).
    // r19: degrees read off the SAME src-partitioned windowed frame
    // (count per src group needs no new exchange there), where the old
    // separate deg agg re-shuffled the symmetrized edge list a second
    // time — one exchange of sym instead of two; degree values are the
    // same true (uncapped) per-src row counts.
    val ranked = Dedup.cacheScoped(sym
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("src")).orderBy(col("dst")))))
    val deg = ranked.groupBy(col("src")).agg(count(lit(1)).as("d"))
    val capped = ranked
      .filter(col("rn") <= capK).select(col("src"), col("dst"))
    val wedges = capped.select(col("src").as("w"), col("dst").as("u"))
      .join(capped.select(col("src").as("w"), col("dst").as("v")), Seq("w"))
      .filter(col("u") < col("v"))
    wedges
      .join(deg.select(col("src").as("w"), col("d")), Seq("w"))
      .select(col("u"), col("v"),
        (floor(lit(1.0) / log(col("d")) * 1e9 + 0.5) / 1e9)
          .cast(DecimalType(27, 9)).as("t"))
      .groupBy(col("u"), col("v"))
      .agg(sum(col("t")).cast("double").as("aa_score"),
        count(lit(1)).as("common_neighbors"))
      .join(und, Seq("u", "v"), "left_anti")
      .orderBy(desc("aa_score"), col("u"), col("v")).limit(topN)
  }

  /** 3-hop harmonic centrality (Σ over v with d(u,v) ≤ 3 of 1/d) over
    * an undirected edge set `(u, v)` (each edge once, u < v, distinct),
    * top-`topN` by score. Exact-distance BFS by ring subtraction —
    * ring 2 = (ring1 ⋈ hop) − ring1 − self, ring 3 = (ring2 ⋈ hop) −
    * closer rings — all equi/anti joins on the node key.
    *
    * TWO TIERS, [[graft.operators.Dedup.connectedComponents]]-style:
    * the ring-2 candidate count is Σ deg² (each node fans its in-edges
    * across its full adjacency), so one celebrity hub makes the exact
    * walk intractable at web scale (deg² ≈ 10¹² candidates alone, deg³
    * by ring 3). While the measured Σ deg² stays within
    * `exactWedgeCap`, expansion uses the FULL adjacency — results are
    * textbook-exact (the tier every test-scale run takes). Past the
    * cap, expansion routes through a HUB-CAPPED hop list (each node's
    * `hubCap` id-smallest neighbors, the q206/adamicAdar rank), which
    * bounds candidates by Σ min(deg,K)·deg ≤ E·K per ring; ring-1
    * counts stay true degrees, rings 2/3 become a deterministic
    * lower-bound traversal — the standard k-hop mitigation. The tier
    * guard is ONE scalar agg (bounded collect) whose job doubles as
    * the materialization of the shared edge/degree caches every later
    * ring reuses, so its marginal cost is the scheduling round-trip.
    *
    * The chosen tier is SURFACED ([[lastHarmonicTier]]) — a capped-tier
    * run is a deterministic lower bound, NOT exact, so any
    * exact-formula oracle comparison (q228) is only valid when the
    * exact tier ran; a silent switch at scale would otherwise read as
    * a correctness failure with no signal. */
  def harmonicCentrality3(und0: DataFrame, hubCap: Int = 64,
      exactWedgeCap: Long = 50000000L, topN: Int = 20): DataFrame = {
    val und = Dedup.cacheScoped(und0.select(col("u"), col("v")))
    val r1 = Dedup.cacheScoped(
      und.union(und.select(col("v"), col("u"))).toDF("src", "dst"))
    // the degree frame serves BOTH the tier guard and the final n1
    // counts — one agg over the cached edge set, not two
    val deg = Dedup.cacheScoped(
      r1.groupBy(col("src")).agg(count(lit(1)).as("n1")))
    val sumDeg2 = deg
      .agg(coalesce(sum(col("n1") * col("n1")), lit(0L)).as("s"))
      .collect()(0).getLong(0)
    lastHarmonicTier = if (sumDeg2 <= exactWedgeCap) "exact" else "capped"
    val hop =
      if (sumDeg2 <= exactWedgeCap) r1.select(col("src").as("m"), col("dst"))
      else Dedup.cacheScoped(r1
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("src")).orderBy(col("dst"))))
        .filter(col("rn") <= hubCap)
        .select(col("src").as("m"), col("dst")))
    val r2 = Dedup.cacheScoped(
      r1.select(col("src"), col("dst").as("m")).join(hop, Seq("m"))
        .select(col("src"), col("dst")).distinct()
        .filter(col("src") =!= col("dst"))
        .join(r1, Seq("src", "dst"), "left_anti"))
    val r3 = r2.select(col("src"), col("dst").as("m")).join(hop, Seq("m"))
      .select(col("src"), col("dst")).distinct()
      .filter(col("src") =!= col("dst"))
      .join(r1, Seq("src", "dst"), "left_anti")
      .join(r2, Seq("src", "dst"), "left_anti")
    // r19: one ring-tagged union + ONE conditional agg + ONE left join
    // instead of two aggs and two joins onto deg — same exact integer
    // counts (n2 = ring-2 rows per src, n3 = ring-3), one less exchange
    // and one less join pass over the |V|-row frame
    val n23 = r2.select(col("src"), lit(2).as("ring"))
      .unionAll(r3.select(col("src"), lit(3).as("ring")))
      .groupBy(col("src"))
      .agg(sum(when(col("ring") === 2, 1L).otherwise(0L)).as("n2"),
        sum(when(col("ring") === 3, 1L).otherwise(0L)).as("n3"))
    deg.join(n23, Seq("src"), "left")
      .na.fill(0L, Seq("n2", "n3"))
      .select(col("src").as("page"),
        graft.catalog.Parity.pround(
          col("n1") + col("n2") / lit(2.0) + col("n3") / lit(3.0), 9)
          .as("harmonic"))
      .orderBy(desc("harmonic"), col("page")).limit(topN)
  }

  /** Tier taken by the most recent [[harmonicCentrality3]] call:
    * "exact" (full-adjacency BFS, oracle-comparable) or "capped"
    * (hub-capped deterministic lower bound — approximate by design; an
    * exact-formula oracle run MUST gate on this being "exact"). The
    * [[lastPeelSeries]] telemetry discipline. */
  @volatile private[graft] var lastHarmonicTier: String = ""

  /** Removed-node count per peel round of the most recent [[kCore]]
    * call — also emitted live through `observe` (`kcore_round_<i>`,
    * column `edges`): the CC-telemetry discipline, so a slow 100 TB
    * peel cascade surfaces round by round. */
  @volatile private[graft] var lastPeelSeries: Seq[Long] = Nil

  /** k-core: the maximal subgraph in which every node has degree ≥ k —
    * the standard "dense community" pre-filter (peeling low-degree
    * fringe before expensive community detection). Iterative peel:
    * each round drops nodes whose CURRENT degree < k and the edges
    * touching them; removals cascade (a chain peels one layer per
    * round), so rounds are data-dependent and the loop runs to a
    * fixpoint with [[Dedup.connectedComponents]]'s discipline —
    * symmetrized edges, lineage truncation per round, the surviving
    * edge count riding each checkpoint as an observed metric, loud
    * failure if `maxIter` is hit unconverged. Per round: one degree
    * agg + two semi-joins, all equi on the node key. Returns the
    * surviving `(page, core_degree)` frame and the round count
    * (rounds = peel attempts including the final no-op fixpoint
    * check). Input `(a, b)` undirected, either or both directions. */
  def kCore(und: DataFrame, k: Int, maxIter: Int = 50): (DataFrame, Int) = {
    require(k >= 1, "k must be >= 1")
    // `und`'s lineage runs once: checkpoint it, symmetrize from the
    // checkpoint, and count the edges on that second checkpoint's action
    val once = und.select(col("a").as("src"), col("b").as("dst"))
      .filter(col("src") =!= col("dst")).localCheckpoint(true)
    val obs0 = org.apache.spark.sql.Observation("kcore_edges")
    var edges = once.union(once.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .observe(obs0, count(lit(1)).as("edges"))
      .localCheckpoint(true)
    var n = obs0.get("edges").asInstanceOf[Long]
    var iter = 0
    var converged = n == 0L
    val series = scala.collection.mutable.ArrayBuffer.empty[Long]
    lastPeelSeries = Nil
    while (!converged && iter < maxIter) {
      val keep = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).select(col("src").as("node"))
      val obs = org.apache.spark.sql.Observation(s"kcore_round_${iter + 1}")
      val next = edges
        .join(keep.select(col("node").as("src")), Seq("src"), "left_semi")
        .join(keep.select(col("node").as("dst")), Seq("dst"), "left_semi")
        .select(col("src"), col("dst"))
        .observe(obs, count(lit(1)).as("edges"))
        .localCheckpoint(true)
      val m = obs.get("edges").asInstanceOf[Long]
      series += m
      lastPeelSeries = series.toSeq
      converged = m == n || m == 0L
      edges = next; n = m; iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"kCore did not reach a fixpoint in $maxIter rounds — deeper peel " +
        "cascade than expected; raise maxIter")
    (edges.groupBy(col("src").as("page")).agg(count(lit(1)).as("core_degree")),
      iter)
  }

  /** Weighted PageRank: `edges` is `(src, dst, w)` with multi-edge counts
    * as weights; a node's mass splits across out-edges in proportion to
    * `w`. With `redistributeDangling` the mass of out-edge-less nodes
    * spreads uniformly each round (one extra tiny agg — ranks then sum
    * to 1, the textbook formulation); off by default to match the q112
    * oracle's simpler unrolling (ranks sum < 1 when dangling nodes
    * exist). Returns `(node, rank)` after `iters` damped rounds from a
    * uniform start. Graphs of ≤ `localEdgeThreshold` edges (long or
    * string keys) solve on the driver with identical arithmetic. */
  def pageRank(edges: DataFrame, iters: Int, damping: Double = 0.85,
               localEdgeThreshold: Long = 1L << 20,
               redistributeDangling: Boolean = false): DataFrame = {
    val e = Dedup.cacheScoped(edges.select(col("src"), col("dst"), col("w")))
    // long AND string keys solve locally (string graphs — e.g. the
    // q209 word graph — dict-sort on the driver; same exact arithmetic)
    val localKey = Set[org.apache.spark.sql.types.DataType](
      LongType, org.apache.spark.sql.types.StringType)
    val localOk = localKey(e.schema("src").dataType) &&
      e.schema("src").dataType == e.schema("dst").dataType
    if (localOk && e.count() <= localEdgeThreshold)
      return localPageRank(e, iters, damping, redistributeDangling)

    // out-weight per src, joined once: frac = w/wout rides every iteration
    val wout = e.groupBy(col("src")).agg(sum(col("w")).as("wout"))
    val frac = Dedup.cacheScoped(
      e.join(wout, Seq("src"))
        .select(col("src"), col("dst"),
          (col("w").cast("double") / col("wout").cast("double")).as("frac")))
    val nodes = Dedup.cacheScoped(
      e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct())
    // N as a broadcast scalar (q64 discipline — never a driver collect)
    val n = nodes.agg(count(lit(1)).as("n_nodes"))
    var ranks = nodes.crossJoin(broadcast(n))
      .select(col("node"), col("n_nodes"),
        (floor(lit(1.0) / col("n_nodes") * 1e9 + 0.5) / 1e9).as("rank"))
    // dangling node set computed once (nodes with no out-edge)
    lazy val dangling = Dedup.cacheScoped(
      nodes.join(e.select(col("src").as("node")).distinct(), Seq("node"), "left_anti"))
    for (_ <- 1 to iters) {
      val contrib = ranks.join(frac, ranks("node") === frac("src"))
        .select(col("dst"), (col("rank") * col("frac")).cast(DecimalType(27, 12)).as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      val base =
        if (!redistributeDangling) (lit(1.0) - lit(damping)) / col("n_nodes")
        else {
          // dangling mass this round, exact-decimal summed then spread
          // uniformly: one tiny agg + broadcast scalar per round
          val dm = ranks.join(dangling, Seq("node"))
            .agg(coalesce(sum(col("rank").cast(DecimalType(27, 12))), lit(0).cast(DecimalType(27, 12)))
              .cast("double").as("dmass"))
          ranks = ranks.crossJoin(broadcast(dm))
          (lit(1.0) - lit(damping)) / col("n_nodes") +
            lit(damping) * col("dmass") / col("n_nodes")
        }
      ranks = ranks.join(contrib, ranks("node") === contrib("dst"), "left")
        .select(col("node"), col("n_nodes"),
          (floor((base +
            lit(damping) * coalesce(col("s").cast("double"), lit(0.0)))
            * 1e9 + 0.5) / 1e9).as("rank"))
        .localCheckpoint(true) // truncate lineage: plan depth stays O(1) per round
    }
    ranks.select(col("node"), col("rank"))
  }

  /** The engine-portable floor-form round both tiers (and the DuckDB
    * oracle) use: pure IEEE, identical in Spark / DuckDB / driver JVM —
    * unlike `functions.round`, whose BigDecimal-HALF_UP semantics
    * diverge from libm rounding on half boundaries (r9 lesson). */
  private def round9(x: Double): Double =
    math.floor(x * 1e9 + 0.5) / 1e9

  /** Driver tier: same damped update with the EXACT cast/round semantics
    * of the distributed plan (valueOf→setScale(12) mirrors the
    * double→DECIMAL(27,12) cast; exact BigDecimal sums; round9 mirrors
    * the distributed tier's floor-form round), so both tiers hash-match
    * the same oracle. */
  private def localPageRank(e: DataFrame, iters: Int, damping: Double,
                            redistributeDangling: Boolean): DataFrame = {
    val spark = e.sparkSession
    val keyType = e.schema("src").dataType
    implicit val ord: Ordering[Any] = keyType match {
      case LongType => Ordering.by(_.asInstanceOf[Long])
      case org.apache.spark.sql.types.StringType => Ordering.by(_.asInstanceOf[String])
      case t => throw new IllegalArgumentException(s"unsupported local key type: $t")
    }
    val rows = e.collect().map(r => (r.get(0), r.get(1), r.getLong(2)))
    val wout = rows.groupBy(_._1).map { case (s, g) => s -> g.map(_._3).sum }
    val nodes = (rows.map(_._1) ++ rows.map(_._2)).distinct.sorted
    val danglingNodes = nodes.filterNot(wout.contains)
    val n = nodes.length
    var rank: collection.Map[Any, Double] =
      nodes.map(_ -> round9(1.0 / n)).toMap
    for (_ <- 1 to iters) {
      val sums = collection.mutable.HashMap.empty[Any, java.math.BigDecimal]
      rows.foreach { case (s, d, w) =>
        val frac = w.toDouble / wout(s).toDouble
        val c = java.math.BigDecimal.valueOf(rank(s) * frac)
          .setScale(12, RoundingMode.HALF_UP)
        sums(d) = sums.getOrElse(d, java.math.BigDecimal.ZERO).add(c)
      }
      val base =
        if (!redistributeDangling) (1.0 - damping) / n
        else {
          val dmass = danglingNodes
            .foldLeft(java.math.BigDecimal.ZERO) { (acc, nd) =>
              acc.add(java.math.BigDecimal.valueOf(rank(nd)).setScale(12, RoundingMode.HALF_UP)) }
            .doubleValue()
          (1.0 - damping) / n + damping * dmass / n
        }
      rank = nodes.map { nd =>
        val s = sums.get(nd).map(_.doubleValue()).getOrElse(0.0)
        nd -> round9(base + damping * s)
      }.toMap
    }
    val out = nodes.map(nd => Row(nd, rank(nd)))
    val schema = StructType(Seq(
      StructField("node", keyType), StructField("rank", DoubleType)))
    spark.createDataFrame(spark.sparkContext.parallelize(out.toSeq, 1), schema)
  }
}

package graft
package catalog

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{TextAnalysis, Vectors}
import graft.operators.{Cluster, Dedup, Similarity}

import Parity._

/** Similarity, retrieval and clustering queries: kNN and ANN indexes, BM25
  * ranking and IR evaluation, MMR rerank, k-means and embedding audits. */
object SimilarityQueries {

  /** Unrolled MMR greedy steps 2..k for the q242 oracle — the q177
    * materialized-unrolled-rounds discipline applied to diversified
    * rerank. Expects CTEs `pool(vec_id, rel)`, `pc(u, w, c)` (pairwise
    * pool cosines), and `k1` (the rank-1 pick). Each step scores the
    * unpicked pool 0.7·rel − (1.0−0.7)·max-cosine-to-picked and takes
    * the (score desc, vec_id) head — the exact IEEE expression and
    * tie-break of Similarity.mmrSelect. */
  private def mmrStepCtes(k: Int): String = (2 to k).map { t =>
    s"""p$t AS MATERIALIZED (SELECT vec_id, mmr, $t AS rank FROM (
       |  SELECT c.vec_id, 0.7 * c.rel - (1.0 - 0.7) *
       |    (SELECT MAX(pc.c) FROM pc JOIN k${t - 1} s
       |     ON pc.u = c.vec_id AND pc.w = s.vec_id) AS mmr
       |  FROM pool c
       |  WHERE c.vec_id NOT IN (SELECT vec_id FROM k${t - 1}))
       |ORDER BY mmr DESC, vec_id LIMIT 1),
       |k$t AS MATERIALIZED (SELECT vec_id, mmr, rank FROM k${t - 1}
       |        UNION ALL SELECT vec_id, mmr, rank FROM p$t)""".stripMargin
  }.mkString(",\n")

  /** One DuckDB Lloyd step (assign under cent{i-1} → per-dim decimal
    * means m{i} → round-9 → REAL centroids cent{i}, empty clusters
    * carrying the previous centroid) — the oracle twin of
    * [[graft.operators.Cluster.lloyd]]'s iteration, unrolled per step
    * by q177/q178. Expects CTEs `e` (vec_id, embedding, emb DOUBLE[])
    * and `cent{i-1}` (cid, cvec DOUBLE[]). */
  private def kmeansIterCte(i: Int): String = {
    val p = i - 1
    s"""a$i AS (SELECT vec_id, cid FROM (
       |    SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY list_distance(e.emb, c.cvec), c.cid) AS rk
       |    FROM e, cent$p c) WHERE rk = 1),
       |m$i AS (SELECT CAST(a.cid AS BIGINT) AS cid, CAST(g.i - 1 AS BIGINT) AS dim,
       |        floor(CAST(SUM(CAST(CAST(e2.embedding[g.i] AS DOUBLE) AS DECIMAL(27,12))) AS DOUBLE) / COUNT(*) * 1e9 + 0.5) / 1e9 AS cv,
       |        COUNT(*) AS n_members
       |      FROM a$i a JOIN embeddings e2 ON a.vec_id = e2.vec_id,
       |      LATERAL (SELECT unnest(generate_series(1, len(e2.embedding))) AS i) g
       |      GROUP BY 1, 2),
       |cent$i AS (SELECT p.cid, COALESCE(n.cvec, p.cvec) AS cvec
       |      FROM cent$p p LEFT JOIN (SELECT cid, CAST(list(CAST(cv AS REAL) ORDER BY dim) AS DOUBLE[]) AS cvec
       |                               FROM m$i GROUP BY cid) n USING (cid))""".stripMargin
  }

  /** DuckDB CTEs loading embeddings with a DOUBLE[] copy and the 8
    * lowest-id seed centroids — the q177/q178 preamble. Seeds are the
    * 8 LOWEST vec_ids with cid = their rank (0-based), the structural
    * twin of Cluster.lloyd's `orderBy(key).limit(k)` + array-index
    * cids — parity holds for ANY key distribution, not only when
    * vec_ids happen to be contiguous 0..7. */
  private val kmeansBaseCte =
    """WITH e AS (SELECT vec_id, embedding, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |cent0 AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid, emb AS cvec
      |          FROM (SELECT vec_id, emb FROM e ORDER BY vec_id LIMIT 8) s)""".stripMargin

  /** Query terms shared by the BM25-based IR-eval family (q263 nDCG,
    * q264 MAP): relevance is derived from the head term's postings. */
  private val bm25Terms = Seq("spark", "join", "scan")

  /** Per-doc BM25 scores over [[bm25Terms]] plus the shared tokenized
    * frame — the ONE corpus-sized pass of the IR-eval family; everything
    * downstream (rankings, relevance lists) is a ≤10-row frame. k1=1.2,
    * b=0.75, per-term scores pround(12) into a DECIMAL(27,14) sum,
    * floor-9 — see q263's scaladoc for the parity argument. Returns
    * (bm25: doc_id→bm25, words: cacheScoped (doc_id, w)). */
  private def bm25Scores(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val words = Dedup.cacheScoped(Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0))
    val dl = words.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val st = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_dl"))
    val tf = words.filter(col("w").isin(bm25Terms: _*))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
    val dfq = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val avgdl = col("total_dl").cast("double") / col("n_docs")
    val bm25 = tf.join(dl, Seq("doc_id")).join(broadcast(dfq), Seq("w"))
      .crossJoin(broadcast(st))
      .withColumn("s", pround(
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
          * col("tf") * 2.2
          / (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / avgdl)), 12))
      .groupBy(col("doc_id"))
      .agg(pround(sum(col("s").cast(DecimalType(27, 14))).cast("double"), 9)
        .as("bm25"))
    (bm25, words)
  }

  /** DuckDB twin of [[bm25Scores]] — the shared CTE prefix of the q263
    * and q264 oracles (`w2` = tokenized frame, `bm` = per-doc BM25). */
  private lazy val bm25Cte: String =
    """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      |w2 AS (SELECT doc_id, w FROM w WHERE length(w) > 0),
      |dl AS (SELECT doc_id, COUNT(*) AS dl FROM w2 GROUP BY doc_id),
      |st AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_dl FROM dl),
      |tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM w2
      |       WHERE w IN ('spark','join','scan') GROUP BY doc_id, w),
      |dfq AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
      |sc AS (SELECT tf.doc_id,
      |         round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * tf * 2.2
      |           / (tf + 1.2 * (0.25 + 0.75 * dl / (CAST(total_dl AS DOUBLE) / n_docs))), 12) AS s
      |       FROM tf JOIN dl USING (doc_id) JOIN dfq USING (w), st),
      |bm AS (SELECT doc_id, round(CAST(SUM(CAST(s AS DECIMAL(27,14))) AS DOUBLE), 9) AS bm25
      |       FROM sc GROUP BY doc_id)""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q36_knn_brute", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(
          emb, col("vec_id"), col("embedding"),
          emb.filter(col("vec_id") < 10), col("vec_id"), col("embedding"), k = 5)
        .withColumn("rank", col("rank").cast("long"))
    }, Some(
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS e
        |           FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |s AS (SELECT query_id, neighbor_id, list_cosine_similarity(q.e, c.e) AS cosine
        |      FROM q, c WHERE neighbor_id != query_id),
        |r AS (SELECT query_id, neighbor_id, cosine,
        |        row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        |      FROM s)
        |SELECT query_id, neighbor_id, cosine, rank FROM r WHERE rank <= 5""".stripMargin)),

    QuerySpec("q66_l2_knn", (s, dir) => {
      // L2-metric twin of q36: same broadcast + WindowGroupLimit shape,
      // scored by the codegen'd EuclideanDistance kernel
      val emb = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(
          emb, col("vec_id"), col("embedding"),
          emb.filter(col("vec_id") < 10), col("vec_id"), col("embedding"),
          k = 5, metric = "l2")
        .withColumn("rank", col("rank").cast("long"))
    }, Some(
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS e
        |           FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |s AS (SELECT query_id, neighbor_id, list_distance(q.e, c.e) AS dist
        |      FROM q, c WHERE neighbor_id != query_id),
        |r AS (SELECT query_id, neighbor_id, dist,
        |        row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rank
        |      FROM s)
        |SELECT query_id, neighbor_id, dist, rank FROM r WHERE rank <= 5""".stripMargin)),

    QuerySpec("q37_knn_lsh", (s, dir) => {
      // approximate tier — recall measured in tests, rows-only here
      val emb = Tables.embeddings(s, dir)
      Similarity.lshTopK(
          emb, col("vec_id"), col("embedding"),
          emb.filter(col("vec_id") < 10), col("vec_id"), col("embedding"),
          k = 5, planes = 6, probeBits = 1)
        .withColumn("rank", col("rank").cast("long"))
    }, None), // accuracy: OperatorSpec "LSH top-k is a high-recall subset of brute force on real embeddings"

    QuerySpec("q48_knn_ivf", (s, dir) => {
      // IVF scale path: probe-pruned exact rerank; recall vs brute force
      // asserted in SimilaritySpec (rows-only here)
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfTopK(
          emb, col("vec_id"), col("embedding"),
          emb.filter(col("vec_id") < 10), col("vec_id"), col("embedding"),
          k = 5, nlist = 16, nprobe = 4)
        .withColumn("rank", col("rank").cast("long"))
    }, None), // accuracy: IntegrationSpec "IVF top-k: high recall at nprobe=4/nlist=8, exact subset semantics"

    QuerySpec("q82_centroids", (s, dir) => {
      // per-label embedding centroids — the k-means update step as a
      // vector AGGREGATION: explode to (label, dim, value), one
      // partial+final agg per (label, dim) cell, decimal sums so the
      // element-wise mean is order-independent (the dsum discipline
      // applied to vectors; a float sum would diverge from the oracle
      // under Spark's partial aggregation).
      Tables.embeddings(s, dir)
        .select(col("label").cast("long").as("label"),
          posexplode(col("embedding")).as(Seq("dim", "v")))
        .groupBy(col("label"), col("dim").cast("long").as("dim"))
        // pround(9): a float's terminating decimal expansion can tie at the
        // 13th digit, and the engines' decimal-cast tie-breaking differs —
        // observed 1e-14 drift on exact-decimal sums (q64 discipline)
        .agg(pround(sum(col("v").cast("double").cast(DecimalType(27, 12)))
          .cast("double") / count(lit(1)), 9).as("centroid"))
    }, Some(
      """WITH e AS (SELECT CAST(label AS BIGINT) AS label, embedding FROM embeddings),
        |x AS (SELECT label, CAST(g.i - 1 AS BIGINT) AS dim,
        |        CAST(embedding[g.i] AS DOUBLE) AS v
        |      FROM e, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g)
        |SELECT label, dim,
        |  round(CAST(SUM(CAST(v AS DECIMAL(27,12))) AS DOUBLE) / COUNT(*), 9) AS centroid
        |FROM x GROUP BY label, dim""".stripMargin)),

    QuerySpec("q85_kmeans_iter", (s, dir) => {
      // one full Lloyd iteration: assign every vector to its nearest of 8
      // seed centroids (seeds broadcast — the corpus never shuffles for
      // assignment; distance is the codegen'd EuclideanDistance kernel,
      // bit-exact vs DuckDB list_distance per q66), then recompute
      // centroids with the q82 decimal-sum vector aggregation. rank=1
      // over (dist, centroid_id) compiles to WindowGroupLimit.
      val emb = Tables.embeddings(s, dir)
      val cents = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("cvec"))
      val w = Window.partitionBy(col("vec_id")).orderBy(col("dist"), col("centroid_id"))
      val assigned = emb.select(col("vec_id"), col("embedding"))
        .crossJoin(broadcast(cents))
        .withColumn("dist", Vectors.l2Distance(col("embedding"), col("cvec")))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("centroid_id"), col("embedding"))
      assigned
        .select(col("centroid_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .groupBy(col("centroid_id"), col("dim").cast("long").as("dim"))
        .agg(pround(sum(col("v").cast("double").cast(DecimalType(27, 12)))
            .cast("double") / count(lit(1)), 9).as("new_val"),
          count(lit(1)).as("n_members"))
    }, Some(
      """WITH e AS (SELECT vec_id, embedding, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |c AS (SELECT vec_id AS centroid_id, emb AS cvec FROM e WHERE vec_id < 8),
        |d AS (SELECT e.vec_id, c.centroid_id, list_distance(e.emb, c.cvec) AS dist FROM e, c),
        |a AS (SELECT vec_id, centroid_id FROM (
        |        SELECT vec_id, centroid_id,
        |          row_number() OVER (PARTITION BY vec_id ORDER BY dist, centroid_id) AS rk
        |        FROM d) WHERE rk = 1),
        |x AS (SELECT CAST(a.centroid_id AS BIGINT) AS centroid_id,
        |        CAST(g.i - 1 AS BIGINT) AS dim, CAST(e2.embedding[g.i] AS DOUBLE) AS v
        |      FROM a JOIN embeddings e2 ON a.vec_id = e2.vec_id,
        |      LATERAL (SELECT unnest(generate_series(1, len(e2.embedding))) AS i) g)
        |SELECT centroid_id, dim,
        |  round(CAST(SUM(CAST(v AS DECIMAL(27,12))) AS DOUBLE) / COUNT(*), 9) AS new_val,
        |  COUNT(*) AS n_members
        |FROM x GROUP BY centroid_id, dim""".stripMargin)),

    QuerySpec("q144_domain_coherence", (s, dir) => {
      // domain-coherence outliers: each doc's embedding vs its SOURCE's
      // mean embedding (q82 centroid machinery per source, exact
      // decimal means rounded to 9), flag docs whose cosine to their
      // own domain centroid is lowest — the "does this doc belong to
      // its domain" signal behind SemDeDup-adjacent curation. Centroids
      // are per-source (tiny) → broadcast back; cosine is the bit-exact
      // q35 kernel over the rounded centroid vector.
      val emb = Tables.embeddings(s, dir)
        .join(Tables.documents(s, dir).select(col("doc_id").as("vec_id"), col("source")),
          Seq("vec_id"))
      val cents = emb
        .select(col("source"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .groupBy(col("source"), col("dim"))
        .agg(pround(sum(col("v").cast("double").cast(DecimalType(27, 12)))
          .cast("double") / count(lit(1)), 9).as("cv"))
        .groupBy(col("source"))
        .agg(array_sort(collect_list(struct(col("dim"), col("cv")))).as("pairs"))
        .select(col("source"),
          transform(col("pairs"), p => p.getField("cv").cast("float")).as("centroid"))
      val w = Window.partitionBy(col("source")).orderBy(col("cos"), col("vec_id"))
      emb.join(broadcast(cents), Seq("source"))
        .withColumn("cos", Vectors.cosine(col("embedding"), col("centroid")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("source"), col("vec_id"), col("cos"), col("rank"))
    }, Some(
      """WITH e AS (SELECT em.vec_id, CAST(em.embedding AS DOUBLE[]) AS emb, d.source
        |           FROM embeddings em JOIN documents d ON em.vec_id = d.doc_id),
        |x AS (SELECT source, vec_id, CAST(g.i - 1 AS BIGINT) AS dim,
        |        emb[g.i] AS v, len(emb) AS nd
        |      FROM e, LATERAL (SELECT unnest(generate_series(1, len(emb))) AS i) g),
        |c AS (SELECT source, dim,
        |        round(CAST(SUM(CAST(v AS DECIMAL(27,12))) AS DOUBLE) / COUNT(*), 9) AS cv
        |      FROM x GROUP BY source, dim),
        |cent AS (SELECT source,
        |           list(CAST(cv AS REAL) ORDER BY dim) AS centroid
        |         FROM c GROUP BY source),
        |s AS (SELECT e.source, e.vec_id,
        |        list_cosine_similarity(e.emb, CAST(cent.centroid AS DOUBLE[])) AS cos
        |      FROM e JOIN cent USING (source)),
        |r AS (SELECT source, vec_id, cos,
        |        row_number() OVER (PARTITION BY source ORDER BY cos, vec_id) AS rank
        |      FROM s)
        |SELECT source, vec_id, cos, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 3""".stripMargin)),

    QuerySpec("q127_semantic_search", (s, dir) => {
      // retrieval end-to-end: ANN top-5 per query over the embedding
      // store (broadcast queries, WindowGroupLimit — the q36 shape) then
      // hydrate hits from the document store (vec_id ≡ doc_id), returning
      // text metadata + quality. The two-tier pattern every RAG corpus
      // serves: search the small vector index, join the big doc store by
      // key — the doc store never participates in the distance scan.
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val c = emb.select(col("vec_id").as("doc_id"), col("embedding").as("cv"))
      val w = Window.partitionBy(col("query_id")).orderBy(desc("cosine"), col("doc_id"))
      val hits = c.join(broadcast(q), col("doc_id") =!= col("query_id"))
        .withColumn("cosine", Vectors.cosine(col("qv"), col("cv")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("query_id"), col("doc_id"), col("cosine"), col("rank"))
      hits.join(Tables.documents(s, dir), Seq("doc_id"))
        .select(col("query_id"), col("doc_id"), col("cosine"), col("rank"),
          col("source"), col("lang"), col("n_chars"),
          pround(TextAnalysis.qualityScore(col("text")), 9).as("quality"))
    }, Some(
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |q AS (SELECT vec_id AS query_id, emb AS qv FROM e WHERE vec_id < 5),
        |s AS (SELECT q.query_id, e.vec_id AS doc_id,
        |        list_cosine_similarity(q.qv, e.emb) AS cosine
        |      FROM q, e WHERE e.vec_id != q.query_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |        ORDER BY cosine DESC, doc_id) AS rank FROM s)
        |SELECT query_id, r.doc_id, cosine, CAST(rank AS BIGINT) AS rank,
        |  d.source, d.lang, d.n_chars,
        |  round(least(CAST(length(d.text) AS DOUBLE) / 500.0, 1.0)
        |    * (CASE WHEN length(d.text) = 0 THEN 0.0
        |            ELSE CAST(length(regexp_replace(d.text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / length(d.text) END)
        |    * (1.0 - least((CASE WHEN length(d.text) = 0 THEN 0.0
        |            ELSE CAST(length(regexp_replace(d.text, '[^.,;:!?''"()-]', '', 'g')) AS DOUBLE) / length(d.text) END) * 5.0, 1.0)), 9) AS quality
        |FROM r JOIN documents d ON r.doc_id = d.doc_id
        |WHERE rank <= 5""".stripMargin)),

    QuerySpec("q123_hard_negatives", (s, dir) => {
      // contrastive hard-negative mining: for each query vector, the
      // top-3 nearest neighbors whose label DIFFERS — the pairs that
      // teach an embedding model the most. Same broadcast-queries /
      // WindowGroupLimit shape as q36 with the label-mismatch predicate
      // inside the join (pairs never materialize beyond candidates).
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
          col("label").as("q_label"))
      val c = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"),
        col("label").as("n_label"))
      val w = Window.partitionBy(col("query_id")).orderBy(desc("cosine"), col("neighbor_id"))
      c.join(broadcast(q), col("q_label") =!= col("n_label"))
        .withColumn("cosine", Vectors.cosine(col("qv"), col("cv")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("query_id"), col("neighbor_id"), col("q_label"),
          col("n_label"), col("cosine"), col("rank"))
    }, Some(
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, label FROM embeddings),
        |q AS (SELECT vec_id AS query_id, emb AS qv, label AS q_label FROM e WHERE vec_id < 10),
        |s AS (SELECT q.query_id, e.vec_id AS neighbor_id, q.q_label, e.label AS n_label,
        |        list_cosine_similarity(q.qv, e.emb) AS cosine
        |      FROM q, e WHERE q.q_label != e.label),
        |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |        ORDER BY cosine DESC, neighbor_id) AS rank FROM s)
        |SELECT query_id, neighbor_id, q_label, n_label, cosine, rank
        |FROM r WHERE rank <= 3""".stripMargin)),

    QuerySpec("q116_embed_quantize", (s, dir) => {
      // int8 embedding quantization (asymmetric, per-vector min/max):
      // code = pround((v - min) / scale) in 0..255, the storage-reduction
      // step before ANN at 100 TB (4 bytes → 1 per dim). Pure map-side
      // HOF arithmetic (no UDF); emitted as scalars (code sum + bounds +
      // max reconstruction error, round 9) so the oracle hashes stably.
      val v = col("embedding")
      val mn = array_min(v).cast("double")
      val mx = array_max(v).cast("double")
      val scale = (col("mx") - col("mn")) / 255.0
      Tables.embeddings(s, dir)
        .select(col("vec_id"), v.as("v"), mn.as("mn"), mx.as("mx"))
        .filter(col("mx") > col("mn")) // constant vectors have no scale
        .select(col("vec_id"), col("mn"), col("mx"),
          pround(scale, 9).as("scale"),
          aggregate(
            transform(col("v"), x => pround((x.cast("double") - col("mn")) / scale, 0)),
            lit(0L), (acc, x) => acc + x.cast("long")).as("code_sum"),
          pround(aggregate(
            transform(col("v"), x =>
              abs(pround((x.cast("double") - col("mn")) / scale, 0) * scale + col("mn")
                - x.cast("double"))),
            lit(0.0), (acc, x) => greatest(acc, x)), 9).as("max_err"))
    }, Some(
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |  CAST(list_min(embedding) AS DOUBLE) AS mn,
        |  CAST(list_max(embedding) AS DOUBLE) AS mx
        |FROM embeddings),
        |s AS (SELECT vec_id, v, mn, mx, (mx - mn) / 255.0 AS sc FROM e WHERE mx > mn)
        |SELECT vec_id, mn, mx, round(sc, 9) AS scale,
        |  CAST(list_sum(list_transform(v, x -> CAST(round((x - mn) / sc, 0) AS BIGINT))) AS BIGINT) AS code_sum,
        |  round(list_max(list_transform(v, x -> abs(round((x - mn) / sc, 0) * sc + mn - x))), 9) AS max_err
        |FROM s""".stripMargin)),

    QuerySpec("q170_quantized_ann", (s, dir) => {
      // int8-coarse ANN + exact rerank — the memory-bound discipline at
      // 100 TB: the coarse scan touches 1-byte codes (4× less IO than
      // float32; q116's quantizer), integer distances are EXACT ints
      // (engine-portable, no float drift), and recall is restored by
      // reranking the top-100 candidates with the codegen cosine kernel
      // (q36's oracle-proven parity with list_cosine_similarity).
      // Queries broadcast; the corpus never shuffles; both rank cuts
      // are per-query WindowGroupLimits.
      val scale = (col("mx") - col("mn")) / 255.0
      val coded = Dedup.cacheScoped(Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding"),
          array_min(col("embedding")).cast("double").as("mn"),
          array_max(col("embedding")).cast("double").as("mx"))
        .filter(col("mx") > col("mn"))
        .select(col("vec_id"), col("embedding"),
          transform(col("embedding"), x =>
            pround((x.cast("double") - col("mn")) / scale, 0).cast("long"))
            .as("code")))
      val q = coded.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("code").as("qcode"),
          col("embedding").as("qe"))
      val cand = coded.select(col("vec_id").as("neighbor_id"),
        col("code").as("ccode"), col("embedding").as("ce"))
      val coarse = cand.crossJoin(broadcast(q))
        .filter(col("neighbor_id") =!= col("query_id"))
        .withColumn("qdist", aggregate(
          zip_with(col("qcode"), col("ccode"), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x))
      val wc = Window.partitionBy(col("query_id")).orderBy(col("qdist"), col("neighbor_id"))
      val wr = Window.partitionBy(col("query_id")).orderBy(desc("cosine"), col("neighbor_id"))
      coarse.withColumn("crank", row_number().over(wc)).filter(col("crank") <= 100)
        .withColumn("cosine", Vectors.cosine(col("qe"), col("ce")))
        .withColumn("rank", row_number().over(wr).cast("long"))
        .filter(col("rank") <= 10)
        .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
    }, Some(
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |  CAST(list_min(embedding) AS DOUBLE) AS mn,
        |  CAST(list_max(embedding) AS DOUBLE) AS mx
        |FROM embeddings),
        |s2 AS (SELECT vec_id, v, mn, mx, (mx - mn) / 255.0 AS sc FROM e WHERE mx > mn),
        |coded AS (SELECT vec_id, v,
        |  list_transform(v, x -> CAST(round((x - mn) / sc, 0) AS BIGINT)) AS code
        |FROM s2),
        |q AS (SELECT vec_id AS query_id, code AS qcode, v AS qe FROM coded WHERE vec_id < 5),
        |c AS (SELECT vec_id AS neighbor_id, code AS ccode, v AS ce FROM coded),
        |coarse AS (SELECT query_id, neighbor_id, qe, ce,
        |    CAST(list_sum([(qcode[i] - ccode[i]) * (qcode[i] - ccode[i])
        |                   FOR i IN generate_series(1, len(qcode))]) AS BIGINT) AS qdist
        |  FROM q, c WHERE neighbor_id <> query_id),
        |top100 AS (SELECT * FROM coarse
        |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY qdist, neighbor_id) <= 100),
        |rer AS (SELECT query_id, neighbor_id,
        |          list_cosine_similarity(qe, ce) AS cosine FROM top100)
        |SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank FROM (
        |  SELECT query_id, neighbor_id, cosine,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        |  FROM rer) WHERE rank <= 10""".stripMargin)),

    QuerySpec("q169_bm25", (s, dir) => {
      // BM25 keyword retrieval (k1=1.2, b=0.75, Lucene's always-positive
      // idf) — the lexical-search scorer a doc store pairs with the ANN
      // path (q127) for hybrid retrieval. One tokenize pass feeds doc
      // lengths AND term frequencies; the query's posting lists (tf) are
      // the only rows that reach the scoring join — corpus-sized frames
      // never shuffle for a 3-term query. Corpus stats ride a scalar
      // broadcast; per-term scores round then reduce in exact decimal
      // (q91 discipline).
      val terms = Seq("spark", "join", "scan")
      val words = Dedup.cacheScoped(Tables.documents(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0))
      val dl = words.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
      val st = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_dl"))
      val tf = words.filter(col("w").isin(terms: _*))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
      val dfq = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
      val avgdl = col("total_dl").cast("double") / col("n_docs")
      tf.join(dl, Seq("doc_id")).join(broadcast(dfq), Seq("w"))
        .crossJoin(broadcast(st))
        .withColumn("s", pround(
          log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
            * col("tf") * 2.2
            / (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / avgdl)), 12))
        .groupBy(col("doc_id"))
        .agg(pround(sum(col("s").cast(DecimalType(27, 14))).cast("double"), 9)
          .as("bm25"))
        .orderBy(desc("bm25"), col("doc_id")).limit(20)
    }, Some(
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |w2 AS (SELECT doc_id, w FROM w WHERE length(w) > 0),
        |dl AS (SELECT doc_id, COUNT(*) AS dl FROM w2 GROUP BY doc_id),
        |st AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_dl FROM dl),
        |tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM w2
        |       WHERE w IN ('spark','join','scan') GROUP BY doc_id, w),
        |dfq AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
        |sc AS (SELECT tf.doc_id,
        |         round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * tf * 2.2
        |           / (tf + 1.2 * (0.25 + 0.75 * dl / (CAST(total_dl AS DOUBLE) / n_docs))), 12) AS s
        |       FROM tf JOIN dl USING (doc_id) JOIN dfq USING (w), st)
        |SELECT doc_id, round(CAST(SUM(CAST(s AS DECIMAL(27,14))) AS DOUBLE), 9) AS bm25
        |FROM sc GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin)),

    QuerySpec("q177_kmeans_lloyd", (s, dir) => {
      // converged Lloyd k-means (3 steps) from the 8 lowest-id seeds —
      // the driver-loop training discipline (q143's parameters-as-
      // literals) applied to q85's single centroid step: assignment is
      // map-side against k×d float LITERALS (the corpus never shuffles
      // to be assigned), per-dim means partial-aggregate in exact
      // decimal, and each step's round-9 → float narrowing keeps the
      // trajectory engine-exact (q144's centroid argument). Driver
      // traffic per step: k×d doubles — corpus-size-independent.
      val (_, means) = Cluster.lloyd(Tables.embeddings(s, dir),
        col("vec_id"), col("embedding"), k = 8, iters = 3)
      means.select(col("cluster").cast("long").as("centroid_id"), col("dim"),
        col("cv").as("new_val"), col("n_members"))
    }, Some(
      s"""$kmeansBaseCte,
         |${kmeansIterCte(1)},
         |${kmeansIterCte(2)},
         |${kmeansIterCte(3)}
         |SELECT cid AS centroid_id, dim, cv AS new_val, n_members FROM m3""".stripMargin)),

    QuerySpec("q178_semdedup", (s, dir) => {
      // the full SemDeDup verdict (Abbas et al. 2023) on REFINED
      // clusters: q106 emits candidate pairs under the raw seed
      // assignment (window argmin = a per-vector shuffle); this runs a
      // real Lloyd step first (q177's engine-exact trajectory), assigns
      // map-side against centroid LITERALS (zero shuffle for
      // assignment), and emits the per-vector keep/drop decision — the
      // dedup output a pipeline consumes. Pair blow-up stays bounded
      // by Σ|cluster|²; deterministic keep-lowest-key exemplar
      // (q30/q32 discipline).
      Cluster.semDedup(Tables.embeddings(s, dir), col("vec_id"), col("embedding"),
          k = 8, iters = 1, minCosine = 0.4)
        .select(col("key").as("vec_id"), col("cluster").cast("long").as("cluster"),
          col("removed"))
    }, Some(
      s"""$kmeansBaseCte,
         |${kmeansIterCte(1)},
         |a2 AS (SELECT vec_id, cid FROM (
         |    SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY list_distance(e.emb, c.cvec), c.cid) AS rk
         |    FROM e, cent1 c) WHERE rk = 1),
         |r AS (SELECT DISTINCT a.vec_id FROM a2 a JOIN a2 b ON a.cid = b.cid AND b.vec_id < a.vec_id
         |      JOIN e ea ON ea.vec_id = a.vec_id JOIN e eb ON eb.vec_id = b.vec_id
         |      WHERE list_cosine_similarity(ea.emb, eb.emb) >= 0.4)
         |SELECT a2.vec_id, CAST(a2.cid AS BIGINT) AS cluster, COALESCE(rr.removed, FALSE) AS removed
         |FROM a2 LEFT JOIN (SELECT vec_id, TRUE AS removed FROM r) rr USING (vec_id)""".stripMargin)),

    QuerySpec("q188_ivf_trained", (s, dir) => {
      // IVF ANN over a TRAINED codebook — q48's scale path upgraded
      // twice: the coarse quantizer is a Lloyd-refined codebook (q177's
      // engine-exact trajectory), and corpus assignment AND query
      // probes are literal-centroid map-side expressions (q48 windows
      // per vector — a corpus shuffle this deletes). Determinism makes
      // the WHOLE approximate search an oracle row: recall vs brute
      // force becomes a measured property (SimilaritySpec), not
      // nondeterminism — q48 stays the rows-only raw-seed tier.
      val emb = Tables.embeddings(s, dir)
      val (state, _) = Cluster.lloyd(emb, col("vec_id"), col("embedding"), k = 8, iters = 2)
      Cluster.ivfTopK(emb, col("vec_id"), col("embedding"),
        emb.filter(col("vec_id") < 10), col("vec_id"), col("embedding"),
        state, k = 5, nprobe = 3)
    }, Some(
      s"""$kmeansBaseCte,
         |${kmeansIterCte(1)},
         |ac AS (SELECT vec_id, cid FROM (
         |    SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY list_distance(e.emb, c.cvec), c.cid) AS rk
         |    FROM e, cent1 c) WHERE rk = 1),
         |pq AS (SELECT vec_id AS query_id, cid FROM (
         |    SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY list_distance(e.emb, c.cvec), c.cid) AS rk
         |    FROM e, cent1 c WHERE e.vec_id < 10) WHERE rk <= 3),
         |cand AS (SELECT p.query_id, a.vec_id AS neighbor_id,
         |           list_cosine_similarity(eq.emb, ea.emb) AS cosine
         |         FROM pq p JOIN ac a USING (cid)
         |         JOIN e eq ON eq.vec_id = p.query_id
         |         JOIN e ea ON ea.vec_id = a.vec_id
         |         WHERE a.vec_id <> p.query_id)
         |SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank FROM cand)
         |WHERE rank <= 5""".stripMargin)),

    QuerySpec("q190_rrf_fusion", (s, dir) => {
      // hybrid retrieval: reciprocal-rank fusion (RRF, k=60) of the
      // BM25 lexical ranker (q169's scorer) and the embedding cosine
      // ranker (q36's kernel; doc_id ≡ vec_id) — the standard
      // score-free fusion a RAG stack runs. Each ranker contributes
      // its top-50; ranks come from a window over those 50-row frames
      // (tiny-frame exception); 1/(60+rank) sums are two-term IEEE,
      // exact in any engine.
      val terms = Seq("spark", "join", "scan")
      val words = Dedup.cacheScoped(Tables.documents(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0))
      val dl = words.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
      val st = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_dl"))
      val tf = words.filter(col("w").isin(terms: _*))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
      val dfq = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
      val avgdl = col("total_dl").cast("double") / col("n_docs")
      val bm25 = tf.join(dl, Seq("doc_id")).join(broadcast(dfq), Seq("w"))
        .crossJoin(broadcast(st))
        .withColumn("s", pround(
          log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
            * col("tf") * 2.2
            / (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / avgdl)), 12))
        .groupBy(col("doc_id"))
        .agg(pround(sum(col("s").cast(DecimalType(27, 14))).cast("double"), 9).as("bm25"))
        .orderBy(desc("bm25"), col("doc_id")).limit(50)
        .withColumn("rb", row_number().over(Window.orderBy(desc("bm25"), col("doc_id"))))
      val emb = Tables.embeddings(s, dir)
      val qv = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("qv"))
      val cos = emb.crossJoin(broadcast(qv))
        .filter(col("vec_id") =!= 0)
        .select(col("vec_id").as("doc_id"), Vectors.cosine(col("embedding"), col("qv")).as("cos"))
        .orderBy(desc("cos"), col("doc_id")).limit(50)
        .withColumn("rc", row_number().over(Window.orderBy(desc("cos"), col("doc_id"))))
      bm25.select(col("doc_id"), col("rb"))
        .join(cos.select(col("doc_id"), col("rc")), Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          col("rb").cast("long").as("bm25_rank"),
          col("rc").cast("long").as("cos_rank"),
          pround(
            coalesce(lit(1.0) / (col("rb") + 60), lit(0.0))
              + coalesce(lit(1.0) / (col("rc") + 60), lit(0.0)), 12).as("rrf"))
        .orderBy(desc("rrf"), col("doc_id")).limit(20)
    }, Some(
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |w2 AS (SELECT doc_id, w FROM w WHERE length(w) > 0),
        |dl AS (SELECT doc_id, COUNT(*) AS dl FROM w2 GROUP BY doc_id),
        |st AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_dl FROM dl),
        |tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM w2
        |       WHERE w IN ('spark','join','scan') GROUP BY doc_id, w),
        |dfq AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
        |sc AS (SELECT tf.doc_id,
        |         round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * tf * 2.2
        |           / (tf + 1.2 * (0.25 + 0.75 * dl / (CAST(total_dl AS DOUBLE) / n_docs))), 12) AS s
        |       FROM tf JOIN dl USING (doc_id) JOIN dfq USING (w), st),
        |bm AS (SELECT doc_id, round(CAST(SUM(CAST(s AS DECIMAL(27,14))) AS DOUBLE), 9) AS bm25
        |       FROM sc GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 50),
        |bmr AS (SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rb FROM bm),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |qv AS (SELECT emb AS qv FROM e WHERE vec_id = 0),
        |co AS (SELECT vec_id AS doc_id, list_cosine_similarity(emb, qv) AS cos
        |       FROM e, qv WHERE vec_id <> 0 ORDER BY cos DESC, doc_id LIMIT 50),
        |cor AS (SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id) AS rc FROM co),
        |f AS (SELECT COALESCE(bmr.doc_id, cor.doc_id) AS doc_id, rb, rc
        |      FROM bmr FULL OUTER JOIN cor ON bmr.doc_id = cor.doc_id)
        |SELECT doc_id, CAST(rb AS BIGINT) AS bm25_rank, CAST(rc AS BIGINT) AS cos_rank,
        |  round(COALESCE(1.0 / (rb + 60), 0.0) + COALESCE(1.0 / (rc + 60), 0.0), 12) AS rrf
        |FROM f ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin)),

    QuerySpec("q192_cluster_labels", (s, dir) => {
      // cluster labeling — the corpus-cartography readout ("what IS
      // each embedding cluster?") that makes q177/q178/q188's codebook
      // human-legible: q177's map-side assignment joined to one
      // tokenize pass, then q163's prior-smoothed log-odds scored per
      // CLUSTER against the rest of the corpus; top-3 distinctive
      // terms per cluster ride a WindowGroupLimit. Word and cluster
      // totals are roll-ups of the same (cluster, word) counts —
      // one tokenize, one content shuffle.
      val emb = Tables.embeddings(s, dir)
      val (state, _) = Cluster.lloyd(emb, col("vec_id"), col("embedding"), k = 8, iters = 2)
      val assign = emb.select(col("vec_id").as("doc_id"),
        Cluster.assignCol(col("embedding"), state.centroids.toSeq).as("cluster"))
      // join the cluster assignment at DOC level, then explode: the join
      // probes n_docs rows instead of n_tokens, and at 100 TB (where
      // assign is corpus-sized and must shuffle) the shuffle moves doc
      // rows, never the exploded token stream
      val words = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"))
        .join(assign, Seq("doc_id"))
        .select(col("cluster"), explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) > 0)
      val cw = Dedup.cacheScoped(
        words.groupBy(col("cluster"), col("word")).agg(count(lit(1)).as("cw")))
      val wtot = cw.groupBy(col("word")).agg(sum(col("cw")).as("w_all"))
      val ctot = cw.groupBy(col("cluster")).agg(sum(col("cw")).as("n_c"))
      val n = ctot.agg(sum(col("n_c")).as("n_all"))
      val z = cw.join(broadcast(wtot), Seq("word")).join(broadcast(ctot), Seq("cluster"))
        .crossJoin(broadcast(n))
        .withColumn("rest", col("w_all") - col("cw"))
        .withColumn("n_rest", col("n_all") - col("n_c"))
        .withColumn("z", pround(
          (log((col("cw") + 0.5) / (col("n_c") - col("cw") + 0.5))
            - log((col("rest") + 0.5) / (col("n_rest") - col("rest") + 0.5)))
          / sqrt(lit(1.0) / (col("cw") + 0.5) + lit(1.0) / (col("rest") + 0.5)), 9))
      val w = Window.partitionBy(col("cluster")).orderBy(desc("z"), col("word"))
      z.withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
        .select(col("cluster").cast("long").as("cluster"), col("word"), col("cw"),
          col("z"), col("rank").cast("long").as("rank"))
    }, Some(
      s"""$kmeansBaseCte,
         |${kmeansIterCte(1)},
         |a2 AS (SELECT vec_id, cid FROM (
         |    SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY list_distance(e.emb, c.cvec), c.cid) AS rk
         |    FROM e, cent1 c) WHERE rk = 1),
         |w0 AS (SELECT d.doc_id, unnest(string_split(d.text, ' ')) AS word FROM documents d),
         |w1 AS (SELECT a.cid AS cluster, word FROM w0 JOIN a2 a ON a.vec_id = w0.doc_id
         |       WHERE length(word) > 0),
         |cw AS (SELECT cluster, word, COUNT(*) AS cw FROM w1 GROUP BY cluster, word),
         |wt AS (SELECT word, SUM(cw) AS w_all FROM cw GROUP BY word),
         |ct AS (SELECT cluster, SUM(cw) AS n_c FROM cw GROUP BY cluster),
         |n AS (SELECT SUM(n_c) AS n_all FROM ct),
         |z AS (SELECT cw.cluster, cw.word, cw.cw,
         |        round((ln((cw.cw + 0.5) / (ct.n_c - cw.cw + 0.5))
         |             - ln(((wt.w_all - cw.cw) + 0.5) / ((n.n_all - ct.n_c) - (wt.w_all - cw.cw) + 0.5)))
         |          / sqrt(1.0 / (cw.cw + 0.5) + 1.0 / ((wt.w_all - cw.cw) + 0.5)), 9) AS z
         |      FROM cw JOIN wt USING (word) JOIN ct USING (cluster), n)
         |SELECT CAST(cluster AS BIGINT) AS cluster, word, cw, z, CAST(rank AS BIGINT) AS rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY cluster ORDER BY z DESC, word) AS rank FROM z)
         |WHERE rank <= 3""".stripMargin)),

    QuerySpec("q199_embedding_dim_profile", (s, dir) => {
      // per-DIMENSION embedding QC — mean/std/min/max and a dead-dim
      // flag per coordinate (collapsed training runs and quantization
      // bugs surface as near-zero-variance dims; the vector-column
      // twin of q84's table profile and the moments behind q96's
      // min-max scaling stats). One posexplode scan, one (dim)
      // partial agg of exact-decimal Σv/Σv² — shuffle rows are
      // dims × partitions, independent of corpus size; moments are
      // pure IEEE arithmetic on the exact sums (q103 discipline).
      val D = DecimalType(27, 12)
      val e = Tables.embeddings(s, dir)
        .select(posexplode(col("embedding")).as(Seq("dim", "v")))
        .select(col("dim").cast("long").as("dim"), col("v").cast("double").as("v"))
      val stats = e.groupBy(col("dim")).agg(
        count(lit(1)).as("n"),
        sum(col("v").cast(D)).cast("double").as("sv"),
        sum((col("v") * col("v")).cast(D)).cast("double").as("svv"),
        min(col("v")).as("vmin"), max(col("v")).as("vmax"))
      val nd = col("n").cast("double")
      val variance = greatest((col("svv") - col("sv") * col("sv") / nd) / nd, lit(0.0))
      stats.select(col("dim"), col("n"),
        (floor(col("sv") / nd * 1e9 + 0.5) / 1e9).as("mean"),
        (floor(sqrt(variance) * 1e9 + 0.5) / 1e9).as("std"),
        col("vmin"), col("vmax"),
        (sqrt(variance) < 1e-6).as("dead"))
        .orderBy(col("dim"))
    }, Some(
      """WITH x AS (SELECT CAST(g.i - 1 AS BIGINT) AS dim, CAST(e.embedding[g.i] AS DOUBLE) AS v
        |           FROM embeddings e, LATERAL (SELECT unnest(generate_series(1, len(e.embedding))) AS i) g),
        |st AS (SELECT dim, COUNT(*) AS n,
        |         CAST(SUM(CAST(v AS DECIMAL(27,12))) AS DOUBLE) AS sv,
        |         CAST(SUM(CAST(v * v AS DECIMAL(27,12))) AS DOUBLE) AS svv,
        |         MIN(v) AS vmin, MAX(v) AS vmax
        |       FROM x GROUP BY dim)
        |SELECT dim, n,
        |  FLOOR(sv / n * 1e9 + 0.5) / 1e9 AS mean,
        |  FLOOR(SQRT(GREATEST((svv - sv * sv / n) / n, 0.0)) * 1e9 + 0.5) / 1e9 AS std,
        |  vmin, vmax,
        |  (SQRT(GREATEST((svv - sv * sv / n) / n, 0.0)) < 1e-6) AS dead
        |FROM st ORDER BY dim""".stripMargin)),

    QuerySpec("q202_phrase_search", (s, dir) => {
      // phrase search over a POSITIONAL posting join — the retrieval
      // feature q169's BM25 (bag-of-words) and q190's fusion can't
      // express: "w1 w2" as ADJACENT tokens. The corpus's top bigram
      // (found with one per-doc lead pass, q181's gram shape) is the
      // query; matching is two posting-list filters (map-side against
      // the broadcast 1-row phrase) equi-joined on doc_id with the
      // pos+1 adjacency predicate — the inverted-index formulation:
      // no document is ever re-scanned or reconstructed, and the join
      // size is bounded by the two posting lists, not the corpus.
      val tokens = Dedup.cacheScoped(Tables.documents(s, dir)
        .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
        .filter(length(col("word")) > 0)
        .select(col("doc_id"), col("pos").cast("long").as("pos"), col("word")))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val top = tokens
        .select(col("word").as("w1"), lead(col("word"), 1).over(w).as("w2"))
        .filter(col("w2").isNotNull)
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), col("w1"), col("w2")).limit(1)
      val a = tokens.join(broadcast(top.select(col("w1").as("word"))), Seq("word"))
        .select(col("doc_id"), col("pos"))
      val b = tokens.join(broadcast(top.select(col("w2").as("word"))), Seq("word"))
        .select(col("doc_id"), col("pos").as("pos2"))
      a.join(b, a("doc_id") === b("doc_id") && col("pos2") === col("pos") + 1)
        .select(a("doc_id"))
        .agg(countDistinct(col("doc_id")).as("n_docs"), count(lit(1)).as("n_occurrences"))
        .crossJoin(broadcast(top.select(col("w1"), col("w2"))))
        .select(col("w1"), col("w2"), col("n_docs"), col("n_occurrences"))
    }, Some(
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |tok AS (SELECT doc_id, CAST(g.i - 1 AS BIGINT) AS pos, ws[g.i] AS word
        |        FROM t, LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i) g
        |        WHERE length(ws[g.i]) > 0),
        |bg AS (SELECT word AS w1,
        |         lead(word, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        |       FROM tok),
        |top AS (SELECT w1, w2, COUNT(*) AS cnt FROM bg WHERE w2 IS NOT NULL
        |        GROUP BY 1, 2 ORDER BY cnt DESC, w1, w2 LIMIT 1),
        |a AS (SELECT doc_id, pos FROM tok JOIN top ON tok.word = top.w1),
        |b AS (SELECT doc_id, pos FROM tok JOIN top ON tok.word = top.w2),
        |m AS (SELECT a.doc_id FROM a JOIN b
        |      ON a.doc_id = b.doc_id AND b.pos = a.pos + 1)
        |SELECT top.w1, top.w2, s.n_docs, s.n_occurrences
        |FROM (SELECT COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_occurrences FROM m) s, top""".stripMargin)),

    QuerySpec("q226_embedding_covariance", (s, dir) => {
      // per-label covariance matrix of the first 16 embedding dims
      // [EXT] — the PCA/whitening prep and the QC companion to q199's
      // per-dim profile (a near-singular covariance flags collapsed
      // dimensions; cross-label covariance shifts flag encoder drift).
      // Upper triangle flattened MAP-SIDE by a nested posexplode over
      // the same row (never a self-join): n·d(d+1)/2 product rows flow
      // into a partial agg keyed by (label, i, j), so the shuffle
      // carries ≤ labels·136 cells at any corpus size. float·float is
      // EXACT in double (24-bit mantissas), the per-cell sums reduce
      // in DECIMAL(27,12) (order-free), and cov = E[xy] − E[x]E[y]
      // closes in IEEE doubles + pround. Dims are 1-based in the
      // output to match the oracle's list indexing.
      val d = 16
      val base = Tables.embeddings(s, dir)
        .select(col("label").cast("long").as("label"),
          slice(col("embedding"), 1, d).as("e"))
      val lvl1 = base.select(col("label"), col("e"),
        posexplode(col("e")).as(Seq("i0", "xi")))
      val tri = lvl1.select(col("label"), col("i0"), col("xi"),
          posexplode(slice(col("e"), col("i0") + 1, lit(d))).as(Seq("k", "xj")))
        .select(col("label"), (col("i0") + 1).as("i"),
          (col("i0") + col("k") + 1).as("j"),
          (col("xi").cast("double") * col("xj").cast("double")).as("xy"))
      val sxy = tri.groupBy(col("label"), col("i"), col("j"))
        .agg(sum(col("xy").cast(DecimalType(27, 12))).cast("double").as("sxy"),
          count(lit(1)).as("n"))
      val mx = base.select(col("label"), posexplode(col("e")).as(Seq("i0", "x")))
        .groupBy(col("label"), (col("i0") + 1).as("i"))
        .agg(sum(col("x").cast("double").cast(DecimalType(27, 12)))
          .cast("double").as("sx"))
      sxy
        .join(broadcast(mx.select(col("label"), col("i"), col("sx").as("sxi"))),
          Seq("label", "i"))
        .join(broadcast(mx.select(col("label"), col("i").as("j"), col("sx").as("sxj"))),
          Seq("label", "j"))
        .select(col("label"), col("i"), col("j"),
          pround(col("sxy") / col("n")
            - (col("sxi") / col("n")) * (col("sxj") / col("n")), 9).as("cov"))
        .orderBy(col("label"), col("i"), col("j"))
    }, Some(
      """WITH g AS (SELECT a.i, b.j
        |           FROM (SELECT unnest(generate_series(1, 16)) AS i) a,
        |                (SELECT unnest(generate_series(1, 16)) AS j) b
        |           WHERE b.j >= a.i),
        |tri AS (SELECT CAST(e.label AS BIGINT) AS label, g.i, g.j,
        |          CAST(e.embedding[g.i] AS DOUBLE) * CAST(e.embedding[g.j] AS DOUBLE) AS xy
        |        FROM embeddings e, g),
        |sxy AS (SELECT label, i, j,
        |          CAST(SUM(CAST(xy AS DECIMAL(27,12))) AS DOUBLE) AS sxy,
        |          COUNT(*) AS n
        |        FROM tri GROUP BY 1, 2, 3),
        |mx AS (SELECT CAST(e.label AS BIGINT) AS label, d.i,
        |         CAST(SUM(CAST(CAST(e.embedding[d.i] AS DOUBLE) AS DECIMAL(27,12))) AS DOUBLE) AS sx
        |       FROM embeddings e, (SELECT unnest(generate_series(1, 16)) AS i) d
        |       GROUP BY 1, 2)
        |SELECT s.label, s.i, s.j,
        |  round(s.sxy / s.n - (a.sx / s.n) * (b.sx / s.n), 9) AS cov
        |FROM sxy s
        |JOIN mx a ON a.label = s.label AND a.i = s.i
        |JOIN mx b ON b.label = s.label AND b.i = s.j
        |ORDER BY s.label, s.i, s.j""".stripMargin)),

    QuerySpec("q242_mmr_rerank", (s, dir) => {
      // MMR diversified retrieval [EXT] — the rerank between q36's raw
      // top-k and what a RAG context window actually wants: k results
      // that are relevant AND non-redundant (raw top-k over a corpus
      // with near-dups returns the same passage k times; MMR trades
      // λ·relevance against (1−λ)·max-similarity-to-selected). The
      // distributed shape: candidate generation is the corpus-scale
      // bruteForceTopK (broadcast query, WindowGroupLimit top-pool);
      // the greedy argmax — inherently sequential in k — runs on the
      // ≤50-row pool driver-side (bounded by construction, the q177
      // centroid-walk collect tier). Oracle row since round 12: the 10
      // greedy steps unroll as materialized CTEs (the q177/q208
      // discipline) over a precomputed pool×pool cosine CTE;
      // mmrSelect's cosine is dot/(√na·√nb) in array order — exactly
      // DuckDB's list_cosine_similarity (the q36 parity precedent) —
      // and the score 0.7·rel − (1.0−0.7)·maxsim is the same IEEE
      // expression both sides, so every argmax compares identical
      // doubles (ties break by vec_id in both engines). OperatorSpec
      // additionally pins the selection to an independent quadratic
      // reference + invariants.
      val emb = Tables.embeddings(s, dir)
      val qv = emb.orderBy(col("vec_id")).limit(1)
      val pool = Similarity.bruteForceTopK(
        emb, col("vec_id"), col("embedding"),
        qv, col("vec_id"), col("embedding"), k = 50)
      val rows = pool
        .join(emb.select(col("vec_id").as("neighbor_id"), col("embedding")),
          Seq("neighbor_id"))
        .select(col("neighbor_id"), col("embedding"), col("cosine"))
        .collect() // ≤ pool rows by construction — never corpus-sized
      val cands = rows.map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toArray, r.getDouble(2))).toIndexedSeq
      val sel = Similarity.mmrSelect(cands, k = 10, lambda = 0.7)
      import s.implicits._
      sel.toDF("vec_id", "mmr", "rank")
        .select(col("rank").cast("long").as("rank"), col("vec_id"),
          pround(col("mmr"), 9).as("mmr_score"))
        .orderBy(col("rank"))
    },
    // MMR greedy rerank, 10 materialized unrolled steps over a pool×pool
    // cosine CTE; list_cosine_similarity is bit-equal to mmrSelect's
    // dot/(√na·√nb) in array order (the q36 precedent)
    Some(
      s"""WITH q AS MATERIALIZED (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
         |           FROM embeddings ORDER BY vec_id LIMIT 1),
         |sall AS MATERIALIZED (SELECT c.vec_id,
         |           list_cosine_similarity(q.qv, CAST(c.embedding AS DOUBLE[])) AS rel
         |         FROM embeddings c, q WHERE c.vec_id != q.qid),
         |pool AS MATERIALIZED (SELECT vec_id, rel FROM (
         |           SELECT vec_id, rel,
         |             row_number() OVER (ORDER BY rel DESC, vec_id) AS rk
         |           FROM sall) WHERE rk <= 50),
         |pe AS MATERIALIZED (SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v
         |       FROM embeddings e
         |       WHERE e.vec_id IN (SELECT vec_id FROM pool)),
         |pc AS MATERIALIZED (SELECT a.vec_id AS u, b.vec_id AS w,
         |         list_cosine_similarity(a.v, b.v) AS c
         |       FROM pe a, pe b WHERE a.vec_id != b.vec_id),
         |p1 AS MATERIALIZED (SELECT vec_id, 0.7 * rel - (1.0 - 0.7) * 0.0 AS mmr, 1 AS rank
         |       FROM pool ORDER BY mmr DESC, vec_id LIMIT 1),
         |k1 AS MATERIALIZED (SELECT vec_id, mmr, rank FROM p1),
         |${mmrStepCtes(10)}
         |SELECT CAST(rank AS BIGINT) AS rank, vec_id, round(mmr, 9) AS mmr_score
         |FROM k10 ORDER BY rank""".stripMargin)),

    QuerySpec("q249_rbo_sources", (s, dir) => {
      // rank-biased overlap between source top-20 token lists [EXT] —
      // Webber et al.'s top-weighted list-similarity: q240's JSD
      // compares the full DISTRIBUTIONS; RBO asks "do the sources
      // agree on what's at the TOP", the right metric for vocabulary-
      // head drift between corpus snapshots. RBO@k = (1−p)·Σ_{d≤k}
      // p^{d−1}·|A_d∩B_d|/d with p=0.9. The geometric weights are a
      // PRECOMPUTED literal ladder (both engines parse the same
      // shortest-repr doubles — the q235 CDF-ladder portability trick;
      // computing p^(d−1) via pow() would race engine libm), the
      // per-source top-20 is a WindowGroupLimit, the depth frame is a
      // ≤20-row explode over the ≤400-cell pair join, and the weighted
      // terms floor-round at 12 into a DECIMAL sum.
      val p = 0.9
      val K = 20
      val weights = (1 to K).map(d => (1 - p) * math.pow(p, d - 1))
      val wArr = array(weights.map(lit): _*)
      val toks = Tables.documents(s, dir)
        .select(col("source"), explode(split(lower(col("text")), " ")).as("w"))
        .filter(length(col("w")) > 0)
      val wRank = Window.partitionBy(col("source"))
        .orderBy(col("cnt").desc, col("w"))
      val top = Dedup.cacheScoped(toks
        .groupBy(col("source"), col("w")).agg(count(lit(1)).as("cnt"))
        .withColumn("r", row_number().over(wRank))
        .filter(col("r") <= K)
        .select(col("source"), col("w"), col("r")))
      val pairs = top.select(col("source").as("s1"), col("w"), col("r").as("ra"))
        .join(top.select(col("source").as("s2"), col("w"), col("r").as("rb")),
          Seq("w"))
        .filter(col("s1") < col("s2"))
      pairs.withColumn("d", explode(sequence(greatest(col("ra"), col("rb")), lit(K))))
        .groupBy(col("s1"), col("s2"), col("d"))
        .agg(count(lit(1)).as("xd"))
        .select(col("s1"), col("s2"),
          (floor(element_at(wArr, col("d").cast("int"))
            * col("xd") / col("d") * 1e12 + 0.5) / 1e12)
            .cast(DecimalType(27, 14)).as("t"))
        .groupBy(col("s1"), col("s2"))
        .agg((floor(sum(col("t")).cast("double") * 1e9 + 0.5) / 1e9).as("rbo"))
        .orderBy(col("s1"), col("s2"))
    }, Some {
      // the same literal weight ladder the Spark side embeds — the
      // IDENTICAL Scala expression, so both engines parse identical
      // shortest-repr doubles (q235 pattern; note (1 − 0.9) ≠ 0.1 in
      // IEEE — the expression text must match, not just the math)
      val ws = (1 to 20).map(d => (1 - 0.9) * math.pow(0.9, d - 1)).mkString(", ")
      s"""WITH toks AS (SELECT source, unnest(string_split(lower(text), ' ')) AS w
         |              FROM documents),
         |tc AS (SELECT source, w, COUNT(*) AS cnt FROM toks
         |       WHERE length(w) > 0 GROUP BY 1, 2),
         |top AS (SELECT source, w, r FROM (
         |          SELECT source, w,
         |            row_number() OVER (PARTITION BY source
         |                               ORDER BY cnt DESC, w) AS r
         |          FROM tc) WHERE r <= 20),
         |pairs AS (SELECT a.source AS s1, b.source AS s2, a.r AS ra, b.r AS rb
         |          FROM top a JOIN top b ON a.w = b.w AND a.source < b.source),
         |dep AS (SELECT s1, s2, d.d, COUNT(*) AS xd
         |        FROM pairs, (SELECT unnest(generate_series(1, 20)) AS d) d
         |        WHERE d.d >= greatest(ra, rb)
         |        GROUP BY 1, 2, 3),
         |tm AS (SELECT s1, s2,
         |         FLOOR([$ws][CAST(d AS INTEGER)] * xd / d * 1e12 + 0.5) / 1e12 AS t
         |       FROM dep)
         |SELECT s1, s2,
         |  FLOOR(CAST(SUM(CAST(t AS DECIMAL(27,14))) AS DOUBLE) * 1e9 + 0.5) / 1e9
         |    AS rbo
         |FROM tm GROUP BY 1, 2 ORDER BY s1, s2""".stripMargin
    }),

    QuerySpec("q253_silhouette", (s, dir) => {
      // simplified silhouette over the q177 Lloyd clustering [EXT] —
      // the cluster-VALIDATION scalar the k-means family lacked
      // (q177 trains, q192 labels, q188 probes; nothing said whether
      // k=8 is any good): s_i = (b−a)/max(a,b) with a = distance to
      // the own centroid, b = to the nearest other (Hruschka's
      // centroid-based simplification — the O(n·k) form that scales;
      // full silhouette is O(n²) pairwise). Distances are per-dim
      // (x−c)² terms floor-rounded at 12 and DECIMAL-summed (the q226
      // triangle discipline), which makes d² bit-identical across
      // engines BEFORE the assignment argmin — so even equidistant
      // ties cannot diverge (stronger than ordering on raw
      // list_distance). Centroids are k×d literals (corpus never
      // shuffles to be assigned); the d² frame is |corpus|·k rows.
      // r19 (guide §2.4): the per-(vector, centroid) d² frame is pure
      // MAP-SIDE math — each of the k=8 distances folds in-row against
      // the centroid literal (the Pca.topComponent exact-DECIMAL fold;
      // a sequential exact-decimal fold equals the old per-(vec, cid)
      // grouped sum term-for-term), and nearest/second-nearest come
      // from an in-row sort of the 8 (d2, cid) structs — exactly the
      // old window's (d2, cid) total order. The old shape exploded
      // |corpus|·64 rows, broadcast-joined each against 8 centroids,
      // shuffled the |corpus|·8 d² frame into a groupBy and ranked it
      // through a second window exchange — both exchanges gone; the
      // only shuffle left is the ≤k-row cluster roll-up (plus lloyd's
      // own iteration aggs, unchanged).
      val emb = Tables.embeddings(s, dir)
      val (state, _) = Cluster.lloyd(emb, col("vec_id"), col("embedding"),
        k = 8, iters = 3)
      val D14 = DecimalType(27, 14)
      val d2Structs = state.centroids.zipWithIndex.map { case (cvec, i) =>
        val cLit = array(cvec.toIndexedSeq.map(v => lit(v.toDouble)): _*)
        val d2 = aggregate(
          zip_with(col("embedding"), cLit, (x, c) =>
            (floor((x.cast("double") - c) * (x.cast("double") - c) * 1e12 + 0.5) / 1e12)
              .cast(D14)),
          lit(0).cast(D14), (acc, t) => (acc + t).cast(D14)).cast("double")
        struct(d2.as("d2"), lit(i.toLong).as("cid"))
      }
      val ab = emb
        .select(col("vec_id"), array_sort(array(d2Structs.toIndexedSeq: _*)).as("ds"))
        .select(col("vec_id"), col("ds")(0).getField("cid").as("cid"),
          sqrt(col("ds")(0).getField("d2")).as("a"),
          sqrt(col("ds")(1).getField("d2")).as("b"))
      ab.select(col("cid"),
          when(greatest(col("a"), col("b")) > 0,
            floor((col("b") - col("a")) / greatest(col("a"), col("b"))
              * 1e12 + 0.5) / 1e12).otherwise(lit(0.0))
            .cast(DecimalType(27, 14)).as("sil"))
        .groupBy(col("cid"))
        .agg(count(lit(1)).as("n_vecs"),
          (floor(sum(col("sil")).cast("double") / count(lit(1)) * 1e9 + 0.5) / 1e9)
            .as("silhouette"))
        .select(col("cid").as("cluster"), col("n_vecs"), col("silhouette"))
        .orderBy(col("cluster"))
    }, Some(
      s"""$kmeansBaseCte,
         |${kmeansIterCte(1)},
         |${kmeansIterCte(2)},
         |cd AS (SELECT c.cid, CAST(g.i - 1 AS BIGINT) AS dim, c.cvec[g.i] AS cv
         |       FROM cent2 c,
         |       LATERAL (SELECT unnest(generate_series(1, len(c.cvec))) AS i) g),
         |xd AS (SELECT e.vec_id, CAST(g.i - 1 AS BIGINT) AS dim,
         |         CAST(e.embedding[g.i] AS DOUBLE) AS x
         |       FROM e,
         |       LATERAL (SELECT unnest(generate_series(1, len(e.embedding))) AS i) g),
         |d2 AS (SELECT x.vec_id, c.cid,
         |         CAST(SUM(CAST(FLOOR((x.x - c.cv) * (x.x - c.cv) * 1e12 + 0.5) / 1e12
         |           AS DECIMAL(27,14))) AS DOUBLE) AS d2
         |       FROM xd x JOIN cd c USING (dim) GROUP BY 1, 2),
         |r AS (SELECT vec_id, cid, d2,
         |        row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rk
         |      FROM d2),
         |ab AS (SELECT vec_id, MAX(CASE WHEN rk = 1 THEN cid END) AS cid,
         |         sqrt(MAX(CASE WHEN rk = 1 THEN d2 END)) AS a,
         |         sqrt(MAX(CASE WHEN rk = 2 THEN d2 END)) AS b
         |       FROM r WHERE rk <= 2 GROUP BY 1),
         |si AS (SELECT cid,
         |         CASE WHEN greatest(a, b) > 0
         |              THEN FLOOR((b - a) / greatest(a, b) * 1e12 + 0.5) / 1e12
         |              ELSE 0.0 END AS s
         |       FROM ab)
         |SELECT CAST(cid AS BIGINT) AS cluster, COUNT(*) AS n_vecs,
         |  FLOOR(CAST(SUM(CAST(s AS DECIMAL(27,14))) AS DOUBLE) / COUNT(*)
         |    * 1e9 + 0.5) / 1e9 AS silhouette
         |FROM si GROUP BY 1 ORDER BY cluster""".stripMargin)),

    QuerySpec("q263_ndcg", (s, dir) => {
      // nDCG@10 of the BM25 ranking [EXT] — the graded ranking-quality
      // metric the IR family lacked (the recall@k specs check ANN
      // CANDIDATE quality; nDCG scores the ORDERING): relevance = tf
      // of the query's first term capped at 3 (a deterministic graded
      // proxy both engines derive from the same posting lists), gains
      // 2^rel−1, discounts 1/log₂(i+1) as a literal ladder (q249
      // discipline — never engine log2), IDCG from the corpus-ideal
      // ordering so a perfect ranker scores exactly 1. The only
      // corpus-sized pass is the shared tokenize; the ranking and the
      // ideal list are ≤10-row frames.
      val discounts = (1 to 10).map(i => 1.0 / (math.log(i + 1.0) / math.log(2.0)))
      val dArr = array(discounts.map(lit): _*)
      val (bm25, words) = bm25Scores(s, dir)
      val rel = words.filter(col("w") === bm25Terms.head)
        .groupBy(col("doc_id")).agg(least(count(lit(1)), lit(3L)).as("rel"))
      def gain(c: Column) = when(c === 1, 1L).when(c === 2, 3L)
        .when(c === 3, 7L).otherwise(0L)
      val wTop = Window.orderBy(desc("bm25"), col("doc_id"))
      val dcg = bm25.orderBy(desc("bm25"), col("doc_id")).limit(10)
        .withColumn("i", row_number().over(wTop))
        .join(rel, Seq("doc_id"), "left")
        .select((floor(gain(coalesce(col("rel"), lit(0L))).cast("double")
          * element_at(dArr, col("i")) * 1e12 + 0.5) / 1e12)
          .cast(DecimalType(27, 14)).as("t"))
        .agg(sum(col("t")).cast("double").as("dcg"))
      val wIdeal = Window.orderBy(desc("rel"), col("doc_id"))
      val idcg = rel.orderBy(desc("rel"), col("doc_id")).limit(10)
        .withColumn("i", row_number().over(wIdeal))
        .select((floor(gain(col("rel")).cast("double")
          * element_at(dArr, col("i")) * 1e12 + 0.5) / 1e12)
          .cast(DecimalType(27, 14)).as("t"))
        .agg(sum(col("t")).cast("double").as("idcg"))
      dcg.crossJoin(broadcast(idcg))
        .filter(col("idcg") > 0)
        .select(pround(col("dcg"), 9).as("dcg"), pround(col("idcg"), 9).as("idcg"),
          (floor(col("dcg") / col("idcg") * 1e9 + 0.5) / 1e9).as("ndcg"))
    }, Some {
      // the identical Scala discount ladder the Spark side embeds
      val ds = (1 to 10).map(i => 1.0 / (math.log(i + 1.0) / math.log(2.0)))
        .mkString(", ")
      s"""$bm25Cte,
         |rel AS (SELECT doc_id, least(COUNT(*), 3) AS rel FROM w2
         |        WHERE w = 'spark' GROUP BY doc_id),
         |rk AS (SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS i
         |       FROM bm ORDER BY bm25 DESC, doc_id LIMIT 10),
         |dcg AS (SELECT CAST(SUM(CAST(
         |          FLOOR((CASE COALESCE(rel.rel, 0) WHEN 1 THEN 1 WHEN 2 THEN 3
         |                 WHEN 3 THEN 7 ELSE 0 END)
         |            * [$ds][CAST(rk.i AS INTEGER)] * 1e12 + 0.5) / 1e12
         |          AS DECIMAL(27,14))) AS DOUBLE) AS dcg
         |        FROM rk LEFT JOIN rel USING (doc_id)),
         |irk AS (SELECT rel, row_number() OVER (ORDER BY rel DESC, doc_id) AS i
         |        FROM rel ORDER BY rel DESC, doc_id LIMIT 10),
         |idcg AS (SELECT CAST(SUM(CAST(
         |           FLOOR((CASE rel WHEN 1 THEN 1 WHEN 2 THEN 3
         |                  WHEN 3 THEN 7 ELSE 0 END)
         |             * [$ds][CAST(i AS INTEGER)] * 1e12 + 0.5) / 1e12
         |           AS DECIMAL(27,14))) AS DOUBLE) AS idcg
         |         FROM irk)
         |SELECT round(dcg, 9) AS dcg, round(idcg, 9) AS idcg,
         |  FLOOR(dcg / idcg * 1e9 + 0.5) / 1e9 AS ndcg
         |FROM dcg, idcg WHERE idcg > 0""".stripMargin
    }),

    QuerySpec("q264_map_at_k", (s, dir) => {
      // MAP@10 of the BM25 ranking [EXT] — the binary-relevance
      // companion to q263's graded nDCG: average precision integrates
      // precision at every relevant rank, so one irrelevant doc ranked
      // above a relevant one is charged at exactly the rank it
      // corrupts (the canonical ad-hoc-retrieval headline metric).
      // rel = doc contains the query's head term; AP@10 =
      // Σ_{i≤10, rel_i} P@i / min(R, 10) with R the corpus-wide
      // relevant count (the TREC-eval denominator). Only corpus-sized
      // pass is [[bm25Scores]]' shared tokenize; the ranked frame is
      // 10 rows. P@i is an exact-long ratio pround(12) into a DECIMAL
      // sum; floor-9 close.
      val (bm25, words) = bm25Scores(s, dir)
      val rel = words.filter(col("w") === bm25Terms.head)
        .select(col("doc_id")).distinct()
      val nRel = rel.agg(count(lit(1)).as("n_rel"))
      val wTop = Window.orderBy(desc("bm25"), col("doc_id"))
      bm25.orderBy(desc("bm25"), col("doc_id")).limit(10)
        .withColumn("i", row_number().over(wTop))
        .join(rel.withColumn("hit", lit(1L)), Seq("doc_id"), "left")
        .withColumn("hit", coalesce(col("hit"), lit(0L)))
        .withColumn("cumhit", sum(col("hit")).over(
          wTop.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .agg(
          sum(when(col("hit") === 1L,
              pround(col("cumhit").cast("double") / col("i"), 12))
            .otherwise(lit(0.0)).cast(DecimalType(27, 14))).as("apnum"),
          sum(col("hit")).as("hits"))
        .crossJoin(broadcast(nRel))
        .filter(col("n_rel") > 0)
        .select(col("n_rel"), col("hits").as("hits_at_10"),
          (floor(col("apnum").cast("double")
            / least(col("n_rel"), lit(10L)).cast("double") * 1e9 + 0.5) / 1e9)
            .as("ap_at_10"))
    }, Some(
      s"""$bm25Cte,
         |rel AS (SELECT DISTINCT doc_id FROM w2 WHERE w = 'spark'),
         |rk AS (SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS i
         |       FROM bm ORDER BY bm25 DESC, doc_id LIMIT 10),
         |h AS (SELECT rk.i, CASE WHEN rel.doc_id IS NULL THEN 0 ELSE 1 END AS hit
         |      FROM rk LEFT JOIN rel USING (doc_id)),
         |ch AS (SELECT i, hit, SUM(hit) OVER (ORDER BY i) AS cumhit FROM h),
         |a AS (SELECT COALESCE(SUM(CASE WHEN hit = 1
         |          THEN CAST(round(CAST(cumhit AS DOUBLE) / i, 12) AS DECIMAL(27,14))
         |          ELSE CAST(0 AS DECIMAL(27,14)) END), 0) AS apnum,
         |        COALESCE(SUM(hit), 0) AS hits FROM ch),
         |nr AS (SELECT COUNT(*) AS n_rel FROM rel)
         |SELECT CAST(n_rel AS BIGINT) AS n_rel, CAST(hits AS BIGINT) AS hits_at_10,
         |  FLOOR(CAST(apnum AS DOUBLE) / CAST(least(n_rel, 10) AS DOUBLE)
         |    * 1e9 + 0.5) / 1e9 AS ap_at_10
         |FROM a, nr WHERE n_rel > 0""".stripMargin)),

    QuerySpec("q293_centroid_drift", (s, dir) => {
      // per-label embedding-centroid drift [EXT] — the vector-space
      // version of q240's distributional divergence: cosine between
      // each label's centroid and the global centroid (a label whose
      // centroid drifts from the corpus mean is a candidate for
      // re-embedding or split). Centroids are per-dimension means from
      // ONE posexplode pass (map-side partial aggs); the cosine closes
      // on the |labels|×dim frame with per-dim products pround(12)
      // into DECIMAL sums — the q117/q226 embedding-oracle idiom.
      val e = Dedup.cacheScoped(Tables.embeddings(s, dir)
        .select(col("label"), posexplode(col("embedding")).as(Seq("i", "x")))
        .select(col("label"), col("i"), col("x").cast("double").as("x")))
      val perL = e.groupBy(col("label"), col("i"))
        .agg((floor(sum(col("x").cast(DecimalType(27, 12))).cast("double")
          / count(lit(1)) * 1e9 + 0.5) / 1e9).as("cl"))
      val glob = e.groupBy(col("i"))
        .agg((floor(sum(col("x").cast(DecimalType(27, 12))).cast("double")
          / count(lit(1)) * 1e9 + 0.5) / 1e9).as("cg"))
      perL.join(broadcast(glob), Seq("i"))
        .groupBy(col("label"))
        .agg(
          sum(pround(col("cl") * col("cg"), 12).cast(DecimalType(27, 14)))
            .cast("double").as("dot"),
          sum(pround(col("cl") * col("cl"), 12).cast(DecimalType(27, 14)))
            .cast("double").as("nl"),
          sum(pround(col("cg") * col("cg"), 12).cast(DecimalType(27, 14)))
            .cast("double").as("ng"))
        .filter(col("nl") > 0 && col("ng") > 0)
        .select(col("label"),
          (floor(col("dot") / (sqrt(col("nl")) * sqrt(col("ng")))
            * 1e9 + 0.5) / 1e9).as("cos_to_global"))
        .orderBy(col("label"))
    }, Some(
      """WITH e AS (SELECT label, g.i AS i, CAST(e2.embedding[g.i] AS DOUBLE) AS x
        |           FROM embeddings e2,
        |           LATERAL (SELECT unnest(generate_series(1, len(e2.embedding))) AS i) g),
        |perl AS (SELECT label, i,
        |           floor(CAST(SUM(CAST(x AS DECIMAL(27,12))) AS DOUBLE) / COUNT(*)
        |             * 1e9 + 0.5) / 1e9 AS cl
        |         FROM e GROUP BY 1, 2),
        |gcent AS (SELECT i,
        |           floor(CAST(SUM(CAST(x AS DECIMAL(27,12))) AS DOUBLE) / COUNT(*)
        |             * 1e9 + 0.5) / 1e9 AS cg
        |         FROM e GROUP BY 1),
        |ag AS (SELECT label,
        |         CAST(SUM(CAST(round(cl * cg, 12) AS DECIMAL(27,14))) AS DOUBLE) AS dot,
        |         CAST(SUM(CAST(round(cl * cl, 12) AS DECIMAL(27,14))) AS DOUBLE) AS nl,
        |         CAST(SUM(CAST(round(cg * cg, 12) AS DECIMAL(27,14))) AS DOUBLE) AS ng
        |       FROM perl JOIN gcent USING (i) GROUP BY 1)
        |SELECT label, FLOOR(dot / (sqrt(nl) * sqrt(ng)) * 1e9 + 0.5) / 1e9
        |  AS cos_to_global
        |FROM ag WHERE nl > 0 AND ng > 0 ORDER BY label""".stripMargin)),

    QuerySpec("q312_pca_power", (s, dir) => {
      // top principal component of the embedding corpus via 3 power-
      // iteration steps [EXT] — the direction-of-maximum-variance
      // diagnostic behind whitening/anisotropy checks (embedding
      // corpora are notoriously anisotropic; a dominant component
      // eating most variance degrades cosine retrieval). Fully
      // distributed: centering means and every C·v product are
      // posexplode aggs (q293's idiom); the ONLY driver state is the
      // 64-row v frame, cached per round. Iterative parity (q112):
      // every reduction is pround(12) terms into exact DECIMAL sums,
      // v re-normalizes through pround(9) per round, the oracle
      // unrolls the IDENTICAL three CTEs. λ = ‖Σᵢ c·s‖/n, explained
      // share vs the exact total variance. Machinery lives in
      // operators.Pca (topComponent/varianceStats) so the synthetic
      // known-direction spec can drive it off-fixture.
      val emb = Tables.embeddings(s, dir)
      val v3 = graft.operators.Pca.topComponent(emb, "embedding", "vec_id", 3)
      val tv = graft.operators.Pca.varianceStats(emb, "embedding")
      v3.crossJoin(broadcast(tv))
        .select((col("i") + 1).as("dim"), col("v").as("loading"),
          pround(col("nrm") / col("n"), 9).as("lambda"),
          pround(col("nrm") / col("n") / col("totvar"), 9).as("explained_frac"))
        .orderBy(col("dim"))
    }, Some(
      """WITH e AS (SELECT e2.vec_id, g.i AS i, CAST(e2.embedding[g.i] AS DOUBLE) AS x
        |           FROM embeddings e2,
        |           LATERAL (SELECT unnest(generate_series(1, len(e2.embedding))) AS i) g),
        |st AS (SELECT i, COUNT(*) AS n,
        |         floor(CAST(SUM(CAST(x AS DECIMAL(27,12))) AS DOUBLE) / COUNT(*)
        |           * 1e9 + 0.5) / 1e9 AS m,
        |         CAST(SUM(CAST(round(x * x, 12) AS DECIMAL(27,14))) AS DOUBLE) AS sxx
        |       FROM e GROUP BY 1),
        |c AS (SELECT e.vec_id, e.i, e.x - st.m AS c FROM e JOIN st USING (i)),
        |v0 AS (SELECT i, CASE WHEN i = 1 THEN 1.0 ELSE 0.0 END AS v FROM st),
        |sa AS (SELECT vec_id, CAST(SUM(CAST(round(c.c * v0.v, 12)
        |         AS DECIMAL(27,14))) AS DOUBLE) AS s
        |       FROM c JOIN v0 USING (i) GROUP BY 1),
        |ua AS (SELECT i, CAST(SUM(CAST(round(c.c * sa.s, 12)
        |         AS DECIMAL(27,14))) AS DOUBLE) AS u
        |       FROM c JOIN sa USING (vec_id) GROUP BY 1),
        |na AS (SELECT sqrt(CAST(SUM(CAST(round(u * u, 12) AS DECIMAL(27,14)))
        |         AS DOUBLE)) AS nrm FROM ua),
        |va AS (SELECT i, round(u / nrm, 9) AS v FROM ua, na),
        |sb AS (SELECT vec_id, CAST(SUM(CAST(round(c.c * va.v, 12)
        |         AS DECIMAL(27,14))) AS DOUBLE) AS s
        |       FROM c JOIN va USING (i) GROUP BY 1),
        |ub AS (SELECT i, CAST(SUM(CAST(round(c.c * sb.s, 12)
        |         AS DECIMAL(27,14))) AS DOUBLE) AS u
        |       FROM c JOIN sb USING (vec_id) GROUP BY 1),
        |nb AS (SELECT sqrt(CAST(SUM(CAST(round(u * u, 12) AS DECIMAL(27,14)))
        |         AS DOUBLE)) AS nrm FROM ub),
        |vb AS (SELECT i, round(u / nrm, 9) AS v FROM ub, nb),
        |sc AS (SELECT vec_id, CAST(SUM(CAST(round(c.c * vb.v, 12)
        |         AS DECIMAL(27,14))) AS DOUBLE) AS s
        |       FROM c JOIN vb USING (i) GROUP BY 1),
        |uc AS (SELECT i, CAST(SUM(CAST(round(c.c * sc.s, 12)
        |         AS DECIMAL(27,14))) AS DOUBLE) AS u
        |       FROM c JOIN sc USING (vec_id) GROUP BY 1),
        |nc AS (SELECT sqrt(CAST(SUM(CAST(round(u * u, 12) AS DECIMAL(27,14)))
        |         AS DOUBLE)) AS nrm FROM uc),
        |vc AS (SELECT i, round(u / nrm, 9) AS v FROM uc, nc),
        |tv AS (SELECT MAX(n) AS n,
        |         CAST(SUM(CAST(round(sxx / n - m * m, 9) AS DECIMAL(27,10)))
        |           AS DOUBLE) AS totvar
        |       FROM st)
        |SELECT CAST(vc.i AS INT) AS dim, vc.v AS loading,
        |  round(nc.nrm / tv.n, 9) AS lambda,
        |  round(nc.nrm / tv.n / tv.totvar, 9) AS explained_frac
        |FROM vc, nc, tv ORDER BY dim""".stripMargin)),

    QuerySpec("q313_query_likelihood", (s, dir) => {
      // Dirichlet-smoothed query-likelihood retrieval (μ=2000) [EXT]
      // — the language-modeling scorer next to q169's BM25 (Zhai &
      // Lafferty smoothing: score = Σ_t ln((tf + μ·p_c(t))/(|d|+μ)));
      // unlike BM25 every doc scores every query term (absent terms
      // contribute the smoothed background), so the score frame is
      // docs×|q| built from the doc-length frame — the corpus
      // tokenizes ONCE and only |q|=3 collection stats broadcast.
      // Per-term lns pround(12) into exact DECIMAL sums (q91/q169
      // discipline), close pround(9), top-20 TakeOrderedAndProject.
      val terms = Seq("spark", "join", "scan")
      val mu = 2000.0
      val words = Dedup.cacheScoped(Tables.documents(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0))
      val dl = words.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
      val cTot = words.agg(count(lit(1)).as("c_tot"))
      val cf = words.filter(col("w").isin(terms: _*))
        .groupBy(col("w")).agg(count(lit(1)).as("cf"))
      val tf = words.filter(col("w").isin(terms: _*))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
      dl.crossJoin(broadcast(cf.crossJoin(cTot)
          .select(col("w"), (col("cf").cast("double")
            / col("c_tot").cast("double")).as("p"))))
        .join(tf, Seq("doc_id", "w"), "left")
        .withColumn("t", pround(log(
          (coalesce(col("tf"), lit(0L)).cast("double") + lit(mu) * col("p"))
            / (col("dl").cast("double") + lit(mu))), 12))
        .groupBy(col("doc_id"))
        .agg(pround(sum(col("t").cast(DecimalType(27, 14))).cast("double"), 9)
          .as("ql_score"))
        .orderBy(desc("ql_score"), col("doc_id")).limit(20)
    }, Some(
      """WITH w0 AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |ww AS (SELECT doc_id, w FROM w0 WHERE len(w) > 0),
        |dl AS (SELECT doc_id, COUNT(*) AS dl FROM ww GROUP BY 1),
        |ct AS (SELECT COUNT(*) AS c_tot FROM ww),
        |cf AS (SELECT w, COUNT(*) AS cf FROM ww
        |       WHERE w IN ('spark', 'join', 'scan') GROUP BY 1),
        |tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM ww
        |       WHERE w IN ('spark', 'join', 'scan') GROUP BY 1, 2),
        |p AS (SELECT w, CAST(cf AS DOUBLE) / c_tot AS p FROM cf, ct),
        |sc AS (SELECT dl.doc_id,
        |         round(ln((COALESCE(tf.tf, 0) + 2000.0 * p.p)
        |           / (dl.dl + 2000.0)), 12) AS t
        |       FROM dl CROSS JOIN p
        |       LEFT JOIN tf ON tf.doc_id = dl.doc_id AND tf.w = p.w)
        |SELECT doc_id,
        |  round(CAST(SUM(CAST(t AS DECIMAL(27,14))) AS DOUBLE), 9) AS ql_score
        |FROM sc GROUP BY 1 ORDER BY ql_score DESC, doc_id LIMIT 20""".stripMargin)),

    QuerySpec("q348_bm25f", (s, dir) => {
      // BM25F two-field retrieval [EXT] — the fielded extension of
      // q169 (Robertson–Zaragoza simplified form): a hit in the TITLE
      // (first 100 chars — the fixture's stand-in for a structured
      // title field) weighs 2× a body hit, each field length-
      // normalized against its own corpus average BEFORE the k1
      // saturation — the shape every product search engine runs.
      // Same posting-list economics as q169: one tokenize pass per
      // field, only the 3 query terms' postings reach the scoring
      // join, field stats ride a scalar broadcast. Per-term scores
      // pround(12) → exact DECIMAL sum, top-20 TakeOrderedAndProject.
      val terms = Seq("spark", "join", "scan")
      def toks(c: Column) = explode(split(c, " "))
      val docs = Dedup.cacheScoped(Tables.documents(s, dir)
        .select(col("doc_id"), substring(col("text"), 1, 100).as("title"),
          substring(col("text"), 101, 1000000).as("body")))
      def field(c: String) = Dedup.cacheScoped(docs
        .select(col("doc_id"), toks(col(c)).as("w"))
        .filter(length(col("w")) > 0))
      val tw = field("title"); val bw = field("body")
      def dl(df: DataFrame) = df.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
      val tdl = dl(tw); val bdl = dl(bw)
      val st = tdl.agg(sum(col("dl")).as("t_tot"), count(lit(1)).as("t_n"))
        .crossJoin(bdl.agg(sum(col("dl")).as("b_tot"), count(lit(1)).as("b_n")))
      def tf(df: DataFrame) = df.filter(col("w").isin(terms: _*))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
      val joined = tf(tw).withColumnRenamed("tf", "tf_t")
        .join(tf(bw).withColumnRenamed("tf", "tf_b"), Seq("doc_id", "w"),
          "full_outer")
        .join(tdl.withColumnRenamed("dl", "dl_t"), Seq("doc_id"), "left")
        .join(bdl.withColumnRenamed("dl", "dl_b"), Seq("doc_id"), "left")
        .crossJoin(broadcast(st))
      val nDocs = col("t_n").cast("double")
      val avT = col("t_tot").cast("double") / col("t_n")
      val avB = col("b_tot").cast("double") / col("b_n")
      val normT = coalesce(col("tf_t"), lit(0L)).cast("double") /
        (lit(0.25) + lit(0.75) * coalesce(col("dl_t"), lit(0L)) / avT)
      val normB = coalesce(col("tf_b"), lit(0L)).cast("double") /
        (lit(0.25) + lit(0.75) * coalesce(col("dl_b"), lit(0L)) / avB)
      val tfc = lit(2.0) * normT + normB
      val dfq = joined.groupBy(col("w")).agg(count(lit(1)).as("df"))
      joined.join(broadcast(dfq), Seq("w"))
        .withColumn("sterm", pround(
          log((nDocs - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
            * tfc / (lit(1.2) + tfc), 12))
        .groupBy(col("doc_id"))
        .agg(pround(sum(col("sterm").cast(DecimalType(27, 14))).cast("double"), 9)
          .as("bm25f"))
        .orderBy(desc("bm25f"), col("doc_id")).limit(20)
    }, Some(
      """WITH docs AS (SELECT doc_id, substr(text, 1, 100) AS title,
        |    substr(text, 101) AS body FROM documents),
        |tw AS (SELECT doc_id, w FROM (SELECT doc_id,
        |         unnest(string_split(title, ' ')) AS w FROM docs)
        |       WHERE len(w) > 0),
        |bw AS (SELECT doc_id, w FROM (SELECT doc_id,
        |         unnest(string_split(body, ' ')) AS w FROM docs)
        |       WHERE len(w) > 0),
        |tdl AS (SELECT doc_id, COUNT(*) AS dl FROM tw GROUP BY 1),
        |bdl AS (SELECT doc_id, COUNT(*) AS dl FROM bw GROUP BY 1),
        |st AS (SELECT t.t_tot, t.t_n, b.b_tot, b.b_n FROM
        |       (SELECT SUM(dl) AS t_tot, COUNT(*) AS t_n FROM tdl) t,
        |       (SELECT SUM(dl) AS b_tot, COUNT(*) AS b_n FROM bdl) b),
        |tft AS (SELECT doc_id, w, COUNT(*) AS tf_t FROM tw
        |        WHERE w IN ('spark', 'join', 'scan') GROUP BY 1, 2),
        |tfb AS (SELECT doc_id, w, COUNT(*) AS tf_b FROM bw
        |        WHERE w IN ('spark', 'join', 'scan') GROUP BY 1, 2),
        |j AS (SELECT f.doc_id, f.w, f.tf_t, f.tf_b,
        |        td.dl AS dl_t, bd.dl AS dl_b, st.*
        |      FROM (SELECT doc_id, w, tf_t, tf_b
        |            FROM tft FULL OUTER JOIN tfb USING (doc_id, w)) f
        |      LEFT JOIN tdl td ON td.doc_id = f.doc_id
        |      LEFT JOIN bdl bd ON bd.doc_id = f.doc_id
        |      CROSS JOIN st),
        |dfq AS (SELECT w, COUNT(*) AS df FROM j GROUP BY 1),
        |sc AS (SELECT j.doc_id,
        |         round(ln((CAST(j.t_n AS DOUBLE) - d.df + 0.5) / (d.df + 0.5)
        |             + 1.0)
        |           * ((2.0 * (CAST(COALESCE(j.tf_t, 0) AS DOUBLE)
        |               / (0.25 + 0.75 * COALESCE(j.dl_t, 0)
        |                  / (CAST(j.t_tot AS DOUBLE) / j.t_n)))
        |             + (CAST(COALESCE(j.tf_b, 0) AS DOUBLE)
        |               / (0.25 + 0.75 * COALESCE(j.dl_b, 0)
        |                  / (CAST(j.b_tot AS DOUBLE) / j.b_n))))
        |           / (1.2 + (2.0 * (CAST(COALESCE(j.tf_t, 0) AS DOUBLE)
        |               / (0.25 + 0.75 * COALESCE(j.dl_t, 0)
        |                  / (CAST(j.t_tot AS DOUBLE) / j.t_n)))
        |             + (CAST(COALESCE(j.tf_b, 0) AS DOUBLE)
        |               / (0.25 + 0.75 * COALESCE(j.dl_b, 0)
        |                  / (CAST(j.b_tot AS DOUBLE) / j.b_n)))))), 12)
        |           AS sterm
        |       FROM j JOIN dfq d USING (w))
        |SELECT doc_id,
        |  round(CAST(SUM(CAST(sterm AS DECIMAL(27,14))) AS DOUBLE), 9) AS bm25f
        |FROM sc GROUP BY 1 ORDER BY bm25f DESC, doc_id LIMIT 20""".stripMargin)),

    QuerySpec("q354_ivf_recall_curve", (s, dir) => {
      // IVF recall-vs-nprobe curve [EXT] — the tuning table an ANN
      // deployment reads before fixing nprobe: exact recall@5 of the
      // q188 trained-codebook IVF against the q36 brute-force truth at
      // nprobe ∈ {1, 2, 3}. Every stage is deterministic (Lloyd's
      // engine-exact trajectory, total-ordered ranks), so the whole
      // CURVE is one oracle row set — approximate-search QUALITY
      // measured inside the correctness gate, not just spec'd. The
      // corpus assigns once; the three probe depths reuse the same
      // lists (probe fan-out only re-filters).
      val emb = Tables.embeddings(s, dir)
      val (state, _) = Cluster.lloyd(emb, col("vec_id"), col("embedding"),
        k = 8, iters = 2)
      val q = emb.filter(col("vec_id") < 10)
      val brute = Dedup.cacheScoped(Similarity.bruteForceTopK(
          emb, col("vec_id"), col("embedding"),
          q, col("vec_id"), col("embedding"), k = 5)
        .select(col("query_id"), col("neighbor_id")))
      val nTrue = brute.agg(count(lit(1)).as("n_true"))
      val rows = Seq(1, 2, 3).map { np =>
        val ivf = Cluster.ivfTopK(emb, col("vec_id"), col("embedding"),
            q, col("vec_id"), col("embedding"), state, k = 5, nprobe = np)
          .select(col("query_id"), col("neighbor_id"))
        ivf.join(brute, Seq("query_id", "neighbor_id"), "left_semi")
          .agg(count(lit(1)).as("n_hits"))
          .select(lit(np).as("nprobe"), col("n_hits"))
      }
      rows.reduce(_ unionAll _)
        .crossJoin(broadcast(nTrue))
        .select(col("nprobe"), col("n_hits"), col("n_true"),
          pround(col("n_hits").cast("double") / col("n_true").cast("double"), 9)
            .as("recall_at_5"))
        .orderBy(col("nprobe"))
    }, Some(
      s"""$kmeansBaseCte,
         |${kmeansIterCte(1)},
         |ac AS (SELECT vec_id, cid FROM (
         |    SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY list_distance(e.emb, c.cvec), c.cid) AS rk
         |    FROM e, cent1 c) WHERE rk = 1),
         |pq AS (SELECT vec_id AS query_id, cid, rk AS probe_rk FROM (
         |    SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY list_distance(e.emb, c.cvec), c.cid) AS rk
         |    FROM e, cent1 c WHERE e.vec_id < 10) WHERE rk <= 3),
         |cand AS (SELECT p.query_id, p.probe_rk, a.vec_id AS neighbor_id,
         |           list_cosine_similarity(eq.emb, ea.emb) AS cosine
         |         FROM pq p JOIN ac a USING (cid)
         |         JOIN e eq ON eq.vec_id = p.query_id
         |         JOIN e ea ON ea.vec_id = a.vec_id
         |         WHERE a.vec_id <> p.query_id),
         |brute AS (SELECT query_id, neighbor_id FROM (
         |    SELECT eq.vec_id AS query_id, ea.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY eq.vec_id
         |        ORDER BY list_cosine_similarity(eq.emb, ea.emb) DESC,
         |          ea.vec_id) AS rank
         |    FROM e eq, e ea WHERE eq.vec_id < 10 AND ea.vec_id <> eq.vec_id)
         |  WHERE rank <= 5),
         |bt AS (SELECT COUNT(*) AS n_true FROM brute),
         |t1 AS (SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         |    FROM cand WHERE probe_rk <= 1) WHERE rank <= 5),
         |t2 AS (SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         |    FROM cand WHERE probe_rk <= 2) WHERE rank <= 5),
         |t3 AS (SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         |    FROM cand WHERE probe_rk <= 3) WHERE rank <= 5),
         |h1 AS (SELECT COUNT(*) AS n_hits FROM t1 JOIN brute
         |       USING (query_id, neighbor_id)),
         |h2 AS (SELECT COUNT(*) AS n_hits FROM t2 JOIN brute
         |       USING (query_id, neighbor_id)),
         |h3 AS (SELECT COUNT(*) AS n_hits FROM t3 JOIN brute
         |       USING (query_id, neighbor_id))
         |SELECT CAST(nprobe AS INT) AS nprobe, CAST(n_hits AS BIGINT) AS n_hits,
         |  CAST(n_true AS BIGINT) AS n_true,
         |  round(CAST(n_hits AS DOUBLE) / CAST(n_true AS DOUBLE), 9)
         |    AS recall_at_5
         |FROM (SELECT 1 AS nprobe, n_hits FROM h1
         |      UNION ALL SELECT 2, n_hits FROM h2
         |      UNION ALL SELECT 3, n_hits FROM h3), bt
         |ORDER BY nprobe""".stripMargin)),
  )
}

package graft
package catalog

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TextAnalysis
import graft.operators.{Blocklist, CumSum, Dedup}

import Parity._

/** Sampling and curation queries: hash, stratified and weighted sampling,
  * mixtures, quality filters, decontamination, splits, packing and the
  * curation funnels and reports. */
object CurationQueries {

  /** Cheap-quality-score document frame (q221's oracle CTE, shared with
    * q265/q268): `source, lang, score` with the score formula inlined. */
  private[catalog] lazy val qualityDocCte: String =
    """WITH d AS (SELECT doc_id, source, lang,
      |    least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
      |    * (CASE WHEN length(text) = 0 THEN 0.0
      |            ELSE CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / length(text) END)
      |    * (1.0 - least((CASE WHEN length(text) = 0 THEN 0.0
      |            ELSE CAST(length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) AS DOUBLE) / length(text) END) * 5.0, 1.0))
      |    AS score FROM documents)""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q60_stratified_sample", (s, dir) => {
      // per-stratum deterministic sampling (df.stat.sampleBy is engine-RNG;
      // this is the reproducible md5-threshold flavor of q53, with a
      // different rate per stratum — the shape used to rebalance a skewed
      // training corpus)
      val h = substring(md5(concat_ws("_", col("l_orderkey"), col("l_linenumber"))), 1, 2)
      val keep = when(col("l_returnflag") === "A", h < "10")
        .when(col("l_returnflag") === "N", h < "40")
        .otherwise(h < "20")
      Tables.lineitem(s, dir).filter(keep)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"), col("l_quantity"))
    }, Some(
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity FROM lineitem
        |WHERE CASE
        |  WHEN l_returnflag = 'A' THEN substr(md5(CAST(l_orderkey AS VARCHAR) || '_' || CAST(l_linenumber AS VARCHAR)), 1, 2) < '10'
        |  WHEN l_returnflag = 'N' THEN substr(md5(CAST(l_orderkey AS VARCHAR) || '_' || CAST(l_linenumber AS VARCHAR)), 1, 2) < '40'
        |  ELSE substr(md5(CAST(l_orderkey AS VARCHAR) || '_' || CAST(l_linenumber AS VARCHAR)), 1, 2) < '20'
        |END""".stripMargin)),

    QuerySpec("q62_domain_cap", (s, dir) => {
      // per-domain document cap (C4/RefinedWeb-style: keep the best K per
      // source so one domain can't dominate the corpus). rank<=K over a
      // unique order compiles to WindowGroupLimit: partial top-K below
      // the exchange, so each domain ships at most K rows per partition
      // — the 100 TB-safe form of "group by domain, keep 10".
      val w = Window.partitionBy(col("source"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      Tables.documents(s, dir)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 10)
        .select(col("doc_id"), col("source"), col("n_chars"), col("rk").cast("long").as("rk"))
    }, Some(
      """SELECT doc_id, source, n_chars, CAST(rk AS BIGINT) AS rk FROM (
        |  SELECT doc_id, source, n_chars,
        |    row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 10""".stripMargin)),

    QuerySpec("q53_hash_sample", (s, dir) => {
      // deterministic ~6% sample: md5-prefix threshold on the row key.
      // (df.sample is engine-RNG — this is the reproducible flavor that
      // survives re-runs, task retries, and engine swaps.)
      Tables.lineitem(s, dir)
        .filter(substring(md5(concat_ws("_", col("l_orderkey"), col("l_linenumber"))), 1, 2) < "10")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    }, Some(
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE substr(md5(CAST(l_orderkey AS VARCHAR) || '_' || CAST(l_linenumber AS VARCHAR)), 1, 2) < '10'""".stripMargin)),

    QuerySpec("q73_decontam", (s, dir) => {
      // benchmark decontamination: 3-word-shingle overlap of the corpus
      // against a held-out "test set" (every 50th doc of a FIXED id
      // range — bounded by construction like q181, so the broadcast
      // holds at any corpus size; a %-of-corpus stand-in would not).
      // The corpus side shuffles only for the per-doc overlap count.
      val d = Tables.documents(s, dir)
      val isBench = (col("doc_id") % 50 === 0) && (col("doc_id") < 10000)
      val bench = d.filter(isBench)
      val corpus = d.filter(!isBench)
      Dedup.decontaminate(corpus, col("text"), col("doc_id"),
          bench, col("text"), k = 3, minRatio = 0.2)
        .select(col("key").as("doc_id"), col("n_overlap"), col("n_shingles"),
          col("overlap_ratio"))
    }, Some(
      """WITH w AS (SELECT doc_id,
        |        list_filter(string_split_regex(
        |          regexp_replace(lower(text), '[^\p{L}\p{N}\s]', '', 'g'), '\s+'),
        |          x -> len(x) > 0) AS words
        |      FROM documents),
        |sh AS (SELECT doc_id,
        |         list_distinct([array_to_string(words[i:i+2], ' ')
        |                        FOR i IN generate_series(1, greatest(len(words) - 2, 1))]) AS sh
        |       FROM w WHERE len(words) > 0),
        |bench AS (SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id % 50 = 0 AND doc_id < 10000),
        |doc AS (SELECT doc_id, len(sh) AS n_shingles, unnest(sh) AS g
        |        FROM sh WHERE NOT (doc_id % 50 = 0 AND doc_id < 10000)),
        |ov AS (SELECT doc_id, n_shingles, COUNT(*) AS n_overlap
        |       FROM doc JOIN bench USING (g) GROUP BY doc_id, n_shingles)
        |SELECT doc_id, CAST(n_overlap AS BIGINT) AS n_overlap,
        |       CAST(n_shingles AS BIGINT) AS n_shingles,
        |       CAST(n_overlap AS DOUBLE) / n_shingles AS overlap_ratio
        |FROM ov WHERE CAST(n_overlap AS DOUBLE) / n_shingles >= 0.2""".stripMargin)),

    QuerySpec("q75_gopher_filter", (s, dir) => {
      // Gopher-style rule-based quality gate: boolean flags per rule plus
      // the conjunction — the filter form of q26's continuous scores.
      val t = col("text")
      val nWords = TextAnalysis.wsTokenCount(t).cast("long")
      val mwl = TextAnalysis.meanWordLen(t)
      val awr = TextAnalysis.alphaWordRatio(t)
      val stops = size(regexp_extract_all(lower(t),
        lit(TextAnalysis.stopwordAltPattern), lit(0))).cast("long")
      val okWords = nWords.between(50L, 100000L)
      val okLen = mwl >= 3.0 && mwl <= 10.0
      val okAlpha = awr >= 0.8
      val okStops = stops >= 2L
      Tables.documents(s, dir).select(col("doc_id"),
        nWords.as("n_words"), mwl.as("mean_word_len"),
        awr.as("alpha_word_ratio"), stops.as("n_stopwords"),
        okWords.as("ok_words"), okLen.as("ok_word_len"),
        okAlpha.as("ok_alpha"), okStops.as("ok_stopwords"),
        (okWords && okLen && okAlpha && okStops).as("pass"))
    }, Some(
      """WITH m AS (SELECT doc_id,
        |  len(regexp_extract_all(text, '\S+')) AS n_words,
        |  CASE WHEN len(regexp_extract_all(text, '\S+')) = 0 THEN 0.0
        |       ELSE CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
        |            / len(regexp_extract_all(text, '\S+')) END AS mean_word_len,
        |  CASE WHEN len(regexp_extract_all(text, '\S+')) = 0 THEN 0.0
        |       ELSE CAST(len(regexp_extract_all(text, '\S*[A-Za-z]\S*')) AS DOUBLE)
        |            / len(regexp_extract_all(text, '\S+')) END AS alpha_word_ratio,
        |  len(regexp_extract_all(lower(text), '\b(the|and|of|to|a|in|is|that|it|for)\b')) AS n_stopwords
        |FROM documents)
        |SELECT doc_id, n_words, mean_word_len, alpha_word_ratio, n_stopwords,
        |  n_words BETWEEN 50 AND 100000 AS ok_words,
        |  mean_word_len >= 3.0 AND mean_word_len <= 10.0 AS ok_word_len,
        |  alpha_word_ratio >= 0.8 AS ok_alpha,
        |  n_stopwords >= 2 AS ok_stopwords,
        |  (n_words BETWEEN 50 AND 100000) AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        |    AND alpha_word_ratio >= 0.8 AND n_stopwords >= 2 AS pass
        |FROM m""".stripMargin)),

    QuerySpec("q77_bloom_blocklist", (s, dir) => {
      // bloom-filter blocklist subtraction: the 100 TB shape of an
      // anti-join — blocklist aggregated to a broadcast sketch, stream
      // filtered map-side with NO shuffle. Approximate (fpp extra drops,
      // zero false negatives) → rows-only; subset + drop-rate bounds vs
      // the exact anti-join asserted in CurationSpec.
      val block = Tables.part(s, dir).filter(col("p_size") > 40).select(col("p_partkey"))
      Blocklist.filterNotIn(Tables.lineitem(s, dir), col("l_partkey"),
          block, col("p_partkey"), expectedItems = 20000L, fpp = 0.01)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
    }, None), // accuracy: CurationSpec "bloom blocklist: subset of exact anti-join, no false negatives, bounded extra drops"

    QuerySpec("q79_mixture_sample", (s, dir) => {
      // mixture resampling toward target domain shares (the corpus-
      // rebalancing step of a data recipe): two tiny aggregations compute
      // per-domain keep rates (target share ∝ per-domain weight), rates
      // broadcast back, rows kept by a deterministic arithmetic hash —
      // the 100 TB side is scanned once, map-side, no shuffle.
      // Weight/total sums are exact (small integers as doubles), so the
      // rate arithmetic is IEEE-identical in any engine.
      val d = Tables.documents(s, dir)
      val counts = d.groupBy(col("source")).agg(count(lit(1)).as("cnt"))
      val withW = counts.withColumn("w",
        (regexp_replace(col("source"), "src", "").cast("long") % 3 + 1).cast("double"))
      val g = withW.agg(sum(col("w")).as("sumw"), sum(col("cnt")).as("total"))
      val rates = withW.crossJoin(broadcast(g))
        .select(col("source"),
          least(lit(1.0), (col("w") / col("sumw")) * (col("total").cast("double") / col("cnt"))).as("rate"))
      // Lehmer/MINSTD step with the modulus taken FIRST: the product
      // stays < 2^47, so no BIGINT overflow at any doc_id (Spark ANSI
      // and DuckDB both raise on overflow — and a wrapped product would
      // silently diverge anyway)
      val u = (lehmer3(col("doc_id")).cast("double") + 0.5) / 2147483647.0
      d.join(broadcast(rates), Seq("source"))
        .filter(u < col("rate"))
        .select(col("doc_id"), col("source"))
    }, Some(
      """WITH c AS (SELECT source, COUNT(*) AS cnt FROM documents GROUP BY source),
        |w AS (SELECT source, cnt,
        |        CAST(CAST(regexp_replace(source, 'src', '') AS BIGINT) % 3 + 1 AS DOUBLE) AS w
        |      FROM c),
        |g AS (SELECT SUM(w) AS sumw, SUM(cnt) AS total FROM w),
        |r AS (SELECT source,
        |        least(CAST(1.0 AS DOUBLE), (w / sumw) * (CAST(total AS DOUBLE) / cnt)) AS rate
        |      FROM w, g)
        |SELECT d.doc_id, d.source FROM documents d JOIN r USING (source)
        |WHERE (CAST(((d.doc_id % 2147483647) * 48271 % 2147483647) * 48271 % 2147483647 * 48271 % 2147483647 AS DOUBLE) + 0.5) / 2147483647.0 < r.rate""".stripMargin)),

    QuerySpec("q80_weighted_sample", (s, dir) => {
      // weighted sampling without replacement (Efraimidis–Spirakis
      // priorities): top-k by ln(u)/w where u is a deterministic
      // arithmetic-hash uniform and w = n_chars — long docs win more
      // often, reproducibly. ln differs from libm in the last ulp →
      // pround(9) both sides and break ties on the key (q64 discipline).
      // orderBy.limit compiles to TakeOrderedAndProject: only k rows per
      // partition cross the wire.
      val u = (lehmer3(col("doc_id")).cast("double") + 0.5) / 2147483647.0
      Tables.documents(s, dir)
        .select(col("doc_id"), col("n_chars"),
          pround(log(u) / col("n_chars"), 9).as("priority"))
        .orderBy(desc("priority"), col("doc_id"))
        .limit(100)
    }, Some(
      """SELECT doc_id, n_chars,
        |  round(ln((CAST(((doc_id % 2147483647) * 48271 % 2147483647) * 48271 % 2147483647 * 48271 % 2147483647 AS DOUBLE) + 0.5) / 2147483647.0)
        |        / n_chars, 9) AS priority
        |FROM documents
        |ORDER BY priority DESC, doc_id LIMIT 100""".stripMargin)),

    QuerySpec("q99_group_sample", (s, dir) => {
      // EXACTLY-k-per-stratum deterministic sample: rank by the portable
      // arithmetic hash within each stratum, keep rk <= k. Completes the
      // sampling triad — rate-based (q60), weight-based (q80), and
      // fixed-size (here); rank<=k compiles to WindowGroupLimit so each
      // partition forwards at most k rows per stratum.
      val h = lehmer3(col("doc_id"))
      val w = Window.partitionBy(col("source")).orderBy(col("h"), col("doc_id"))
      Tables.documents(s, dir)
        .withColumn("h", h)
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("source"), col("rk"))
    }, Some(
      """SELECT doc_id, source, CAST(rk AS BIGINT) AS rk FROM (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY ((doc_id % 2147483647) * 48271 % 2147483647) * 48271 % 2147483647 * 48271 % 2147483647, doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 3""".stripMargin)),

    QuerySpec("q108_quality_classifier", (s, dir) => {
      // model-based quality filter: logistic head over the codegen'd
      // text signals (fasttext-filter plumbing with a deterministic
      // linear model). One map-side pass; the decision gates on the
      // ROUNDED score so exp() ulp drift can't flip boundary docs.
      val score = TextAnalysis.classifierScore(col("text"),
        wTokens = 1.2, wStop = 2.0, wAlpha = 1.5, wPunct = -3.0, bias = -1.0)
      Tables.documents(s, dir)
        .select(col("doc_id"), score.as("score"))
        .withColumn("keep", col("score") >= 0.5)
    }, Some(
      """WITH f AS (SELECT doc_id,
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
        |        f_tok * 1.2 + f_stop * 2.0 + f_alpha * 1.5 + f_punct * (-3.0) + (-1.0) AS z
        |      FROM f)
        |SELECT doc_id, round(1.0 / (1.0 + exp(-z)), 9) AS score,
        |  round(1.0 / (1.0 + exp(-z)), 9) >= 0.5 AS keep
        |FROM z""".stripMargin)),

    QuerySpec("q109_split_assign", (s, dir) => {
      // deterministic train/val/test split (80/10/10): the portable
      // Lehmer hash → uniform u, thresholds assign the split. Map-side
      // only — no RNG state, so assignment is reproducible across
      // engines, retries and re-runs (the property `df.randomSplit`
      // does NOT give you), and a doc never migrates between splits as
      // the corpus grows.
      val u = (lehmer3(col("doc_id")).cast("double") + 0.5) / 2147483647.0
      Tables.documents(s, dir)
        .select(col("doc_id"),
          when(u < 0.8, "train").when(u < 0.9, "val").otherwise("test").as("split"))
    }, Some(
      """SELECT doc_id,
        |  CASE WHEN (CAST(((doc_id % 2147483647) * 48271 % 2147483647) * 48271 % 2147483647 * 48271 % 2147483647 AS DOUBLE) + 0.5) / 2147483647.0 < 0.8 THEN 'train'
        |       WHEN (CAST(((doc_id % 2147483647) * 48271 % 2147483647) * 48271 % 2147483647 * 48271 % 2147483647 AS DOUBLE) + 0.5) / 2147483647.0 < 0.9 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents""".stripMargin)),

    QuerySpec("q110_nucleus_select", (s, dir) => {
      // per-source nucleus (top-p) selection: rank docs by quality
      // within each source, keep the smallest prefix holding p=50% of
      // the source's quality mass (top-p sampling applied to data
      // mixing: spend a per-domain quality budget, drop the tail).
      // Windows are per-source — never global — and cumulative mass
      // uses exact decimal sums so the crossing row is engine-identical
      // (q104 discipline).
      val qDec = TextAnalysis.qualityScore(col("text")).cast(DecimalType(27, 12))
      val ord = Seq(col("q").desc, col("doc_id"))
      val wCum = Window.partitionBy(col("source")).orderBy(ord: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy(col("source"))
      Tables.documents(s, dir)
        .withColumn("q", qDec)
        .withColumn("cq", sum(col("q")).over(wCum))
        .withColumn("tq", sum(col("q")).over(wAll))
        // keep while the mass STRICTLY BEFORE this row is under p·total:
        // the crossing row is included (top-p semantics)
        .filter(col("cq") - col("q") < col("tq") * lit(new java.math.BigDecimal("0.5")))
        .select(col("doc_id"), col("source"), col("q").cast("double").as("quality"))
    }, Some(
      """WITH d AS (SELECT doc_id, source,
        |  CAST(least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
        |    * (CASE WHEN length(text) = 0 THEN 0.0
        |            ELSE CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / length(text) END)
        |    * (1.0 - least((CASE WHEN length(text) = 0 THEN 0.0
        |            ELSE CAST(length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) AS DOUBLE) / length(text) END) * 5.0, 1.0))
        |   AS DECIMAL(27,12)) AS q
        |FROM documents),
        |w AS (SELECT doc_id, source, q,
        |  SUM(q) OVER (PARTITION BY source ORDER BY q DESC, doc_id ROWS UNBOUNDED PRECEDING) AS cq,
        |  SUM(q) OVER (PARTITION BY source) AS tq
        |FROM d)
        |SELECT doc_id, source, CAST(q AS DOUBLE) AS quality
        |FROM w WHERE cq - q < tq * 0.5""".stripMargin)),

    QuerySpec("q119_curation_funnel", (s, dir) => {
      // curation-gate funnel: survivors of each successive filter stage
      // (length → quality → PII-free → Gopher alpha rule) per source, in
      // ONE scan with conditional aggs — the observability query a 100 TB
      // curation run reports after every stage without re-scanning.
      // PII planted on every 10th doc (q74's pattern — the synthetic
      // corpus has none) so the PII gate visibly drops rows
      val ft = when(col("doc_id") % 10 === 0,
        concat(col("text"), lit(" contact user"), col("doc_id"), lit("@example.com")))
        .otherwise(col("text"))
      val wc = TextAnalysis.wsTokenCount(col("ft"))
      val q = TextAnalysis.qualityScore(col("ft"))
      val pii = TextAnalysis.piiCount(col("ft"), TextAnalysis.emailPattern) +
        TextAnalysis.piiCount(col("ft"), TextAnalysis.ipv4Pattern)
      val alpha = TextAnalysis.alphaWordRatio(col("ft"))
      val s1 = wc >= lit(10)
      val s2 = s1 && q >= lit(0.05)
      val s3 = s2 && pii === lit(0)
      val s4 = s3 && alpha >= lit(0.8)
      Tables.documents(s, dir)
        .withColumn("ft", ft)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_total"),
          sum(s1.cast("long")).as("n_len"),
          sum(s2.cast("long")).as("n_quality"),
          sum(s3.cast("long")).as("n_pii_free"),
          sum(s4.cast("long")).as("n_final"))
    }, Some(
      """WITH f AS (SELECT doc_id, source,
        |  CASE WHEN doc_id % 10 = 0
        |       THEN text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
        |       ELSE text END AS ft
        |FROM documents),
        |g AS (SELECT source,
        |  len(regexp_extract_all(ft, '\S+')) AS wc,
        |  least(CAST(length(ft) AS DOUBLE) / 500.0, 1.0)
        |    * (CASE WHEN length(ft) = 0 THEN 0.0
        |            ELSE CAST(length(regexp_replace(ft, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / length(ft) END)
        |    * (1.0 - least((CASE WHEN length(ft) = 0 THEN 0.0
        |            ELSE CAST(length(regexp_replace(ft, '[^.,;:!?''"()-]', '', 'g')) AS DOUBLE) / length(ft) END) * 5.0, 1.0)) AS q,
        |  len(regexp_extract_all(ft, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |    + len(regexp_extract_all(ft, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS pii,
        |  CASE WHEN len(regexp_extract_all(ft, '\S+')) = 0 THEN 0.0
        |       ELSE CAST(len(regexp_extract_all(ft, '\S*[A-Za-z]\S*')) AS DOUBLE)
        |            / len(regexp_extract_all(ft, '\S+')) END AS alpha
        |FROM f)
        |SELECT source, COUNT(*) AS n_total,
        |  CAST(SUM(CASE WHEN wc >= 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_len,
        |  CAST(SUM(CASE WHEN wc >= 10 AND q >= 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
        |  CAST(SUM(CASE WHEN wc >= 10 AND q >= 0.05 AND pii = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pii_free,
        |  CAST(SUM(CASE WHEN wc >= 10 AND q >= 0.05 AND pii = 0 AND alpha >= 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS n_final
        |FROM g GROUP BY source""".stripMargin)),

    QuerySpec("q145_dataset_card", (s, dir) => {
      // the dataset card: corpus-level release stats in ONE scan of
      // conditional/exact aggregates — docs, tokens, chars, language
      // shares, quality quantiles, exact-dup rate. What ships in the
      // README of a published corpus; every component reuses an
      // oracle-proven formula (q21/q26/q30/q55 parity).
      val wc = TextAnalysis.wsTokenCount(col("text"))
      val q = TextAnalysis.qualityScore(col("text"))
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("text"), wc.as("wc"), q.as("q"),
          md5(col("text")).as("h"))
      val dups = d.groupBy(col("h")).agg(count(lit(1)).as("c"))
        .agg(sum(col("c") - 1).as("n_exact_dups"))
      d.agg(
        count(lit(1)).as("n_docs"),
        sum(col("wc").cast("long")).as("n_tokens"),
        sum(length(col("text")).cast("long")).as("n_chars"),
        countDistinct(col("lang")).as("n_langs"),
        sum((col("lang") === "en").cast("long")).as("n_en"),
        pround(percentile(col("q"), lit(0.5)), 9).as("q_median"),
        pround(min(col("q")), 9).as("q_min"),
        pround(max(col("q")), 9).as("q_max"))
        .crossJoin(broadcast(dups))
    }, Some(
      """WITH d AS (SELECT doc_id, lang, text,
        |    len(regexp_extract_all(text, '\S+')) AS wc,
        |    least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
        |      * (CASE WHEN length(text) = 0 THEN 0.0
        |              ELSE CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / length(text) END)
        |      * (1.0 - least((CASE WHEN length(text) = 0 THEN 0.0
        |              ELSE CAST(length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) AS DOUBLE) / length(text) END) * 5.0, 1.0)) AS q,
        |    md5(text) AS h
        |  FROM documents),
        |dup AS (SELECT CAST(SUM(c - 1) AS BIGINT) AS n_exact_dups
        |        FROM (SELECT COUNT(*) AS c FROM d GROUP BY h)),
        |agg AS (SELECT COUNT(*) AS n_docs,
        |    CAST(SUM(wc) AS BIGINT) AS n_tokens,
        |    CAST(SUM(length(text)) AS BIGINT) AS n_chars,
        |    COUNT(DISTINCT lang) AS n_langs,
        |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
        |    round(quantile_cont(q, 0.5), 9) AS q_median,
        |    round(MIN(q), 9) AS q_min, round(MAX(q), 9) AS q_max
        |  FROM d)
        |SELECT * FROM agg, dup""".stripMargin)),

    QuerySpec("q132_source_overlap", (s, dir) => {
      // cross-source contamination matrix: |shingles(a) ∩ shingles(b)| /
      // |shingles(a)| for every source pair — q73's decontamination
      // generalized to all-pairs provenance diagnostics. Distinct
      // (source, shingle) first (the blocking key is the shingle, so
      // hot boilerplate shingles are AQE skew territory, same as LSH
      // buckets); per-source totals broadcast back.
      val sh = Tables.documents(s, dir)
        .select(col("source"),
          explode(graft.functions.Shingles.shingles(col("text"), 3, distinct = true)).as("g"))
        .distinct()
      val totals = sh.groupBy(col("source")).agg(count(lit(1)).as("n_a"))
      val a = sh.select(col("source").as("src_a"), col("g"))
      val b = sh.select(col("source").as("src_b"), col("g"))
      a.join(b, Seq("g")).filter(col("src_a") < col("src_b"))
        .groupBy(col("src_a"), col("src_b")).agg(count(lit(1)).as("n_shared"))
        .join(broadcast(totals.select(col("source").as("src_a"), col("n_a"))), Seq("src_a"))
        .filter(col("n_shared") >= 10)
        .select(col("src_a"), col("src_b"), col("n_shared"), col("n_a"),
          pround(col("n_shared").cast("double") / col("n_a"), 9).as("overlap_ratio"))
    }, Some(
      """WITH w AS (SELECT source,
        |        list_filter(string_split_regex(
        |          regexp_replace(lower(text), '[^\p{L}\p{N}\s]', '', 'g'), '\s+'),
        |          x -> len(x) > 0) AS words
        |      FROM documents),
        |sh AS (SELECT source,
        |         [array_to_string(words[i:i+2], ' ')
        |          FOR i IN generate_series(1, greatest(len(words) - 2, 1))] AS sh
        |       FROM w WHERE len(words) > 0),
        |sg AS (SELECT DISTINCT source, unnest(sh) AS g FROM sh),
        |tot AS (SELECT source, COUNT(*) AS n_a FROM sg GROUP BY source),
        |p AS (SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_shared
        |      FROM sg a JOIN sg b ON a.g = b.g AND a.source < b.source
        |      GROUP BY a.source, b.source)
        |SELECT src_a, src_b, CAST(n_shared AS BIGINT) AS n_shared,
        |  CAST(n_a AS BIGINT) AS n_a,
        |  round(CAST(n_shared AS DOUBLE) / n_a, 9) AS overlap_ratio
        |FROM p JOIN tot ON tot.source = p.src_a
        |WHERE n_shared >= 10""".stripMargin)),

    QuerySpec("q128_curation_e2e", (s, dir) => {
      // the curation pipeline END-TO-END as one declarative plan: gates
      // (length → quality) → normalized exact dedup (keep-min survivor)
      // → per-source report. Every stage is an operator whose parity is
      // individually proven (q21/q26/q31/q30); composing them stays one
      // plan — gates fuse into the scan, dedup is the one content
      // shuffle, the report is the one agg. What a user actually runs.
      val surv = Tables.documents(s, dir)
        .withColumn("wc", TextAnalysis.wsTokenCount(col("text")))
        .withColumn("quality", TextAnalysis.qualityScore(col("text")))
        .filter(col("wc") >= 20 && col("quality") >= 0.05)
        .withColumn("fp", md5(TextAnalysis.normalizeText(col("text"))))
      // survivor selection is min(struct) — ONE scan + one content
      // shuffle (the Dedup.exact shape), never a join back to the corpus
      surv.groupBy(col("fp"))
        .agg(min(struct(col("doc_id"), col("source"), col("wc"), col("quality"))).as("__s"))
        .select(col("__s.source").as("source"), col("__s.wc").as("wc"),
          col("__s.quality").as("quality"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("wc")).as("n_tokens"),
          pround(sum(col("quality").cast(DecimalType(18, 9))).cast("double"), 9).as("quality_mass"))
    }, Some(
      """WITH f AS (SELECT doc_id, source, text,
        |    len(regexp_extract_all(text, '\S+')) AS wc,
        |    least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
        |      * (CASE WHEN length(text) = 0 THEN 0.0
        |              ELSE CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / length(text) END)
        |      * (1.0 - least((CASE WHEN length(text) = 0 THEN 0.0
        |              ELSE CAST(length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) AS DOUBLE) / length(text) END) * 5.0, 1.0)) AS quality
        |  FROM documents),
        |g AS (SELECT * FROM f WHERE wc >= 20 AND quality >= 0.05),
        |n AS (SELECT *, md5(trim(regexp_replace(regexp_replace(lower(text), '[^\p{L}\p{N}\s]', '', 'g'), '\s+', ' ', 'g'))) AS fp FROM g),
        |k AS (SELECT fp, MIN(doc_id) AS doc_id FROM n GROUP BY fp)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(wc) AS BIGINT) AS n_tokens,
        |  round(CAST(SUM(CAST(quality AS DECIMAL(18,9))) AS DOUBLE), 9) AS quality_mass
        |FROM n JOIN k USING (fp, doc_id)
        |GROUP BY source""".stripMargin)),

    QuerySpec("q124_temperature_mix", (s, dir) => {
      // temperature-flattened language mixing (the LLaMA/PaLM data
      // recipe): target share ∝ p^α (α=0.5 lifts low-resource langs),
      // keep rate = min(1, target·K/cnt), membership by the portable
      // Lehmer hash. The α-powered terms are rounded then decimal-
      // summed so the normalizer Z is engine-exact; rates gate on the
      // ROUNDED value (q79's shape + the q87 rounding discipline).
      val d = Tables.documents(s, dir)
      val counts = d.groupBy(col("lang")).agg(count(lit(1)).as("cnt"))
      val tot = counts.agg(sum(col("cnt")).as("total"))
      val sh = counts.crossJoin(broadcast(tot))
        .withColumn("s9", pround(pow(col("cnt").cast("double") / col("total"), 0.5), 9))
      val z = sh.agg(sum(col("s9").cast(DecimalType(18, 9))).cast("double").as("z"))
      val rates = sh.crossJoin(broadcast(z))
        .withColumn("rate", pround(least(lit(1.0),
          col("s9") / col("z") * lit(0.6) * col("total") / col("cnt")), 9))
        .select(col("lang"), col("rate"))
      val u = (lehmer3(col("doc_id")).cast("double") + 0.5) / 2147483647.0
      d.join(broadcast(rates), Seq("lang"))
        .filter(u < col("rate"))
        .select(col("doc_id"), col("lang"))
    }, Some(
      """WITH c AS (SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang),
        |t AS (SELECT SUM(cnt) AS total FROM c),
        |s AS (SELECT lang, cnt, total,
        |        round(pow(CAST(cnt AS DOUBLE) / total, 0.5), 9) AS s9
        |      FROM c, t),
        |z AS (SELECT CAST(SUM(CAST(s9 AS DECIMAL(18,9))) AS DOUBLE) AS z FROM s),
        |r AS (SELECT lang,
        |        round(least(1.0, s9 / z.z * 0.6 * total / cnt), 9) AS rate
        |      FROM s, z)
        |SELECT d.doc_id, d.lang FROM documents d JOIN r USING (lang)
        |WHERE (CAST(((d.doc_id % 2147483647) * 48271 % 2147483647) * 48271 % 2147483647 * 48271 % 2147483647 AS DOUBLE) + 0.5) / 2147483647.0 < r.rate""".stripMargin)),

    QuerySpec("q125_rare_suppress", (s, dir) => {
      // k-anonymity-style suppression: rows whose (source, lang) combo
      // occurs < 5 times drop entirely (rare combos identify their
      // members — the privacy-curation gate). Combo counts are tiny →
      // broadcast; the corpus filters map-side, one agg total.
      val d = Tables.documents(s, dir)
      val combos = d.groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_combo"))
        .filter(col("n_combo") >= 5)
      d.join(broadcast(combos), Seq("source", "lang"))
        .select(col("doc_id"), col("source"), col("lang"), col("n_combo"))
    }, Some(
      """WITH c AS (SELECT source, lang, COUNT(*) AS n_combo FROM documents
        |           GROUP BY source, lang HAVING COUNT(*) >= 5)
        |SELECT doc_id, d.source, d.lang, n_combo
        |FROM documents d JOIN c ON d.source = c.source AND d.lang = c.lang""".stripMargin)),

    QuerySpec("q122_sequence_pack", (s, dir) => {
      // training-sequence packing: documents in stable (doc_id) order
      // fill 512-token bins by global prefix sum — bin = (cum - tok) div
      // 512, so a doc starts the bin its first token lands in. The
      // running total is the two-pass CumSum (NO global window, the q68
      // discipline); the report is per-bin fill — the packer feeding a
      // fixed-context trainer, minus the within-bin concat that the
      // webdataset sink already does.
      val d = Tables.documents(s, dir)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("tok"))
      CumSum.withRunningTotal(d, Seq(col("doc_id")), col("tok"), "cum")
        .withColumn("bin", ((col("cum") - col("tok")) / 512).cast("long"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("n_tokens"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
    }, Some(
      """WITH d AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
        |           FROM documents),
        |c AS (SELECT doc_id, tok,
        |        SUM(tok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
        |      FROM d)
        |SELECT CAST((cum - tok) // 512 AS BIGINT) AS bin, COUNT(*) AS n_docs,
        |  CAST(SUM(tok) AS BIGINT) AS n_tokens,
        |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        |FROM c GROUP BY bin""".stripMargin)),

    QuerySpec("q167_split_leakage", (s, dir) => {
      // train/test contamination audit: near-dup pairs (q154's
      // Jaccard-verified tier) that CROSS the q109 split boundary — a
      // doc and its near-copy landing in different splits silently
      // inflates eval. Pairs come from the shingle-blocked jaccard
      // join; the deterministic Lehmer split assignment (q109) is
      // recomputed map-side on both ends (cheaper than a join against
      // the assignment frame — it is a pure hash of the key).
      def splitOf(c: Column) = {
        val u = (lehmer3(c).cast("double") + 0.5) / 2147483647.0
        when(u < 0.8, "train").when(u < 0.9, "val").otherwise("test")
      }
      val pairs = Dedup.ngramJaccardPairs(
        Tables.documents(s, dir).filter(col("doc_id") < 100),
        col("text"), col("doc_id"), k = 2, minJaccard = 0.08)
      pairs
        .select(col("key_a"), col("key_b"),
          splitOf(col("key_a")).as("split_a"), splitOf(col("key_b")).as("split_b"),
          pround(col("jaccard"), 9).as("jaccard"))
        .filter(col("split_a") =!= col("split_b"))
        .orderBy(col("key_a"), col("key_b"))
    }, Some(
      """WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id < 100),
        |w AS (SELECT doc_id,
        |        list_filter(string_split_regex(
        |          regexp_replace(lower(text), '[^\p{L}\p{N}\s]', '', 'g'), '\s+'),
        |          x -> len(x) > 0) AS words
        |      FROM docs),
        |sh AS (SELECT doc_id,
        |         list_distinct([array_to_string(words[i:i+1], ' ')
        |                        FOR i IN generate_series(1, greatest(len(words) - 1, 1))]) AS sh
        |       FROM w WHERE len(words) > 0),
        |pairs AS (
        |  SELECT a.doc_id AS key_a, b.doc_id AS key_b,
        |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |      / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |      / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.08),
        |sp AS (SELECT doc_id,
        |  CASE WHEN (CAST(((doc_id % 2147483647) * 48271 % 2147483647) * 48271 % 2147483647 * 48271 % 2147483647 AS DOUBLE) + 0.5) / 2147483647.0 < 0.8 THEN 'train'
        |       WHEN (CAST(((doc_id % 2147483647) * 48271 % 2147483647) * 48271 % 2147483647 * 48271 % 2147483647 AS DOUBLE) + 0.5) / 2147483647.0 < 0.9 THEN 'val'
        |       ELSE 'test' END AS split
        |  FROM documents),
        |j AS (SELECT key_a, key_b, sa.split AS split_a, sb.split AS split_b,
        |        round(jaccard, 9) AS jaccard
        |      FROM pairs JOIN sp sa ON sa.doc_id = key_a
        |                 JOIN sp sb ON sb.doc_id = key_b)
        |SELECT key_a, key_b, split_a, split_b, jaccard FROM j
        |WHERE split_a <> split_b ORDER BY key_a, key_b""".stripMargin)),

    QuerySpec("q180_dsir", (s, dir) => {
      // DSIR-style importance weights (Xie et al. 2023): score every
      // doc by how target-like its unigram distribution is — Σ over
      // tokens of ln(p_target/p_raw) with +0.5 / +0.5·V smoothing,
      // target = the 'en' slice. One tokenize pass feeds per-doc
      // counts AND both vocabulary distributions (the raw and target
      // counts are one conditional roll-up of the same frame); the
      // per-word log-ratio is a broadcast scalar table; per-term
      // products round then decimal-reduce (q91). Top-20 non-target
      // docs = what DSIR would pull INTO a target-domain mix.
      // cache the POST-aggregation (doc, word) counts, not the raw
      // exploded token frame: dc is both reused frames' common input
      // (caching tok still re-ran dc's groupBy twice), and it is the
      // far smaller artifact — an exploded token cache is corpus-sized
      // string storage whose memory pressure is exactly what a loaded
      // box amplifies
      val dc = Dedup.cacheScoped(Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy(col("doc_id"), col("lang"), col("w")).agg(count(lit(1)).as("c")))
      val wc = dc.groupBy(col("w")).agg(
        sum(col("c")).as("cr"),
        sum(when(col("lang") === "en", col("c")).otherwise(lit(0L))).as("ct"))
      val tot = wc.agg(sum(col("cr")).as("nr"), sum(col("ct")).as("nt"), count(lit(1)).as("v"))
      val lr = wc.crossJoin(broadcast(tot))
        .select(col("w"), pround(
          log(((col("ct") + 0.5) / (col("nt") + col("v") * 0.5))
            / ((col("cr") + 0.5) / (col("nr") + col("v") * 0.5))), 12).as("lr"))
      dc.filter(col("lang") =!= "en")
        .join(broadcast(lr), Seq("w"))
        .groupBy(col("doc_id"), col("lang"))
        .agg(pround(sum(pround(col("c") * col("lr"), 9).cast(DecimalType(27, 9)))
          .cast("double"), 6).as("dsir_weight"))
        .orderBy(desc("dsir_weight"), col("doc_id")).limit(20)
    }, Some(
      """WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents),
        |tok2 AS (SELECT doc_id, lang, w FROM tok WHERE length(w) > 0),
        |dc AS (SELECT doc_id, lang, w, COUNT(*) AS c FROM tok2 GROUP BY 1, 2, 3),
        |wc AS (SELECT w, SUM(c) AS cr, SUM(CASE WHEN lang = 'en' THEN c ELSE 0 END) AS ct
        |       FROM dc GROUP BY w),
        |tot AS (SELECT SUM(cr) AS nr, SUM(ct) AS nt, COUNT(*) AS v FROM wc),
        |lr AS (SELECT w, round(ln(((ct + 0.5) / (nt + 0.5 * v))
        |                        / ((cr + 0.5) / (nr + 0.5 * v))), 12) AS lr FROM wc, tot)
        |SELECT doc_id, lang,
        |  round(CAST(SUM(CAST(round(c * lr, 9) AS DECIMAL(27,9))) AS DOUBLE), 6) AS dsir_weight
        |FROM dc JOIN lr USING (w) WHERE lang <> 'en'
        |GROUP BY doc_id, lang ORDER BY dsir_weight DESC, doc_id LIMIT 20""".stripMargin)),

    QuerySpec("q181_decontamination", (s, dir) => {
      // eval-contamination ATTRIBUTION: q73 reports each corpus doc's
      // pooled overlap ratio against the whole benchmark; this
      // attributes shared n-grams to the SPECIFIC benchmark item —
      // the (corpus doc, eval item, n shared grams) provenance rows an
      // eval card ships (word 3-grams stand in for the usual 13-grams
      // on this tiny-vocab corpus). Distinct doc×gram pairs equi-join
      // the BROADCAST benchmark gram set — the corpus side never
      // shuffles for the probe. The broadcast is valid because the
      // bench set is BOUNDED by construction (fixed doc_id < 10000
      // range — a real eval suite is a fixed artifact, not a corpus
      // fraction); an unbounded %-of-corpus stand-in would outgrow
      // the driver at 100 TB, where the fallback is a plain shuffle
      // equi-join on gram (Dedup.decontaminate's shape either way).
      val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val grams = Tables.documents(s, dir)
        .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
        .filter(length(col("w")) > 0)
        .select(col("doc_id"), col("w"),
          lead(col("w"), 1).over(w).as("l1"), lead(col("w"), 2).over(w).as("l2"))
        .filter(col("l2").isNotNull)
        .select(col("doc_id"), concat_ws(" ", col("w"), col("l1"), col("l2")).as("gram"))
        .distinct()
      val isBench = (col("doc_id") % 97 === 0) && (col("doc_id") < 10000)
      val bench = grams.filter(isBench)
        .select(col("doc_id").as("bench_id"), col("gram"))
      grams.filter(!isBench)
        .join(broadcast(bench), Seq("gram"))
        .groupBy(col("doc_id"), col("bench_id"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 2)
        .orderBy(col("doc_id"), col("bench_id"))
    }, Some(
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |tok AS (SELECT doc_id, CAST(g.i AS BIGINT) AS pos, ws[g.i] AS w
        |        FROM t, LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i) g
        |        WHERE length(ws[g.i]) > 0),
        |l AS (SELECT doc_id, w,
        |        lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS l1,
        |        lead(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS l2 FROM tok),
        |g AS (SELECT DISTINCT doc_id, w || ' ' || l1 || ' ' || l2 AS gram FROM l WHERE l2 IS NOT NULL),
        |bench AS (SELECT doc_id AS bench_id, gram FROM g WHERE doc_id % 97 = 0 AND doc_id < 10000),
        |corp AS (SELECT doc_id, gram FROM g WHERE NOT (doc_id % 97 = 0 AND doc_id < 10000)),
        |p AS (SELECT doc_id, bench_id, COUNT(*) AS n_shared FROM corp JOIN bench USING (gram) GROUP BY 1, 2)
        |SELECT doc_id, bench_id, CAST(n_shared AS BIGINT) AS n_shared FROM p
        |WHERE n_shared >= 2 ORDER BY doc_id, bench_id""".stripMargin)),

    QuerySpec("q185_stratified_sample", (s, dir) => {
      // PROPORTIONAL stratified sampling — the 4th member of the
      // sampling family (q60 fixed-rate, q80 weighted, q99 fixed-k):
      // within each lang stratum take the first ⌈n/10⌉ docs in
      // md5(doc_id) order, the allocation that tracks stratum size —
      // a reproducible 10% audit sample. Strata sizes ride a broadcast
      // join; md5 order is engine-portable (q161's hash argument).
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), md5(col("doc_id").cast("string")).as("h"))
      val sizes = d.groupBy(col("lang")).agg(count(lit(1)).as("stratum_n"))
      val w = Window.partitionBy(col("lang")).orderBy(col("h"), col("doc_id"))
      d.withColumn("rn", row_number().over(w))
        .join(broadcast(sizes), Seq("lang"))
        .filter(col("rn") <= ceil(col("stratum_n") / lit(10.0)))
        .select(col("lang"), col("stratum_n"), col("doc_id"), col("rn").cast("long").as("rn"))
    }, Some(
      """SELECT lang, stratum_n, doc_id, rn FROM (
        |  SELECT lang, doc_id, COUNT(*) OVER (PARTITION BY lang) AS stratum_n,
        |    row_number() OVER (PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents) WHERE rn <= ceil(stratum_n / 10.0)""".stripMargin)),

    QuerySpec("q187_sequence_packing", (s, dir) => {
      // concat-and-chunk sequence packing: the corpus concatenated in
      // doc_id order and cut into fixed 256-token context windows, so
      // a doc can SPAN chunk boundaries (q122's bin packer assigns each
      // doc to the single bin its first token lands in — no spans);
      // per-doc [first, last] chunk spans come from the EXCLUSIVE
      // running offset via the two-pass prefix sum (CumSum — no global
      // window). The readout is the packing plan's shape: chunks,
      // boundary-crossing docs (= attention-mask complexity), worst
      // span.
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.wsTokenCount(col("text")).cast("long").as("wc"))
        .filter(col("wc") > 0)
      CumSum.withRunningTotal(d, Seq(col("doc_id")), col("wc"), "cum")
        .withColumn("fc", expr("(cum - wc) div 256"))
        .withColumn("lc", expr("(cum - 1) div 256"))
        .agg(count(lit(1)).as("n_docs"), sum(col("wc")).as("total_tokens"),
          (max(col("lc")) + 1).as("n_chunks"),
          sum((col("lc") > col("fc")).cast("long")).as("n_boundary_docs"),
          max(col("lc") - col("fc") + 1).as("max_span"))
    }, Some(
      """WITH d AS (SELECT doc_id, CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS wc
        |           FROM documents),
        |d2 AS (SELECT doc_id, wc FROM d WHERE wc > 0),
        |t AS (SELECT doc_id, wc, SUM(wc) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum FROM d2),
        |x AS (SELECT doc_id, wc, cum, (cum - wc) // 256 AS fc, (cum - 1) // 256 AS lc FROM t)
        |SELECT COUNT(*) AS n_docs, CAST(SUM(wc) AS BIGINT) AS total_tokens,
        |  CAST(MAX(lc) + 1 AS BIGINT) AS n_chunks,
        |  CAST(SUM(CASE WHEN lc > fc THEN 1 ELSE 0 END) AS BIGINT) AS n_boundary_docs,
        |  CAST(MAX(lc - fc + 1) AS BIGINT) AS max_span
        |FROM x""".stripMargin)),

    QuerySpec("q189_mixture_weights", (s, dir) => {
      // training-mix DESIGN readout (the Pile/DoReMi recipe): per-
      // source TOKEN mass → share^α (α = 0.7, written exp(α·ln p) so
      // both engines compose the same transcendentals q86/q149 proved)
      // → renormalized weight → expected tokens at a 100k budget.
      // q124 is the APPLY side (doc-level keep-rate sampler over
      // langs); this emits the per-source budget table a mix designer
      // reviews before that sampler runs. Two tiny aggs over one
      // corpus scan; derived doubles round then decimal-reduce (q91).
      val B = 100000.0
      val src = Tables.documents(s, dir)
        .groupBy(col("source"))
        .agg(sum(TextAnalysis.wsTokenCount(col("text")).cast("long")).as("n_tokens"))
      val tot = src.agg(sum(col("n_tokens")).as("n_total"))
      val t = src.crossJoin(broadcast(tot))
        .withColumn("share", col("n_tokens").cast("double") / col("n_total"))
        .withColumn("t", pround(exp(log(col("share")) * 0.7), 12))
      val tt = t.agg(sum(col("t").cast(DecimalType(27, 12))).cast("double").as("t_sum"))
      t.crossJoin(broadcast(tt))
        .select(col("source"), col("n_tokens"), pround(col("share"), 9).as("share"),
          pround(col("t") / col("t_sum"), 9).as("weight"),
          pround(col("t") / col("t_sum") * B, 3).as("expected_tokens"))
        .orderBy(col("source"))
    }, Some(
      """WITH src AS (SELECT source, CAST(SUM(len(regexp_extract_all(text, '\S+'))) AS BIGINT) AS n_tokens
        |             FROM documents GROUP BY source),
        |tot AS (SELECT SUM(n_tokens) AS n_total FROM src),
        |t AS (SELECT source, n_tokens, CAST(n_tokens AS DOUBLE) / n_total AS share,
        |        round(exp(ln(CAST(n_tokens AS DOUBLE) / n_total) * 0.7), 12) AS t
        |      FROM src, tot),
        |tt AS (SELECT CAST(SUM(CAST(t AS DECIMAL(27,12))) AS DOUBLE) AS t_sum FROM t)
        |SELECT source, n_tokens, round(share, 9) AS share,
        |  round(t / t_sum, 9) AS weight,
        |  round(t / t_sum * 100000.0, 3) AS expected_tokens
        |FROM t, tt ORDER BY source""".stripMargin)),

    QuerySpec("q231_neyman_allocation", (s, dir) => {
      // Neyman-optimal stratified sample allocation [EXT]: per-source
      // sample budgets n_h ∝ N_h·σ_h — the design that minimizes
      // estimator variance at fixed total budget (q185 allocates
      // proportionally to SIZE; Neyman also weights by in-stratum
      // spread, so a volatile source gets more budget than a uniform
      // one). σ from exact integer Σx/Σx² decimal sums (population
      // form); integerization by largest-remainder (Hamilton): floors
      // first, the remaining seats by biggest fractional part — ranked
      // over the ≤|sources|-row strata frame (tiny-frame window
      // exception, like q110's top-50). All shares are identical IEEE
      // doubles in both engines, so seat order ties break identically
      // (then by source name). Degenerate all-σ=0 corpora fall back to
      // proportional-to-size on BOTH sides.
      val budget = 1000L
      val st = Tables.documents(s, dir)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("nh"),
          sum(col("n_chars").cast(DecimalType(27, 0))).cast("double").as("sx"),
          sum((col("n_chars") * col("n_chars")).cast(DecimalType(27, 0)))
            .cast("double").as("sx2"))
        .select(col("source"), col("nh"),
          sqrt(greatest(col("sx2") / col("nh")
            - (col("sx") / col("nh")) * (col("sx") / col("nh")), lit(0.0))).as("sigma"))
      val tot = st.agg(sum(col("nh") * col("sigma")).as("wsum"),
        sum(col("nh")).as("ntot"))
      val shared = st.crossJoin(broadcast(tot))
        .withColumn("share", when(col("wsum") > 0,
            lit(budget.toDouble) * col("nh") * col("sigma") / col("wsum"))
          .otherwise(lit(budget.toDouble) * col("nh") / col("ntot")))
        .withColumn("base", floor(col("share")))
        .withColumn("frac", col("share") - col("base"))
      val wRank = Window.orderBy(desc("frac"), col("source"))
      shared
        .withColumn("extra",
          when(row_number().over(wRank) <=
            (lit(budget) - sum(col("base")).over()), 1L).otherwise(0L))
        .select(col("source"), col("nh").as("n_docs"),
          pround(col("sigma"), 9).as("sigma"),
          (col("base") + col("extra")).as("alloc"))
        .orderBy(col("source"))
    }, Some(
      """WITH st AS (SELECT source, COUNT(*) AS nh,
        |        CAST(SUM(CAST(n_chars AS DECIMAL(27,0))) AS DOUBLE) AS sx,
        |        CAST(SUM(CAST(n_chars * n_chars AS DECIMAL(27,0))) AS DOUBLE) AS sx2
        |      FROM documents GROUP BY 1),
        |s2 AS (SELECT source, nh,
        |         sqrt(greatest(sx2 / nh - (sx / nh) * (sx / nh), 0.0)) AS sigma
        |       FROM st),
        |t AS (SELECT SUM(nh * sigma) AS wsum, SUM(nh) AS ntot FROM s2),
        |sh AS (SELECT source, nh, sigma,
        |         CASE WHEN wsum > 0 THEN 1000.0 * nh * sigma / wsum
        |              ELSE 1000.0 * nh / ntot END AS share
        |       FROM s2, t),
        |fb AS (SELECT *, FLOOR(share) AS base, share - FLOOR(share) AS frac FROM sh),
        |rk AS (SELECT *, row_number() OVER (ORDER BY frac DESC, source) AS rn,
        |         SUM(base) OVER () AS sb FROM fb)
        |SELECT source, nh AS n_docs, round(sigma, 9) AS sigma,
        |  CAST(base + (CASE WHEN rn <= 1000 - sb THEN 1 ELSE 0 END) AS BIGINT) AS alloc
        |FROM rk ORDER BY source""".stripMargin)),

    QuerySpec("q259_sample_selectivity", (s, dir) => {
      // sample-based selectivity estimation QC [EXT] — the "how wrong
      // is ANALYZE" report: cost-based planners estimate predicate
      // selectivity from a small sample; this measures the estimate
      // against ground truth for a ladder of `value > t` predicates so
      // the statistics refresh policy has numbers (big rel_err on the
      // tail thresholds = the classic sample-misses-the-tail failure).
      // The 10% sample is the q109 portable Lehmer hash (deterministic
      // and engine-identical — a random() sample could never oracle);
      // both counts reduce in ONE conditional agg over one scan each;
      // the estimate scales by the EXACT sample fraction, rel_err
      // closes floor-9 (actual = 0 rows are dropped — mirrored).
      val thresholds = Seq(50, 100, 200, 300)
      val ev = Dedup.cacheScoped(Tables.events(s, dir)
        .select(col("value"), (lehmer3(col("event_id")) % 10 === 0).as("in_sample")))
      val aggCols = Seq(count(lit(1)).as("n"),
        sum(col("in_sample").cast("long")).as("n_samp")) ++
        thresholds.flatMap(t => Seq(
          sum(when(col("value") > t, 1L).otherwise(0L)).as(s"a_$t"),
          sum(when(col("in_sample") && col("value") > t, 1L).otherwise(0L)).as(s"s_$t")))
      val agg = Dedup.cacheScoped(ev.agg(aggCols.head, aggCols.tail: _*))
      thresholds.map { t =>
        agg.select(lit(t.toLong).as("threshold"), col(s"a_$t").as("actual"),
          col(s"s_$t").as("n_sample_hits"),
          (floor(col(s"s_$t").cast("double") / col("n_samp") * col("n")
            * 1e9 + 0.5) / 1e9).as("estimate"),
          when(col(s"a_$t") > 0,
            floor((col(s"s_$t").cast("double") / col("n_samp") * col("n")
              - col(s"a_$t")) / col(s"a_$t") * 1e9 + 0.5) / 1e9).as("rel_err"))
          .filter(col("actual") > 0)
      }.reduce(_ unionAll _).orderBy(col("threshold"))
    }, Some {
      val ts = Seq(50, 100, 200, 300)
      val cells = ts.map(t =>
        s"""SUM(CASE WHEN value > $t THEN 1 ELSE 0 END) AS a_$t,
           |        SUM(CASE WHEN in_sample AND value > $t THEN 1 ELSE 0 END) AS s_$t"""
          .stripMargin).mkString(",\n        ")
      val selects = ts.map(t =>
        s"""SELECT CAST($t AS BIGINT) AS threshold, CAST(a_$t AS BIGINT) AS actual,
           |  CAST(s_$t AS BIGINT) AS n_sample_hits,
           |  FLOOR(CAST(s_$t AS DOUBLE) / n_samp * n * 1e9 + 0.5) / 1e9 AS estimate,
           |  CASE WHEN a_$t > 0 THEN
           |    FLOOR((CAST(s_$t AS DOUBLE) / n_samp * n - a_$t) / a_$t
           |      * 1e9 + 0.5) / 1e9 END AS rel_err
           |FROM a WHERE a_$t > 0""".stripMargin).mkString("\nUNION ALL\n")
      s"""$evCte,
         |h AS (SELECT value,
         |        (event_id % 2147483647 * 48271 % 2147483647 * 48271 % 2147483647
         |          * 48271 % 2147483647) % 10 = 0 AS in_sample
         |      FROM ev),
         |a AS (SELECT COUNT(*) AS n,
         |        SUM(CASE WHEN in_sample THEN 1 ELSE 0 END) AS n_samp,
         |        $cells
         |      FROM h)
         |$selects
         |ORDER BY threshold""".stripMargin
    }),

    QuerySpec("q301_filter_funnel", (s, dir) => {
      // quality-filter cascade audit [EXT] — the per-STAGE funnel a
      // curation pipeline publishes next to its output (q92 is the
      // user-journey funnel; this is the data-yield one): how many
      // docs survive length → alpha-word (Gopher 80%) → stopword →
      // exact-dedup, where each gate sees only the previous gate's
      // survivors. Every gate compares EXACT INTEGERS via cross-
      // multiplication (alpha·5 ≥ ws·4, stop·100 ≥ ws·3) — zero float
      // surface, so no engine boundary can flip a doc. One scan builds
      // the flags; dedup-keep-first is the standard min-per-hash agg
      // over stage-3 survivors; the four funnel rows unpivot from the
      // single 1-row close (no second scan).
      val flagged = Dedup.cacheScoped(Tables.documents(s, dir).select(
          col("doc_id"), col("n_chars"), md5(col("text")).as("h"),
          TextAnalysis.wsTokenCount(col("text")).cast("long").as("ws"),
          size(regexp_extract_all(col("text"),
            lit(TextAnalysis.alphaWordPattern), lit(0))).cast("long").as("aw"),
          size(regexp_extract_all(lower(col("text")),
            lit(TextAnalysis.stopwordAltPattern), lit(0))).cast("long").as("sw"))
        .withColumn("s1", col("n_chars") >= 200)
        .withColumn("s2", col("s1") && col("ws") > 0
          && col("aw") * 5 >= col("ws") * 4)
        .withColumn("s3", col("s2") && col("sw") * 100 >= col("ws") * 3))
      val keepFirst = flagged.filter(col("s3"))
        .groupBy(col("h")).agg(min(col("doc_id")).as("keep_id"))
      val wide = flagged.join(keepFirst, Seq("h"), "left")
        .withColumn("s4", col("s3") && col("doc_id") === col("keep_id"))
        .agg(count(lit(1)).as("n0"),
          sum(when(col("s1"), 1L).otherwise(0L)).as("n1"),
          sum(when(col("s2"), 1L).otherwise(0L)).as("n2"),
          sum(when(col("s3"), 1L).otherwise(0L)).as("n3"),
          sum(when(col("s4"), 1L).otherwise(0L)).as("n4"))
      wide.select(explode(array(
          struct(lit(1).as("stage"), lit("min_length").as("gate"),
            col("n0").as("n_in"), col("n1").as("n_out")),
          struct(lit(2).as("stage"), lit("alpha_words").as("gate"),
            col("n1").as("n_in"), col("n2").as("n_out")),
          struct(lit(3).as("stage"), lit("stopwords").as("gate"),
            col("n2").as("n_in"), col("n3").as("n_out")),
          struct(lit(4).as("stage"), lit("exact_dedup").as("gate"),
            col("n3").as("n_in"), col("n4").as("n_out")))).as("r"),
          col("n0"))
        .select(col("r.stage").as("stage"), col("r.gate").as("gate"),
          col("r.n_in").as("n_in"), col("r.n_out").as("n_out"),
          pround(lit(1.0) - col("r.n_out").cast("double")
            / col("r.n_in").cast("double"), 9).as("drop_frac"),
          pround(col("r.n_out").cast("double")
            / col("n0").cast("double"), 9).as("cum_survival"))
        .orderBy(col("stage"))
    }, Some(
      """WITH f AS (SELECT doc_id, n_chars, md5(text) AS h,
        |    len(regexp_extract_all(text, '\S+')) AS ws,
        |    len(regexp_extract_all(text, '\S*[A-Za-z]\S*')) AS aw,
        |    len(regexp_extract_all(lower(text),
        |        '\b(the|and|of|to|a|in|is|that|it|for)\b')) AS sw
        |  FROM documents),
        |g AS (SELECT doc_id, h,
        |        (n_chars >= 200) AS s1,
        |        (n_chars >= 200 AND ws > 0 AND aw * 5 >= ws * 4) AS s2,
        |        (n_chars >= 200 AND ws > 0 AND aw * 5 >= ws * 4
        |          AND sw * 100 >= ws * 3) AS s3
        |      FROM f),
        |kf AS (SELECT h, MIN(doc_id) AS keep_id FROM g WHERE s3 GROUP BY 1),
        |wd AS (SELECT COUNT(*) AS n0,
        |         SUM(CASE WHEN s1 THEN 1 ELSE 0 END) AS n1,
        |         SUM(CASE WHEN s2 THEN 1 ELSE 0 END) AS n2,
        |         SUM(CASE WHEN s3 THEN 1 ELSE 0 END) AS n3,
        |         SUM(CASE WHEN s3 AND g.doc_id = kf.keep_id THEN 1 ELSE 0 END) AS n4
        |       FROM g LEFT JOIN kf ON g.h = kf.h),
        |st AS (SELECT 1 AS stage, 'min_length' AS gate, n0 AS n_in, n1 AS n_out, n0 FROM wd
        |       UNION ALL SELECT 2, 'alpha_words', n1, n2, n0 FROM wd
        |       UNION ALL SELECT 3, 'stopwords', n2, n3, n0 FROM wd
        |       UNION ALL SELECT 4, 'exact_dedup', n3, n4, n0 FROM wd)
        |SELECT CAST(stage AS INT) AS stage, gate,
        |  CAST(n_in AS BIGINT) AS n_in, CAST(n_out AS BIGINT) AS n_out,
        |  round(1.0 - CAST(n_out AS DOUBLE) / CAST(n_in AS DOUBLE), 9) AS drop_frac,
        |  round(CAST(n_out AS DOUBLE) / CAST(n0 AS DOUBLE), 9) AS cum_survival
        |FROM st ORDER BY stage""".stripMargin)),

    QuerySpec("q306_shard_balance", (s, dir) => {
      // epoch-shard balance audit [EXT] — assign every doc to one of
      // 64 training shards by the q161 md5-prefix hash and ask the two
      // questions a data-loading team asks before an epoch: are the
      // shards TOKEN-balanced (max/mean ratio, coefficient of
      // variation — stragglers = idle accelerators), and is each shard
      // source-MIXED (mean within-shard source entropy — a shard that
      // is all one source breaks shuffled-training assumptions). One
      // scan to (shard, source) exact counts; everything downstream
      // closes on the ≤ 64·|sources| frame. Entropy terms pround(9)
      // into DECIMAL sums (order-free), shard moments exact DECIMAL.
      val D = DecimalType(38, 0)
      val d = Tables.documents(s, dir).select(
        (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("long") % 64).as("shard"),
        col("source"), TextAnalysis.wsTokenCount(col("text")).cast("long").as("ws"))
      val cell = Dedup.cacheScoped(d.groupBy(col("shard"), col("source"))
        .agg(count(lit(1)).as("n"), sum(col("ws")).as("tok")))
      val shard = cell.groupBy(col("shard"))
        .agg(sum(col("n")).as("n"), sum(col("tok")).as("tok"))
      val ent = cell.join(shard.select(col("shard"), col("n").as("ntot")),
          Seq("shard"))
        .withColumn("p", col("n").cast("double") / col("ntot").cast("double"))
        .withColumn("term", pround(-col("p") * log(col("p")), 9)
          .cast(DecimalType(27, 10)))
        .groupBy(col("shard")).agg(sum(col("term")).as("h"))
      val st = shard.agg(count(lit(1)).as("n_shards"),
        min(col("tok")).as("min_tokens"), max(col("tok")).as("max_tokens"),
        sum(col("tok").cast(D)).as("st"),
        sum((col("tok").cast(D) * col("tok")).cast(D)).as("stt"))
      val eAvg = ent.agg(sum(col("h")).as("hs"), count(lit(1)).as("hn"))
      st.crossJoin(eAvg)
        .withColumn("mean_tok", col("st").cast("double")
          / col("n_shards").cast("double"))
        .select(col("n_shards"), col("min_tokens"), col("max_tokens"),
          pround(col("max_tokens").cast("double") / col("mean_tok"), 9)
            .as("imbalance"),
          pround(sqrt(col("stt").cast("double") / col("n_shards").cast("double")
            - col("mean_tok") * col("mean_tok")) / col("mean_tok"), 9).as("cov"),
          pround(col("hs").cast("double") / col("hn").cast("double"), 9)
            .as("mean_source_entropy"))
    }, Some(
      """WITH d AS (SELECT
        |    CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |      AS UINT64) % 64 AS BIGINT) AS shard,
        |    source, len(regexp_extract_all(text, '\S+')) AS ws
        |  FROM documents),
        |cell AS (SELECT shard, source, COUNT(*) AS n, SUM(ws) AS tok
        |         FROM d GROUP BY 1, 2),
        |sh AS (SELECT shard, SUM(n) AS n, SUM(tok) AS tok FROM cell GROUP BY 1),
        |ent AS (SELECT c.shard,
        |          SUM(CAST(round(-(CAST(c.n AS DOUBLE) / CAST(s.n AS DOUBLE))
        |            * ln(CAST(c.n AS DOUBLE) / CAST(s.n AS DOUBLE)), 9)
        |            AS DECIMAL(27,10))) AS h
        |        FROM cell c JOIN sh s USING (shard) GROUP BY 1),
        |st AS (SELECT COUNT(*) AS n_shards, MIN(tok) AS min_tokens,
        |         MAX(tok) AS max_tokens, SUM(CAST(tok AS HUGEINT)) AS stt1,
        |         SUM(CAST(tok AS HUGEINT) * CAST(tok AS HUGEINT)) AS stt2
        |       FROM sh),
        |ea AS (SELECT SUM(h) AS hs, COUNT(*) AS hn FROM ent)
        |SELECT CAST(n_shards AS BIGINT) AS n_shards,
        |  CAST(min_tokens AS BIGINT) AS min_tokens,
        |  CAST(max_tokens AS BIGINT) AS max_tokens,
        |  round(CAST(max_tokens AS DOUBLE)
        |    / (CAST(stt1 AS DOUBLE) / CAST(n_shards AS DOUBLE)), 9) AS imbalance,
        |  round(sqrt(CAST(stt2 AS DOUBLE) / CAST(n_shards AS DOUBLE)
        |      - (CAST(stt1 AS DOUBLE) / CAST(n_shards AS DOUBLE))
        |        * (CAST(stt1 AS DOUBLE) / CAST(n_shards AS DOUBLE)))
        |    / (CAST(stt1 AS DOUBLE) / CAST(n_shards AS DOUBLE)), 9) AS cov,
        |  round(CAST(hs AS DOUBLE) / CAST(hn AS DOUBLE), 9) AS mean_source_entropy
        |FROM st CROSS JOIN ea""".stripMargin)),

    QuerySpec("q307_weighted_sample", (s, dir) => {
      // token-budget weighted sampling [EXT] — Efraimidis–Spirakis
      // weighted sampling without replacement, the way training
      // corpora are sampled PROPORTIONAL TO TOKEN COUNT rather than
      // per-doc: each doc draws the deterministic md5-uniform
      // u ∈ (0,1] (q53/q80's reproducible-sample idiom) and ranks by
      // key = ln(u)/ws — the ES exponential trick, top-k of which IS
      // a weight-proportional without-replacement draw. Fully
      // distributed: one scan, TakeOrderedAndProject top-50 (no global
      // sort); deterministic end-to-end, so the oracle replays it
      // exactly. Keys pround(12) before ranking (the transcendental-
      // parity discipline), doc_id breaks ties totally.
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          TextAnalysis.wsTokenCount(col("text")).cast("long").as("ws"))
        .filter(col("ws") > 0)
      val u = (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("double") + 1.0) / 4294967296.0
      docs.withColumn("k", pround(log(u) / col("ws"), 12))
        .orderBy(desc("k"), col("doc_id")).limit(50)
        .select(col("doc_id"), col("source"), col("ws"), col("k").as("es_key"))
    }, Some(
      """WITH d AS (SELECT doc_id, source,
        |    len(regexp_extract_all(text, '\S+')) AS ws FROM documents),
        |f AS (SELECT doc_id, source, ws,
        |        (CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |          AS UINT64) AS DOUBLE) + 1.0) / 4294967296.0 AS u
        |      FROM d WHERE ws > 0)
        |SELECT doc_id, source, CAST(ws AS BIGINT) AS ws,
        |  round(ln(u) / ws, 12) AS es_key
        |FROM f ORDER BY es_key DESC, doc_id LIMIT 50""".stripMargin)),

    QuerySpec("q315_grouped_weighted_sample", (s, dir) => {
      // per-source token-weighted sample (A-Res within groups) [EXT] —
      // q307's Efraimidis–Spirakis draw stratified by the curation
      // unit: 5 docs PER SOURCE, weight-proportional to token count —
      // how a mixture spec ("N docs from each source, biased to the
      // long tail of long docs") is actually materialized. Same
      // deterministic md5-uniform key; the per-group top-k rides a
      // WindowGroupLimit (rank pushed into the shuffle — each
      // partition keeps ≤k rows per group before the exchange), never
      // a global sort.
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          TextAnalysis.wsTokenCount(col("text")).cast("long").as("ws"))
        .filter(col("ws") > 0)
      val u = (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("double") + 1.0) / 4294967296.0
      val w = Window.partitionBy(col("source"))
        .orderBy(desc("k"), col("doc_id"))
      docs.withColumn("k", pround(log(u) / col("ws"), 12))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
        .select(col("source"), col("rnk"), col("doc_id"), col("ws"),
          col("k").as("es_key"))
        .orderBy(col("source"), col("rnk"))
    }, Some(
      """WITH d AS (SELECT doc_id, source,
        |    len(regexp_extract_all(text, '\S+')) AS ws FROM documents),
        |f AS (SELECT doc_id, source, ws,
        |        (CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |          AS UINT64) AS DOUBLE) + 1.0) / 4294967296.0 AS u
        |      FROM d WHERE ws > 0),
        |k AS (SELECT doc_id, source, ws, round(ln(u) / ws, 12) AS es_key FROM f),
        |r AS (SELECT *, row_number() OVER (PARTITION BY source
        |        ORDER BY es_key DESC, doc_id) AS rnk FROM k)
        |SELECT source, CAST(rnk AS INT) AS rnk, doc_id, CAST(ws AS BIGINT) AS ws,
        |  es_key
        |FROM r WHERE rnk <= 5 ORDER BY source, rnk""".stripMargin)),

    QuerySpec("q338_quality_yield", (s, dir) => {
      // quality-threshold yield matrix per source [EXT] — how many
      // docs and tokens survive each quality bar, per source: the
      // mixture designer's trade-off table (q301 fixes ONE cascade;
      // this sweeps the quality knob — a source whose token yield
      // collapses at 0.4 can't fund its mixture weight at that bar).
      // One codegen scan; all 4 thresholds × 2 measures as conditional
      // exact-long sums in ONE grouped agg (q302's unpivot shape) —
      // never a docs×thresholds join. Gates compare the pround(9)
      // score to the literal bar — engine-exact boundaries.
      val ts = Seq(0.2, 0.4, 0.6, 0.8)
      val d = Tables.documents(s, dir).select(col("source"),
        pround(TextAnalysis.qualityScore(col("text")), 9).as("q"),
        TextAnalysis.wsTokenCount(col("text")).cast("long").as("ws"))
      val aggs = Seq(count(lit(1)).as("n"), sum(col("ws")).as("tok")) ++
        ts.flatMap(t => Seq(
          sum(when(col("q") >= t, 1L).otherwise(0L)).as(s"d${(t * 10).toInt}"),
          sum(when(col("q") >= t, col("ws")).otherwise(0L))
            .as(s"t${(t * 10).toInt}")))
      val wide = d.groupBy(col("source")).agg(aggs.head, aggs.tail: _*)
      wide.select(col("source"), col("n"), col("tok"),
          explode(array(ts.map(t => struct(lit(t).as("threshold"),
            col(s"d${(t * 10).toInt}").as("n_docs_kept"),
            col(s"t${(t * 10).toInt}").as("tokens_kept"))): _*)).as("r"))
        .select(col("source"), col("r.threshold").as("threshold"),
          col("r.n_docs_kept").as("n_docs_kept"),
          col("r.tokens_kept").as("tokens_kept"),
          pround(col("r.tokens_kept").cast("double")
            / col("tok").cast("double"), 9).as("token_yield"))
        .orderBy(col("source"), col("threshold"))
    }, Some(
      s"""$qualityDocCte,
         |d2 AS (SELECT d.source, round(d.score, 9) AS q,
         |         len(regexp_extract_all(doc.text, '\\S+')) AS ws
         |       FROM d JOIN documents doc USING (doc_id)),
         |g AS (SELECT source, COUNT(*) AS n, SUM(ws) AS tok,
         |        SUM(CASE WHEN q >= 0.2 THEN 1 ELSE 0 END) AS d2c,
         |        SUM(CASE WHEN q >= 0.2 THEN ws ELSE 0 END) AS t2,
         |        SUM(CASE WHEN q >= 0.4 THEN 1 ELSE 0 END) AS d4,
         |        SUM(CASE WHEN q >= 0.4 THEN ws ELSE 0 END) AS t4,
         |        SUM(CASE WHEN q >= 0.6 THEN 1 ELSE 0 END) AS d6,
         |        SUM(CASE WHEN q >= 0.6 THEN ws ELSE 0 END) AS t6,
         |        SUM(CASE WHEN q >= 0.8 THEN 1 ELSE 0 END) AS d8,
         |        SUM(CASE WHEN q >= 0.8 THEN ws ELSE 0 END) AS t8
         |      FROM d2 GROUP BY 1),
         |u AS (SELECT source, tok, 0.2 AS threshold, d2c AS nk, t2 AS tk FROM g
         |      UNION ALL SELECT source, tok, 0.4, d4, t4 FROM g
         |      UNION ALL SELECT source, tok, 0.6, d6, t6 FROM g
         |      UNION ALL SELECT source, tok, 0.8, d8, t8 FROM g)
         |SELECT source, threshold, CAST(nk AS BIGINT) AS n_docs_kept,
         |  CAST(tk AS BIGINT) AS tokens_kept,
         |  round(CAST(tk AS DOUBLE) / CAST(tok AS DOUBLE), 9) AS token_yield
         |FROM u ORDER BY source, threshold""".stripMargin)),

    QuerySpec("q340_effective_tokens", (s, dir) => {
      // effective training tokens [EXT] — the capstone yield scalar a
      // curation run reports: of the raw corpus tokens, what survives
      // exact dedup (q308's keep-first), then the quality bar (q338's
      // 0.4 gate), then context truncation at 1024 (q302's policy) —
      // the number that actually funds a token budget. One scan
      // builds per-doc (hash, quality, ws); one min-per-hash agg; the
      // cascade closes as conditional exact-long sums in a 1-row agg.
      val d = Dedup.cacheScoped(Tables.documents(s, dir).select(
        col("doc_id"), md5(col("text")).as("h"),
        pround(TextAnalysis.qualityScore(col("text")), 9).as("q"),
        TextAnalysis.wsTokenCount(col("text")).cast("long").as("ws")))
      val keep = d.groupBy(col("h")).agg(min(col("doc_id")).as("keep_id"))
      d.join(keep, Seq("h"))
        .withColumn("kept", col("doc_id") === col("keep_id"))
        .withColumn("qual", col("kept") && col("q") >= 0.4)
        .agg(sum(col("ws")).as("raw_tokens"),
          sum(when(col("kept"), col("ws")).otherwise(0L)).as("after_dedup"),
          sum(when(col("qual"), col("ws")).otherwise(0L)).as("after_quality"),
          sum(when(col("qual"), least(col("ws"), lit(1024L))).otherwise(0L))
            .as("effective_tokens"))
        .select(col("raw_tokens"), col("after_dedup"), col("after_quality"),
          col("effective_tokens"),
          pround(col("effective_tokens").cast("double")
            / col("raw_tokens").cast("double"), 9).as("overall_yield"))
    }, Some(
      s"""$qualityDocCte,
         |f AS (SELECT d.doc_id, md5(doc.text) AS h, round(d.score, 9) AS q,
         |        len(regexp_extract_all(doc.text, '\\S+')) AS ws
         |      FROM d JOIN documents doc USING (doc_id)),
         |keep AS (SELECT h, MIN(doc_id) AS keep_id FROM f GROUP BY 1),
         |j AS (SELECT f.ws, f.q, (f.doc_id = keep.keep_id) AS kept
         |      FROM f JOIN keep USING (h))
         |SELECT CAST(SUM(ws) AS BIGINT) AS raw_tokens,
         |  CAST(SUM(CASE WHEN kept THEN ws ELSE 0 END) AS BIGINT) AS after_dedup,
         |  CAST(SUM(CASE WHEN kept AND q >= 0.4 THEN ws ELSE 0 END) AS BIGINT)
         |    AS after_quality,
         |  CAST(SUM(CASE WHEN kept AND q >= 0.4 THEN least(ws, 1024)
         |    ELSE 0 END) AS BIGINT) AS effective_tokens,
         |  round(CAST(SUM(CASE WHEN kept AND q >= 0.4 THEN least(ws, 1024)
         |      ELSE 0 END) AS DOUBLE) / CAST(SUM(ws) AS DOUBLE), 9)
         |    AS overall_yield
         |FROM j""".stripMargin)),

    QuerySpec("q350_datasheet", (s, dir) => {
      // corpus datasheet [EXT] — the Datasheets-for-Datasets one-pager
      // a published corpus ships with, assembled in two scans + tiny
      // closes: size (docs/tokens), vocabulary, language composition
      // (top language + its share), exact-dup rate, mean quality
      // (pround'd terms in exact DECIMAL — order-free), and the
      // dominant source with its token share. Every number is a
      // composition of family primitives (q30 dup rate, q244
      // concentration, q338 quality) — the report is ONE row a release
      // pipeline can diff against the previous snapshot (q324).
      val d = Dedup.cacheScoped(Tables.documents(s, dir).select(
        col("doc_id"), col("lang"), col("source"), md5(col("text")).as("h"),
        TextAnalysis.wsTokenCount(col("text")).cast("long").as("ws"),
        pround(TextAnalysis.qualityScore(col("text")), 9).as("q")))
      val base = d.agg(count(lit(1)).as("n_docs"), sum(col("ws")).as("n_tokens"),
        countDistinct(col("h")).as("n_unique_docs"),
        sum(col("q").cast(DecimalType(27, 10))).as("qsum"))
      val vocabN = Tables.documents(s, dir)
        .select(explode(split(lower(col("text")), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .agg(countDistinct(col("w")).as("vocab_size"))
      val topLang = d.groupBy(col("lang")).agg(count(lit(1)).as("nl"))
        .orderBy(desc("nl"), col("lang")).limit(1)
        .select(col("lang").as("top_lang"), col("nl"))
      val topSrc = d.groupBy(col("source")).agg(sum(col("ws")).as("st"))
        .orderBy(desc("st"), col("source")).limit(1)
        .select(col("source").as("top_source"), col("st"))
      base.crossJoin(broadcast(vocabN)).crossJoin(broadcast(topLang))
        .crossJoin(broadcast(topSrc))
        .select(col("n_docs"), col("n_tokens"), col("vocab_size"),
          pround(lit(1.0) - col("n_unique_docs").cast("double")
            / col("n_docs").cast("double"), 9).as("dup_rate"),
          pround(col("qsum").cast("double") / col("n_docs").cast("double"), 9)
            .as("mean_quality"),
          col("top_lang"),
          pround(col("nl").cast("double") / col("n_docs").cast("double"), 9)
            .as("top_lang_share"),
          col("top_source"),
          pround(col("st").cast("double") / col("n_tokens").cast("double"), 9)
            .as("top_source_token_share"))
    }, Some(
      s"""$qualityDocCte,
         |f AS (SELECT d.doc_id, d.lang, d.source, md5(doc.text) AS h,
         |        len(regexp_extract_all(doc.text, '\\S+')) AS ws,
         |        round(d.score, 9) AS q
         |      FROM d JOIN documents doc USING (doc_id)),
         |base AS (SELECT COUNT(*) AS n_docs, SUM(ws) AS n_tokens,
         |           COUNT(DISTINCT h) AS n_unique,
         |           SUM(CAST(q AS DECIMAL(27,10))) AS qsum FROM f),
         |vn AS (SELECT COUNT(DISTINCT w) AS vocab_size FROM
         |       (SELECT unnest(string_split(lower(text), ' ')) AS w
         |        FROM documents) WHERE len(w) > 0),
         |tl AS (SELECT lang AS top_lang, COUNT(*) AS nl FROM f GROUP BY 1
         |       ORDER BY nl DESC, lang LIMIT 1),
         |tsrc AS (SELECT source AS top_source, SUM(ws) AS st FROM f GROUP BY 1
         |         ORDER BY st DESC, source LIMIT 1)
         |SELECT CAST(n_docs AS BIGINT) AS n_docs,
         |  CAST(n_tokens AS BIGINT) AS n_tokens,
         |  CAST(vocab_size AS BIGINT) AS vocab_size,
         |  round(1.0 - CAST(n_unique AS DOUBLE) / CAST(n_docs AS DOUBLE), 9)
         |    AS dup_rate,
         |  round(CAST(qsum AS DOUBLE) / CAST(n_docs AS DOUBLE), 9)
         |    AS mean_quality,
         |  top_lang,
         |  round(CAST(nl AS DOUBLE) / CAST(n_docs AS DOUBLE), 9)
         |    AS top_lang_share,
         |  top_source,
         |  round(CAST(st AS DOUBLE) / CAST(n_tokens AS DOUBLE), 9)
         |    AS top_source_token_share
         |FROM base, vn, tl, tsrc""".stripMargin)),
  )
}

package graft
package catalog

import org.apache.spark.sql.functions._

import graft.functions.{Extraction, TextAnalysis}
import graft.operators.DocPipeline
import graft.sources.FakePdfDecoder

/** The reference's extraction surface: tag stripping, word counts, hashes,
  * page explode and filters, quality and language tags, and the
  * document-pipeline channels. */
object ExtractionQueries {

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q20_strip_tags", (s, dir) => {
      Tables.documents(s, dir).select(col("doc_id"),
        Extraction.stripTags(
          concat(lit("<div><p>"), col("text"), lit("</p></div>"))).as("stripped"))
    }, Some(
      """SELECT doc_id,
        |  regexp_replace('<div><p>' || text || '</p></div>', '(?s)<.*?>', chr(10), 'g') AS stripped
        |FROM documents""".stripMargin)),

    QuerySpec("q21_word_count", (s, dir) => {
      Tables.documents(s, dir).select(col("doc_id"),
        Extraction.wordCount(col("text")).cast("long").as("total_words"))
    }, Some(
      """SELECT doc_id, len(regexp_extract_all(text, '[^\]\[\s,<>]+')) AS total_words
        |FROM documents""".stripMargin)),

    QuerySpec("q22_remove_digits", (s, dir) => {
      Tables.documents(s, dir).select(col("doc_id"),
        Extraction.removeDigits(concat(col("text"), lit(" pages 34-89 v34.67"))).as("no_digits"))
    }, Some(
      """SELECT doc_id,
        |  regexp_replace(text || ' pages 34-89 v34.67', '[.\d]+', '', 'g') AS no_digits
        |FROM documents""".stripMargin)),

    QuerySpec("q23_hashes", (s, dir) => {
      Tables.documents(s, dir).select(col("doc_id"),
        Extraction.contentHash(col("text"), "md5").as("md5_hash"),
        Extraction.contentHash(col("text"), "sha256").as("sha256_hash"))
    }, Some(
      """SELECT doc_id, md5(text) AS md5_hash, sha256(text) AS sha256_hash
        |FROM documents""".stripMargin)),

    QuerySpec("q24_min_words_filter", (s, dir) => {
      Tables.documents(s, dir)
        .withColumn("total_words", Extraction.wordCount(col("text")).cast("long"))
        .filter(col("total_words") >= 30)
        .select(col("doc_id"), col("total_words"))
    }, Some(
      """SELECT doc_id, len(regexp_extract_all(text, '[^\]\[\s,<>]+')) AS total_words
        |FROM documents
        |WHERE len(regexp_extract_all(text, '[^\]\[\s,<>]+')) >= 30""".stripMargin)),

    QuerySpec("q25_page_explode", (s, dir) => {
      // the reference's per-page explode + min-words gate + key synthesis,
      // SQL-expressible twin of the DocPipeline core (40-word pages)
      val ws = split(col("text"), " ")
      val np = ceil(size(ws) / lit(40.0)).cast("int")
      Tables.documents(s, dir)
        .select(col("doc_id"), ws.as("ws"), np.as("np"))
        .select(col("doc_id"), col("ws"),
          explode(sequence(lit(0), col("np") - 1)).as("page_no"))
        .select(col("doc_id"), col("page_no"),
          array_join(slice(col("ws"), col("page_no") * 40 + 1, lit(40)), " ").as("page_text"))
        .withColumn("page_words", size(split(col("page_text"), " ")).cast("long"))
        .filter(col("page_words") >= 5)
        .withColumn("page_key",
          Extraction.pageKey(format_string("%06d", col("doc_id")), col("page_no")))
    }, Some(
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |p AS (SELECT doc_id, ws, CAST(ceil(len(ws)/40.0) AS INTEGER) AS np FROM t),
        |x AS (
        |  SELECT p.doc_id, CAST(g.i AS INTEGER) AS page_no,
        |         array_to_string(ws[g.i*40+1 : least((g.i+1)*40, len(ws))], ' ') AS page_text
        |  FROM p, LATERAL (SELECT unnest(generate_series(0, np-1)) AS i) g)
        |SELECT doc_id, page_no, page_text,
        |       len(string_split(page_text, ' ')) AS page_words,
        |       printf('%06d', doc_id) || CAST(page_no AS VARCHAR) AS page_key
        |FROM x WHERE len(string_split(page_text, ' ')) >= 5""".stripMargin)),

    QuerySpec("q26_quality", (s, dir) => {
      Tables.documents(s, dir).select(col("doc_id"),
        TextAnalysis.wsTokenCount(col("text")).cast("long").as("ws_tokens"),
        TextAnalysis.stopwordRatio(col("text")).as("stopword_ratio"),
        TextAnalysis.meanWordLen(col("text")).as("mean_word_len"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
    }, Some(
      """SELECT doc_id,
        |  len(regexp_extract_all(text, '\S+')) AS ws_tokens,
        |  CASE WHEN len(regexp_extract_all(text, '\S+')) = 0 THEN 0.0
        |       ELSE CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|a|in|is|that|it|for)\b')) AS DOUBLE)
        |            / len(regexp_extract_all(text, '\S+')) END AS stopword_ratio,
        |  CASE WHEN len(regexp_extract_all(text, '\S+')) = 0 THEN 0.0
        |       ELSE CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
        |            / len(regexp_extract_all(text, '\S+')) END AS mean_word_len,
        |  least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
        |    * (CASE WHEN length(text) = 0 THEN 0.0
        |            ELSE CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / length(text) END)
        |    * (1.0 - least((CASE WHEN length(text) = 0 THEN 0.0
        |            ELSE CAST(length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) AS DOUBLE) / length(text) END) * 5.0, 1.0))
        |    AS quality
        |FROM documents""".stripMargin)),

    QuerySpec("q27_tokens", (s, dir) => {
      Tables.documents(s, dir).select(col("doc_id"),
        TextAnalysis.wsTokenCount(col("text")).cast("long").as("ws_tokens"),
        TextAnalysis.bpeTokenCount(col("text")).cast("long").as("bpe_tokens"))
    }, Some(
      """SELECT doc_id,
        |  len(regexp_extract_all(text, '\S+')) AS ws_tokens,
        |  len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\s]')) AS bpe_tokens
        |FROM documents""".stripMargin)),

    QuerySpec("q28_fingerprint", (s, dir) => {
      Tables.documents(s, dir).select(col("doc_id"),
        TextAnalysis.fingerprintMd5(col("text")).as("fp"))
    }, Some(
      """SELECT doc_id,
        |  md5(trim(regexp_replace(regexp_replace(lower(text), '[^\p{L}\p{N}\s]', '', 'g'), '\s+', ' ', 'g'))) AS fp
        |FROM documents""".stripMargin)),

    QuerySpec("q29_langid", (s, dir) => {
      // heuristic langid is not SQL-expressible → rows-only check
      Tables.documents(s, dir).select(col("doc_id"),
        TextAnalysis.langId(col("text")).as("detected_lang"))
    }, None), // accuracy: LangIdSpec (per-language accuracy of the statistical detector)

    QuerySpec("q71_doc_reassembly", (s, dir) => {
      // ordered aggregation — the INVERSE of chunking/explode: collect a
      // doc's non-overlapping chunks and concatenate in chunk order
      // (collect_list is unordered; array_sort on the (chunk_no, chunk)
      // struct restores determinism). Reassembled text must equal the
      // original, so the oracle is exact.
      val chunks = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"),
          posexplode(sequence(lit(0), length(col("text")) - 1, lit(200)))
            .as(Seq("chunk_no", "start")))
        .select(col("doc_id"), col("chunk_no"),
          expr("substring(text, start + 1, 200)").as("chunk"))
      chunks.groupBy(col("doc_id"))
        .agg(array_join(
          transform(array_sort(collect_list(struct(col("chunk_no"), col("chunk")))),
            x => x.getField("chunk")), "").as("text"))
    }, Some(
      """WITH c AS (
        |  SELECT doc_id, CAST(s.i // 200 AS BIGINT) AS chunk_no,
        |    substr(text, CAST(s.i AS INT) + 1, 200) AS chunk
        |  FROM documents, LATERAL unnest(generate_series(0, length(text) - 1, 200)) AS s(i))
        |SELECT doc_id, string_agg(chunk, '' ORDER BY chunk_no) AS text
        |FROM c GROUP BY doc_id""".stripMargin)),

    QuerySpec("q40_doc_pipeline_stats", (s, dir) => {
      // full pipeline status channel; the deterministic stub decoder's
      // arithmetic is SQL-expressible, so this is oracle-matched (see the
      // q40 oracle for the page/word-count reconstruction)
      val cfg = PipelineConfig(minWordsPerPage = 5, getLanguage = false,
        saveFigures = true, maxPages = Some(8))
      val docs = Tables.documents(s, dir)
        .withColumn("payload", encode(col("text"), "UTF-8")).drop("text")
      val keyed = DocPipeline.withKeys(docs, col("doc_id"), cfg)
      val decoded = DocPipeline.decodePages(keyed, FakePdfDecoder(40), "payload")
      val tagged = DocPipeline.explodePages(decoded.drop("payload"), cfg)
      DocPipeline.channels(tagged)._2
    },
    // the stub decoder's arithmetic is a pure function of the text column
    // (W = \S+ runs, pages = 40-word groups capped at maxPages=8, per-page
    // word count = the reference word regex over the page's word slice), so
    // the full pipeline status channel is SQL-expressible — the same
    // argument that oracle-ized q38/q69. Quirk parity: all-whitespace text
    // decodes to ZERO pages, and the outer explode's null page row tags
    // success/null (no branch of the status chain fires on null text).
    Some(
      """WITH meta AS (
        |  SELECT doc_id, text, regexp_extract_all(text, '\S+') AS ws,
        |    len(regexp_extract_all(text, '\S+')) AS w,
        |    CAST(ceil(len(regexp_extract_all(text, '\S+')) / 40.0) AS BIGINT) AS p
        |  FROM documents
        |), pages AS (
        |  SELECT m.doc_id, i.g AS page_no,
        |    len(regexp_extract_all(
        |      array_to_string(m.ws[i.g*40+1 : least((i.g+1)*40, m.w)], ' '),
        |      '[^\]\[\s,<>]+')) AS wc
        |  FROM meta m, LATERAL unnest(generate_series(0, least(m.p, 8) - 1)) AS i(g)
        |  WHERE m.text IS NOT NULL AND m.text <> '' AND m.w > 0
        |), tagged AS (
        |  SELECT 'failed_to_extract' AS status,
        |         'cannot open document: null payload' AS error_message
        |  FROM meta WHERE text IS NULL
        |  UNION ALL
        |  SELECT 'failed_to_extract', 'cannot open document: empty payload'
        |  FROM meta WHERE text = ''
        |  UNION ALL
        |  SELECT 'success', NULL FROM meta
        |  WHERE text IS NOT NULL AND text <> '' AND w = 0
        |  UNION ALL
        |  SELECT CASE WHEN wc < 5 THEN 'failed_to_extract' ELSE 'success' END,
        |         CASE WHEN wc < 5 THEN 'too few words' ELSE NULL END
        |  FROM pages
        |)
        |SELECT status, error_message, COUNT(*) AS count
        |FROM tagged GROUP BY 1, 2""".stripMargin)),
  )
}

package graft
package catalog

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{Extraction, TextAnalysis}
import graft.operators.{CumSum, Dedup, DocPipeline}

import Parity._

/** Text-analysis queries: tokens and vocabularies, n-gram and collocation
  * statistics, readability and lexical diversity, normalization and
  * tokenizer audits. */
object TextQueries {

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q46_wordcount_topk", (s, dir) => {
      // the canonical explode-aggregate: split -> explode -> count -> top-k
      Tables.documents(s, dir)
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) > 0)
        .groupBy(col("word")).agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("word"))
        .limit(20)
    }, Some(
      """WITH w AS (
        |  SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |SELECT word, COUNT(*) AS n FROM w WHERE length(word) > 0
        |GROUP BY word ORDER BY n DESC, word LIMIT 20""".stripMargin)),

    QuerySpec("q59_edit_distance", (s, dir) => {
      // near-dup verification by edit distance: block on a normalized
      // 12-char prefix (equi-join — never all-pairs), then Levenshtein
      // over an 80-char window on the surviving candidates only. The
      // blocking scales like every other dedup operator here (shuffle on
      // the block key); the O(len²) distance runs on candidates, not n².
      val d = Tables.documents(s, dir).select(col("doc_id"), lower(col("text")).as("t"))
      val a = d.select(col("doc_id").as("doc_a"),
        substring(col("t"), 1, 80).as("ta"), substring(col("t"), 1, 12).as("blk"))
      val b = d.select(col("doc_id").as("doc_b"),
        substring(col("t"), 1, 80).as("tb"), substring(col("t"), 1, 12).as("blk"))
      a.join(b, Seq("blk")).filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          levenshtein(col("ta"), col("tb")).cast("long").as("dist"))
        .filter(col("dist") <= 20)
    }, Some(
      """WITH d AS (SELECT doc_id, lower(text) AS t FROM documents)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(levenshtein(substr(a.t, 1, 80), substr(b.t, 1, 80)) AS BIGINT) AS dist
        |FROM d a JOIN d b ON substr(a.t, 1, 12) = substr(b.t, 1, 12) AND a.doc_id < b.doc_id
        |WHERE levenshtein(substr(a.t, 1, 80), substr(b.t, 1, 80)) <= 20""".stripMargin)),

    QuerySpec("q61_chunking", (s, dir) => {
      // context-window chunking: overlapping 200-char windows at stride
      // 150 — one output row per chunk, pure codegen (sequence +
      // posexplode + substr), no UDF. The training-data op that turns a
      // document corpus into model-sized pieces.
      Tables.documents(s, dir)
        .select(col("doc_id"), col("text"),
          posexplode(sequence(lit(0), length(col("text")) - 1, lit(150)))
            .as(Seq("chunk_no", "start")))
        .select(col("doc_id"), col("chunk_no").cast("long").as("chunk_no"),
          expr("substring(text, start + 1, 200)").as("chunk"))
    }, Some(
      """SELECT doc_id,
        |  CAST(s.i // 150 AS BIGINT) AS chunk_no,
        |  substr(text, CAST(s.i AS INT) + 1, 200) AS chunk
        |FROM documents, LATERAL unnest(generate_series(0, length(text) - 1, 150)) AS s(i)""".stripMargin)),

    QuerySpec("q63_repetition", (s, dir) => {
      // Gopher-style repetition signal: fraction of all word-bigrams
      // taken by the single most frequent bigram (boilerplate screams
      // here). Bigrams via posexplode + lead over (doc, pos) — fully
      // codegen'd; an interpreted HOF lambda would be ~10× slower.
      val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val bigrams = Tables.documents(s, dir)
        .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
        .select(col("doc_id"),
          concat_ws(" ", col("word"), lead(col("word"), 1).over(w)).as("bigram"),
          lead(col("word"), 1).over(w).isNotNull.as("ok"))
        .filter(col("ok"))
      bigrams.groupBy(col("doc_id"), col("bigram")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_bigrams"),
          (max(col("c")).cast("double") / sum(col("c"))).as("top_bigram_ratio"))
    }, Some(
      """WITH b AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(string_split(text, ' '))),
        |      i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1])) AS bigram
        |  FROM documents),
        |c AS (SELECT doc_id, bigram, COUNT(*) AS c FROM b GROUP BY doc_id, bigram)
        |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
        |  CAST(MAX(c) AS DOUBLE) / SUM(c) AS top_bigram_ratio
        |FROM c GROUP BY doc_id""".stripMargin)),

    QuerySpec("q64_tfidf", (s, dir) => {
      // TF-IDF top-5 terms per document — the relevance/quality scorer a
      // curation pipeline ranks corpora with. Three aggregations + one
      // broadcast of the (word → df) side; top-5 via rank ≤ K
      // (WindowGroupLimit again). N rides a broadcast scalar, never a
      // driver collect.
      val docs = Tables.documents(s, dir)
      val tokens = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) > 0)
      val tf = tokens.groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf"))
      val df_ = tokens.select(col("doc_id"), col("word")).distinct()
        .groupBy(col("word")).agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(desc("score"), col("word"))
      // round to 9 decimals: JVM Math.log and DuckDB's libm ln disagree
      // in the last ulp; rank over the ROUNDED score so ties break alike
      tf.join(df_, Seq("word"))
        .crossJoin(broadcast(n))
        .withColumn("score",
          pround(col("tf").cast("double") * log(col("n_docs").cast("double") / col("df")), 9))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("doc_id"), col("word"), col("score"), col("rk").cast("long").as("rk"))
    }, Some(
      """WITH tokens AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        |tok AS (SELECT doc_id, word FROM tokens WHERE length(word) > 0),
        |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM tok GROUP BY doc_id, word),
        |df AS (SELECT word, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, word FROM tok) GROUP BY word),
        |scored AS (
        |  SELECT tf.doc_id, tf.word,
        |    round(CAST(tf.tf AS DOUBLE) * ln(CAST((SELECT COUNT(*) FROM documents) AS DOUBLE) / df.df), 9) AS score
        |  FROM tf JOIN df USING (word))
        |SELECT doc_id, word, score, CAST(rk AS BIGINT) AS rk FROM (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, word) AS rk FROM scored)
        |WHERE rk <= 5""".stripMargin)),

    QuerySpec("q68_token_budget", (s, dir) => {
      // budget selection: best documents (by length, stable order) until
      // a 20k-token budget is spent. The running total is the two-pass
      // CumSum — no partition-less Window anywhere (PlanSpec-gated).
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("n_chars"),
          size(split(col("text"), " ")).cast("long").as("tok"))
      CumSum.budgetTake(d, Seq(col("n_chars").desc, col("doc_id")),
          col("tok"), budget = 20000L, cumCol = "cum_tokens")
        .select(col("doc_id"), col("n_chars"), col("tok"), col("cum_tokens"))
    }, Some(
      """WITH d AS (SELECT doc_id, n_chars, len(string_split(text, ' ')) AS tok FROM documents)
        |SELECT doc_id, n_chars, CAST(tok AS BIGINT) AS tok,
        |  CAST(SUM(tok) OVER (ORDER BY n_chars DESC, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        |FROM d QUALIFY cum_tokens <= 20000""".stripMargin)),

    QuerySpec("q54_text_stats", (s, dir) => {
      // lexical-diversity stats: distinct-word ratio per doc
      val ws = split(col("text"), " ")
      Tables.documents(s, dir).select(col("doc_id"),
        size(ws).cast("long").as("n_words"),
        size(array_distinct(ws)).cast("long").as("n_distinct"),
        (size(array_distinct(ws)).cast("double") / size(ws)).as("ttr"))
    }, Some(
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS n_words,
        |  len(list_distinct(string_split(text, ' '))) AS n_distinct,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |    / len(string_split(text, ' ')) AS ttr
        |FROM documents""".stripMargin)),

    QuerySpec("q74_pii_redact", (s, dir) => {
      // PII scrub: deterministic planted email/IP/phone per doc, redacted
      // with typed placeholders; patterns restricted to Java∩RE2 syntax so
      // the oracle replays them byte-identically.
      val planted = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com from 10.0."), (col("doc_id") % 256).cast("string"),
        lit(".7 call 555-"), format_string("%04d", col("doc_id") % 10000))
      Tables.documents(s, dir)
        .withColumn("full", planted)
        .select(col("doc_id"),
          TextAnalysis.redactPii(col("full")).as("redacted"),
          TextAnalysis.piiCount(col("full"), TextAnalysis.emailPattern).as("n_emails"),
          TextAnalysis.piiCount(col("full"), TextAnalysis.ipv4Pattern).as("n_ips"),
          TextAnalysis.piiCount(col("full"), TextAnalysis.phonePattern).as("n_phones"))
    }, Some(
      """WITH f AS (SELECT doc_id,
        |  text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com from 10.0.'
        |       || CAST(doc_id % 256 AS VARCHAR) || '.7 call 555-' || printf('%04d', doc_id % 10000) AS ft
        |FROM documents)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(ft,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\b\d{3}[- ]\d{4}\b', '<PHONE>', 'g') AS redacted,
        |  len(regexp_extract_all(ft, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        |  len(regexp_extract_all(ft, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ips,
        |  len(regexp_extract_all(ft, '\b\d{3}[- ]\d{4}\b')) AS n_phones
        |FROM f""".stripMargin)),

    QuerySpec("q81_vocab_encode", (s, dir) => {
      // tokenizer vocabulary build + corpus encoding: frequency-ranked
      // word ids WITHOUT a global window (dense-id discipline — range
      // repartition + per-partition offsets; a row_number over the whole
      // vocab would funnel every distinct word through one task), then
      // every token re-encoded by a broadcast join on the vocab.
      val tokens = Tables.documents(s, dir)
        .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
        .filter(length(col("word")) > 0)
      val counts = tokens.groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      val vocab = DocPipeline.withDenseIds(counts,
          struct((-col("cnt")).as("nc"), col("word")), "word_id")
        .select(col("word"), col("word_id"))
      tokens.join(broadcast(vocab), Seq("word"))
        .select(col("doc_id"), col("pos").cast("long").as("pos"), col("word_id"))
    }, Some(
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |tok AS (SELECT doc_id, CAST(g.i - 1 AS BIGINT) AS pos, ws[g.i] AS word
        |        FROM t, LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i) g
        |        WHERE length(ws[g.i]) > 0),
        |c AS (SELECT word, COUNT(*) AS cnt FROM tok GROUP BY word),
        |v AS (SELECT word, row_number() OVER (ORDER BY cnt DESC, word) - 1 AS word_id FROM c)
        |SELECT tok.doc_id, tok.pos, v.word_id FROM tok JOIN v USING (word)""".stripMargin)),

    QuerySpec("q86_pmi", (s, dir) => {
      // collocation mining: pointwise mutual information over word
      // bigrams — ln(c_ab·N / (c_a·c_b)) with all counts as exact
      // integers (products stay in BIGINT), ln rounded to 9 (q64
      // discipline), min-support filter, top-50. The association scorer
      // behind phrase detection in corpus pipelines.
      val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val bi = Tables.documents(s, dir)
        .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
        .filter(length(col("word")) > 0)
        .select(col("doc_id"), col("word"), lead(col("word"), 1).over(w).as("next"))
        .filter(col("next").isNotNull)
      // ONE corpus pass: c_a, c_b and N are pure roll-ups of the bigram
      // counts (c_a = Σ c_ab over next, etc.) — deriving them from cAB
      // instead of re-aggregating `bi` saves three full tokenize+window
      // passes; cAB is cached because four branches read it
      val cAB = Dedup.cacheScoped(
        bi.groupBy(col("word"), col("next")).agg(count(lit(1)).as("c_ab")))
      val cA = cAB.groupBy(col("word")).agg(sum(col("c_ab")).as("c_a"))
      val cB = cAB.groupBy(col("next").as("nw")).agg(sum(col("c_ab")).as("c_b"))
      val n = cAB.agg(sum(col("c_ab")).as("n_bi"))
      cAB.join(cA, Seq("word"))
        .join(cB, cAB("next") === cB("nw")).drop("nw")
        .crossJoin(broadcast(n))
        .filter(col("c_ab") >= 5)
        .withColumn("pmi",
          pround(log((col("c_ab") * col("n_bi")).cast("double") / (col("c_a") * col("c_b"))), 9))
        .orderBy(desc("pmi"), col("word"), col("next"))
        .limit(50)
        .select(col("word"), col("next"), col("c_ab"), col("pmi"))
    }, Some(
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |tok AS (SELECT doc_id, CAST(g.i - 1 AS BIGINT) AS pos, ws[g.i] AS word
        |        FROM t, LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i) g
        |        WHERE length(ws[g.i]) > 0),
        |bi AS (SELECT doc_id, word,
        |         lead(word, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS next
        |       FROM tok QUALIFY next IS NOT NULL),
        |ab AS (SELECT word, next, COUNT(*) AS c_ab FROM bi GROUP BY word, next),
        |a AS (SELECT word, COUNT(*) AS c_a FROM bi GROUP BY word),
        |b AS (SELECT next AS nw, COUNT(*) AS c_b FROM bi GROUP BY next),
        |n AS (SELECT COUNT(*) AS n_bi FROM bi)
        |SELECT ab.word, ab.next, ab.c_ab,
        |  round(ln(CAST(ab.c_ab * n.n_bi AS DOUBLE) / (a.c_a * b.c_b)), 9) AS pmi
        |FROM ab JOIN a USING (word) JOIN b ON ab.next = b.nw, n
        |WHERE ab.c_ab >= 5
        |ORDER BY pmi DESC, ab.word, ab.next LIMIT 50""".stripMargin)),

    QuerySpec("q91_entropy", (s, dir) => {
      // lexical entropy per document: -Σ p·ln(p) over the word
      // distribution. Each term is rounded to 9 BEFORE the sum (a double
      // sum is order-dependent; rounded terms through an exact decimal
      // sum are engine-independent — the q64 discipline applied to a
      // reduction, not just a score).
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) > 0)
      val wc = toks.groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("c"))
      val tot = wc.groupBy(col("doc_id")).agg(sum(col("c")).as("n"))
      val p = col("c").cast("double") / col("n")
      wc.join(tot, Seq("doc_id"))
        .withColumn("term", pround(p * log(p), 9))
        .groupBy(col("doc_id"))
        .agg((-sum(col("term").cast(DecimalType(27, 12)))).cast("double").as("entropy"),
          count(lit(1)).as("n_distinct_words"))
    }, Some(
      """WITH w AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        |tok AS (SELECT doc_id, word FROM w WHERE length(word) > 0),
        |wc AS (SELECT doc_id, word, COUNT(*) AS c FROM tok GROUP BY doc_id, word),
        |tot AS (SELECT doc_id, SUM(c) AS n FROM wc GROUP BY doc_id),
        |terms AS (SELECT wc.doc_id,
        |            round((CAST(c AS DOUBLE) / n) * ln(CAST(c AS DOUBLE) / n), 9) AS term
        |          FROM wc JOIN tot ON wc.doc_id = tot.doc_id)
        |SELECT doc_id,
        |  CAST(-SUM(CAST(term AS DECIMAL(27,12))) AS DOUBLE) AS entropy,
        |  COUNT(*) AS n_distinct_words
        |FROM terms GROUP BY doc_id""".stripMargin)),

    QuerySpec("q107_boilerplate_lines", (s, dir) => {
      // cross-document boilerplate removal: 5-word lines (q72's
      // segmentation) occurring in ≥ 3 DISTINCT docs are dropped from
      // EVERY doc (q72 keeps a first occurrence; this keeps none), then
      // docs reassemble in line order. The boilerplate set is tiny →
      // broadcast anti-join; the corpus filters map-side.
      val ws = split(col("text"), " ")
      val np = ceil(size(ws) / lit(5.0)).cast("int")
      val lines = Tables.documents(s, dir)
        .select(col("doc_id"), ws.as("ws"), np.as("np"))
        .select(col("doc_id"), col("ws"),
          explode(sequence(lit(0), col("np") - 1)).as("line_no"))
        .select(col("doc_id").as("key"), col("line_no").cast("long").as("line_no"),
          array_join(slice(col("ws"), col("line_no") * 5 + 1, lit(5)), " ").as("line"))
      Dedup.reassembleLines(Dedup.dropCommonLines(lines, minDocs = 3), " ")
        .select(col("key").as("doc_id"), col("text"), col("n_lines_kept"))
    }, Some(
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |p AS (SELECT doc_id, ws, CAST(ceil(len(ws)/5.0) AS INTEGER) AS np FROM t),
        |l AS (SELECT p.doc_id, CAST(g.i AS BIGINT) AS line_no,
        |        array_to_string(ws[g.i*5+1 : least((g.i+1)*5, len(ws))], ' ') AS line
        |      FROM p, LATERAL (SELECT unnest(generate_series(0, np-1)) AS i) g),
        |common AS (SELECT line FROM l GROUP BY line HAVING COUNT(DISTINCT doc_id) >= 3),
        |k AS (SELECT doc_id, line_no, line FROM l
        |      WHERE line NOT IN (SELECT line FROM common))
        |SELECT doc_id, string_agg(line, ' ' ORDER BY line_no) AS text,
        |       COUNT(*) AS n_lines_kept
        |FROM k GROUP BY doc_id""".stripMargin)),

    QuerySpec("q118_dup_ngram_fraction", (s, dir) => {
      // Gopher's in-document repetition metric: fraction of 3-gram
      // positions whose shingle occurs more than once in the SAME doc
      // (q63's top-bigram ratio catches one dominant phrase; this
      // catches diffuse copy-paste). Shingling is the codegen kernel
      // (non-distinct -> every position counts); two map-combinable
      // aggs on (doc, shingle), fraction gated on the rounded value.
      val sh = Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(graft.functions.Shingles.shingles(col("text"), 3)).as("g"))
      val perShingle = sh.groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      perShingle.groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_pos"),
          sum(when(col("c") >= 2, col("c")).otherwise(lit(0L))).as("n_dup_pos"))
        .select(col("doc_id"), col("n_pos"), col("n_dup_pos"),
          pround(col("n_dup_pos").cast("double") / col("n_pos"), 9).as("dup_frac"))
    }, Some(
      """WITH w AS (SELECT doc_id,
        |        list_filter(string_split_regex(
        |          regexp_replace(lower(text), '[^\p{L}\p{N}\s]', '', 'g'), '\s+'),
        |          x -> len(x) > 0) AS words
        |      FROM documents),
        |sh AS (SELECT doc_id,
        |         [array_to_string(words[i:i+2], ' ')
        |          FOR i IN generate_series(1, greatest(len(words) - 2, 1))] AS sh
        |       FROM w WHERE len(words) > 0),
        |pos AS (SELECT doc_id, unnest(sh) AS g FROM sh),
        |pc AS (SELECT doc_id, g, COUNT(*) AS c FROM pos GROUP BY doc_id, g)
        |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_pos,
        |  CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS n_dup_pos,
        |  round(CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS DOUBLE) / SUM(c), 9) AS dup_frac
        |FROM pc GROUP BY doc_id""".stripMargin)),

    QuerySpec("q146_skipgram_pmi", (s, dir) => {
      // word2vec-style windowed co-occurrence PMI (window 3, directed):
      // q86's adjacent-bigram statistic widened via THREE lead columns
      // unioned — still no self-join, one tokenize pass. The
      // co-occurrence matrix embeddings factorize.
      val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val tok = Tables.documents(s, dir)
        .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
        .filter(length(col("word")) > 0)
      val led = tok.select(col("doc_id"), col("word"),
        lead(col("word"), 1).over(w).as("n1"),
        lead(col("word"), 2).over(w).as("n2"),
        lead(col("word"), 3).over(w).as("n3"))
      val pairs = (1 to 3).map(i =>
          led.filter(col(s"n$i").isNotNull)
            .select(col("word"), col(s"n$i").as("ctx")))
        .reduce(_ unionAll _)
      val cAB = Dedup.cacheScoped(
        pairs.groupBy(col("word"), col("ctx")).agg(count(lit(1)).as("c_ab")))
      val cA = cAB.groupBy(col("word")).agg(sum(col("c_ab")).as("c_a"))
      val cB = cAB.groupBy(col("ctx").as("cw")).agg(sum(col("c_ab")).as("c_b"))
      val n = cAB.agg(sum(col("c_ab")).as("n_pairs"))
      cAB.join(cA, Seq("word"))
        .join(cB, cAB("ctx") === cB("cw")).drop("cw")
        .crossJoin(broadcast(n))
        .filter(col("c_ab") >= 8)
        .withColumn("pmi",
          pround(log((col("c_ab") * col("n_pairs")).cast("double") / (col("c_a") * col("c_b"))), 9))
        .orderBy(desc("pmi"), col("word"), col("ctx"))
        .limit(50)
        .select(col("word"), col("ctx"), col("c_ab"), col("pmi"))
    }, Some(
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |tok AS (SELECT doc_id, CAST(g.i - 1 AS BIGINT) AS pos, ws[g.i] AS word
        |        FROM t, LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i) g
        |        WHERE length(ws[g.i]) > 0),
        |led AS (SELECT doc_id, word,
        |          lead(word, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS n1,
        |          lead(word, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS n2,
        |          lead(word, 3) OVER (PARTITION BY doc_id ORDER BY pos) AS n3
        |        FROM tok),
        |pairs AS (SELECT word, n1 AS ctx FROM led WHERE n1 IS NOT NULL
        |          UNION ALL SELECT word, n2 FROM led WHERE n2 IS NOT NULL
        |          UNION ALL SELECT word, n3 FROM led WHERE n3 IS NOT NULL),
        |ab AS (SELECT word, ctx, COUNT(*) AS c_ab FROM pairs GROUP BY word, ctx),
        |a AS (SELECT word, SUM(c_ab) AS c_a FROM ab GROUP BY word),
        |b AS (SELECT ctx AS cw, SUM(c_ab) AS c_b FROM ab GROUP BY ctx),
        |n AS (SELECT SUM(c_ab) AS n_pairs FROM ab)
        |SELECT ab.word, ab.ctx, ab.c_ab,
        |  round(ln(CAST(ab.c_ab * n.n_pairs AS DOUBLE) / (a.c_a * b.c_b)), 9) AS pmi
        |FROM ab JOIN a USING (word) JOIN b ON ab.ctx = b.cw, n
        |WHERE ab.c_ab >= 8
        |ORDER BY pmi DESC, ab.word, ab.ctx
        |LIMIT 50""".stripMargin)),

    QuerySpec("q147_tfidf_pairs", (s, dir) => {
      // pairwise document similarity over SPARSE tf-idf vectors — the
      // classic IR shape: vectors live as (doc, term, weight) rows, the
      // dot product is a JOIN on the shared term (a pair with no common
      // term never materializes — the sparse analog of LSH blocking),
      // norms broadcast back, exact-decimal dot reduction. Top-20 pairs.
      //
      // TERMS ARE 3-WORD SHINGLES with a df ≤ N/20 prune, and both
      // choices are the 100 TB discipline, not a convenience: a
      // high-df term joins df² candidate pairs, so word terms on this
      // tiny-vocabulary corpus (31 words, every one in ~every doc)
      // explode quadratically — measured 160 s at sf0.1 vs 2.5 s with
      // shingle terms (vocab 27k, max df 25; SCALE.md "q147"). The
      // prune is the standard stop-term cut; near-ubiquitous terms
      // carry ~zero idf weight anyway.
      val maxDfFrac = 0.05
      // r20: a documentsFanned input was TRIED here (the q157/q314 fan-out
      // discipline) and measured WORSE (solo 2.4 → 4.0 s at 32c, paired
      // runs) — the extra exchange re-layouts the cacheScoped tf frame and
      // the downstream posting groupBy loses its reused partitioning.
      // Deliberately left on the single-task scan; the pair explode (the
      // real cost) is already fanned below.
      val tok = Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(graft.functions.Shingles.shingles(col("text"), 3)).as("w"))
      val tf = Dedup.cacheScoped(tok.groupBy(col("doc_id"), col("w"))
        .agg(count(lit(1)).as("tf")))
      val dfq = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
      val nDocs = Tables.documents(s, dir).agg(countDistinct(col("doc_id")).as("n_docs"))
      // the df prune is BOTH fractional and absolute: the fractional
      // cut drops near-ubiquitous (zero-idf) terms; the ABSOLUTE cap
      // is the 100 TB guard — with it, candidate pairs are bounded by
      // cap·nnz (LINEAR in corpus size), where a fractional cap alone
      // leaves Σdf² growing quadratically as every term's df scales
      // with the corpus (measured in the r11 ×10 blow-up run:
      // SCALE_BLOWUP.json / SCALE.md "q147"). 250 > every observed df
      // at the tested SFs, so results are unchanged below sf≈0.5.
      val maxDfAbs = 250
      val tfidf = Dedup.cacheScoped(tf.join(dfq, Seq("w")).crossJoin(broadcast(nDocs))
        .filter(col("df") <= least(col("n_docs") * maxDfFrac, lit(maxDfAbs)))
        .select(col("doc_id"), col("w"),
          pround(col("tf") * log(col("n_docs").cast("double") / col("df")), 9).as("wt")))
      val norms = tfidf.groupBy(col("doc_id"))
        .agg(sqrt(sum((col("wt") * col("wt")).cast(DecimalType(27, 12))).cast("double")).as("norm"))
      // r19 (guide §2.4): pair generation WITHOUT the w self-join — per
      // term, collect the ≤ maxDfAbs (doc, wt) postings (bounded by the
      // df cap, so the in-row array can never exceed 250 entries at ANY
      // corpus size) and explode the C(df,2) ordered pairs in-row (the
      // q157 idiom). tfidf is already w-partitioned from the df join, so
      // the posting-list groupBy adds NO exchange where the old a⋈b
      // join re-shuffled both branches; per-term products and the
      // DECIMAL(27,12) casts are unchanged term-for-term, so the exact
      // dot sums are bit-identical.
      // The posting-array frame is REPARTITIONED before the pair
      // explode (the documentsFanned CPU-fan-out discipline): the
      // C(df,2) pair expansion is the query's heavy per-row work, and
      // without the explicit fan-out it inherits the cached frame's
      // AQE-coalesced (tiny) layout and serializes on a couple of
      // cores — measured 7.0 s solo vs 2.7 s fanned at sf0.1. The
      // exchange carries only the ≤ maxDfAbs-entry arrays (bytes ≈ the
      // old join's ONE probe side), and the explode then runs at full
      // width.
      val dots = tfidf
        .groupBy(col("w"))
        .agg(sort_array(collect_list(struct(col("doc_id"), col("wt")))).as("ps"))
        .repartition(s.sparkContext.defaultParallelism)
        .select(explode(flatten(transform(col("ps"), (a, i) =>
          transform(slice(col("ps"), i + lit(2), size(col("ps"))), b =>
            struct(a.getField("doc_id").as("doc_a"),
              b.getField("doc_id").as("doc_b"),
              (a.getField("wt") * b.getField("wt")).as("prod")))))).as("p"))
        .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
        .agg(sum(col("p.prod").cast(DecimalType(27, 12))).cast("double").as("dot"))
      dots.join(broadcast(norms.select(col("doc_id").as("doc_a"), col("norm").as("norm_a"))), Seq("doc_a"))
        .join(broadcast(norms.select(col("doc_id").as("doc_b"), col("norm").as("norm_b"))), Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          pround(col("dot") / (col("norm_a") * col("norm_b")), 9).as("cosine"))
        .orderBy(desc("cosine"), col("doc_a"), col("doc_b"))
        .limit(20)
    }, Some(
      """WITH wd AS (SELECT doc_id,
        |        list_filter(string_split_regex(
        |          regexp_replace(lower(text), '[^\p{L}\p{N}\s]', '', 'g'), '\s+'),
        |          x -> len(x) > 0) AS words
        |      FROM documents),
        |tok AS (SELECT doc_id, unnest(
        |          [array_to_string(words[i:i+2], ' ')
        |           FOR i IN generate_series(1, greatest(len(words) - 2, 1))]) AS w
        |        FROM wd WHERE len(words) > 0),
        |tf0 AS (SELECT doc_id, w, COUNT(*) AS tf FROM tok GROUP BY doc_id, w),
        |dfp AS (SELECT w, COUNT(*) AS dfc FROM tf0 GROUP BY w),
        |ndp AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
        |tf AS (SELECT doc_id, tf0.w, tf FROM tf0 JOIN dfp ON tf0.w = dfp.w, ndp
        |       WHERE dfc <= least(n_docs * 0.05, 250)),
        |df AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
        |nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
        |ti AS (SELECT doc_id, tf.w,
        |         round(tf * ln(CAST(n_docs AS DOUBLE) / df.df), 9) AS wt
        |       FROM tf JOIN df ON tf.w = df.w, nd),
        |nm AS (SELECT doc_id,
        |         sqrt(CAST(SUM(CAST(wt * wt AS DECIMAL(27,12))) AS DOUBLE)) AS norm
        |       FROM ti GROUP BY doc_id),
        |dots AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |           CAST(SUM(CAST(a.wt * b.wt AS DECIMAL(27,12))) AS DOUBLE) AS dot
        |         FROM ti a JOIN ti b ON a.w = b.w AND a.doc_id < b.doc_id
        |         GROUP BY a.doc_id, b.doc_id)
        |SELECT doc_a, doc_b,
        |  round(dot / (na.norm * nb.norm), 9) AS cosine
        |FROM dots JOIN nm na ON doc_a = na.doc_id JOIN nm nb ON doc_b = nb.doc_id
        |ORDER BY cosine DESC, doc_a, doc_b
        |LIMIT 20""".stripMargin)),

    QuerySpec("q141_lexicon_rate", (s, dir) => {
      // lexicon-driven flagged-term rate (the C4 blocklist-filter shape
      // with a neutral placeholder lexicon): rate = flagged tokens /
      // total tokens, gate at 20%. The lexicon broadcasts (word lists
      // are tiny); the corpus tokenizes once map-side and shuffles only
      // per-doc counts.
      import s.implicits._
      val lexicon = Seq("the", "of", "and", "data").toDF("w")
      val tok = Tables.documents(s, dir)
        .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("w"))
        .filter(length(col("w")) > 0)
      val totals = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("n_tokens"))
      val flagged = tok.join(broadcast(lexicon), Seq("w"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_flagged"))
      totals.join(flagged, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("n_flagged"), lit(0L)).as("n_flagged"),
          pround(coalesce(col("n_flagged"), lit(0L)).cast("double") / col("n_tokens"), 9)
            .as("flag_rate"))
        .withColumn("keep", col("flag_rate") < 0.2)
    }, Some(
      """WITH tok AS (SELECT doc_id, w FROM (
        |        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents)
        |      WHERE length(w) > 0),
        |tot AS (SELECT doc_id, COUNT(*) AS n_tokens FROM tok GROUP BY doc_id),
        |fl AS (SELECT doc_id, COUNT(*) AS n_flagged FROM tok
        |       WHERE w IN ('the', 'of', 'and', 'data') GROUP BY doc_id)
        |SELECT tot.doc_id, n_tokens,
        |  CAST(coalesce(n_flagged, 0) AS BIGINT) AS n_flagged,
        |  round(CAST(coalesce(n_flagged, 0) AS DOUBLE) / n_tokens, 9) AS flag_rate,
        |  round(CAST(coalesce(n_flagged, 0) AS DOUBLE) / n_tokens, 9) < 0.2 AS keep
        |FROM tot LEFT JOIN fl ON tot.doc_id = fl.doc_id""".stripMargin)),

    QuerySpec("q139_bigram_ppl", (s, dir) => {
      // in-corpus bigram-LM scoring (the CCNet/KenLM perplexity filter
      // with the LM trained on the corpus itself): p(b|a) add-half
      // smoothed from exact bigram/unigram counts, per-doc mean log-prob
      // with the rounded-term + exact-decimal-mean discipline (q91).
      // Docs scoring far below the corpus mean read as gibberish; far
      // above as boilerplate. One tokenize pass builds both the model
      // and the per-doc stream (cached); scoring is a join on the
      // bigram key.
      val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val bi = Dedup.cacheScoped(Tables.documents(s, dir)
        .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
        .filter(length(col("word")) > 0)
        .select(col("doc_id"), col("word"), lead(col("word"), 1).over(w).as("next"))
        .filter(col("next").isNotNull))
      val cAB = bi.groupBy(col("word"), col("next")).agg(count(lit(1)).as("c_ab"))
      val cA = cAB.groupBy(col("word")).agg(sum(col("c_ab")).as("c_a"))
      val v = cAB.agg(countDistinct(col("next")).as("vocab"))
      val model = cAB.join(cA, Seq("word")).crossJoin(broadcast(v))
        .select(col("word"), col("next"),
          pround(log((col("c_ab") + 0.5) /
            (col("c_a").cast("double") + lit(0.5) * col("vocab"))), 9).as("lp"))
      bi.join(model, Seq("word", "next"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          // pround(6), not the house pround(9): the decimal sum is wide
          // (38,12) and engines' decimal→double conversions can differ
          // by 1 ulp, which a 9-digit boundary can expose (observed on
          // ONE row at sf0.1); at 6 digits the boundary window is 1000×
          // narrower than the conversion ulp everywhere in range
          pround(sum(col("lp").cast(DecimalType(27, 12))).cast("double") / count(lit(1)), 6)
            .as("mean_logprob"))
    }, Some(
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |tok AS (SELECT doc_id, CAST(g.i - 1 AS BIGINT) AS pos, ws[g.i] AS word
        |        FROM t, LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i) g
        |        WHERE length(ws[g.i]) > 0),
        |bi AS (SELECT doc_id, word,
        |         lead(word, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS next
        |       FROM tok QUALIFY next IS NOT NULL),
        |ab AS (SELECT word, next, COUNT(*) AS c_ab FROM bi GROUP BY word, next),
        |a AS (SELECT word, SUM(c_ab) AS c_a FROM ab GROUP BY word),
        |v AS (SELECT COUNT(DISTINCT next) AS vocab FROM ab),
        |m AS (SELECT ab.word, ab.next,
        |        round(ln((ab.c_ab + 0.5) / (CAST(a.c_a AS DOUBLE) + 0.5 * v.vocab)), 9) AS lp
        |      FROM ab JOIN a USING (word), v)
        |SELECT bi.doc_id, COUNT(*) AS n_bigrams,
        |  round(CAST(SUM(CAST(lp AS DECIMAL(27,12))) AS DOUBLE) / COUNT(*), 6) AS mean_logprob
        |FROM bi JOIN m ON bi.word = m.word AND bi.next = m.next
        |GROUP BY bi.doc_id""".stripMargin)),

    QuerySpec("q140_readability", (s, dir) => {
      // Flesch reading ease from regex-countable proxies: sentences =
      // [.!?]+ runs (min 1), syllables = vowel groups per word (the
      // standard approximation). Pure codegen regexp_count arithmetic;
      // score rounded to 9. The readability gate of classic text
      // curation stacks.
      val words = TextAnalysis.wsTokenCount(col("text")).cast("double")
      val sentences = greatest(size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))),
        lit(1)).cast("double")
      val syllables = greatest(size(regexp_extract_all(lower(col("text")),
        lit("[aeiouy]+"), lit(0))), lit(1)).cast("double")
      Tables.documents(s, dir)
        .filter(TextAnalysis.wsTokenCount(col("text")) > 0)
        .select(col("doc_id"),
          words.cast("long").as("n_words"),
          sentences.cast("long").as("n_sentences"),
          syllables.cast("long").as("n_syllables"),
          pround(lit(206.835) - lit(1.015) * (words / sentences)
            - lit(84.6) * (syllables / words), 9).as("flesch"))
    }, Some(
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_words,
        |  CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT) AS n_sentences,
        |  CAST(greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1) AS BIGINT) AS n_syllables,
        |  round(206.835
        |    - 1.015 * (CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE)
        |               / greatest(len(regexp_extract_all(text, '[.!?]+')), 1))
        |    - 84.6 * (CAST(greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1) AS DOUBLE)
        |              / len(regexp_extract_all(text, '\S+'))), 9) AS flesch
        |FROM documents
        |WHERE len(regexp_extract_all(text, '\S+')) > 0""".stripMargin)),

    QuerySpec("q133_kwic", (s, dir) => {
      // keyword-in-context: every occurrence of a term with ±3 words of
      // context — the corpus-inspection query behind "show me how this
      // token is used". Tokenize once (posexplode), match, slice the
      // window from the token array; all codegen, no UDF.
      val term = "data"
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
      d.select(col("doc_id"), col("ws"), posexplode(col("ws")).as(Seq("pos", "w")))
        .filter(col("w") === term)
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          array_join(slice(col("ws"), greatest(col("pos") - 2, lit(1)),
            least(col("pos") + 4, size(col("ws"))) - greatest(col("pos") - 2, lit(1)) + 1),
            " ").as("context"))
    }, Some(
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |x AS (SELECT doc_id, ws, CAST(g.i - 1 AS BIGINT) AS pos
        |      FROM t, LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i) g
        |      WHERE ws[g.i] = 'data')
        |SELECT doc_id, pos,
        |  array_to_string(ws[greatest(pos - 2, 1) : least(pos + 4, len(ws))], ' ') AS context
        |FROM x""".stripMargin)),

    QuerySpec("q134_compression_ratio", (s, dir) => {
      // compression-ratio quality signal (the low-information-content
      // proxy: highly compressible ≈ repetitive/boilerplate): deflate
      // level 6, ratio = compressed/raw. Deterministic for a given
      // input (zlib is), but NOT SQL-expressible → rows-only; the
      // CurationSpec planted test pins the semantics (repeated text
      // compresses far better than word-soup). One of the two justified
      // UDFs (no codegen zlib) — still a map-side single pass.
      Tables.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.compressionRatio(col("text")).as("ratio"),
          length(col("text")).cast("long").as("n_chars_raw"))
        .filter(col("n_chars_raw") > 0)
    }, None), // accuracy: CurationSpec "compressionRatio: boilerplate compresses far below diverse text; empty is 1.0"

    QuerySpec("q135_ttr", (s, dir) => {
      // per-source type-token ratio (lexical diversity): distinct words
      // / total words. countDistinct is the exact anchor; at 100 TB the
      // q105 swap (approx_count_distinct) applies unchanged.
      Tables.documents(s, dir)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy(col("source"))
        .agg(countDistinct(col("w")).as("n_types"), count(lit(1)).as("n_tokens"))
        .withColumn("ttr", pround(col("n_types").cast("double") / col("n_tokens"), 9))
    }, Some(
      """WITH w AS (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
        |f AS (SELECT source, w FROM w WHERE length(w) > 0)
        |SELECT source, COUNT(DISTINCT w) AS n_types, COUNT(*) AS n_tokens,
        |  round(CAST(COUNT(DISTINCT w) AS DOUBLE) / COUNT(*), 9) AS ttr
        |FROM f GROUP BY source""".stripMargin)),

    QuerySpec("q163_logodds_terms", (s, dir) => {
      // distinctive vocabulary between two corpus slices (Monroe et
      // al. "Fightin' Words": log-odds with a +0.5 prior, z-scored by
      // the delta's variance) — the corpus-comparison surface behind
      // "what characterizes slice A". One tokenize pass, one
      // groupBy(word) with conditional partial-agg counts (no
      // per-group subqueries), scalar totals broadcast back.
      val words = Tables.documents(s, dir)
        .select(when(substring(col("source"), 4, 10).cast("int") < 10,
          lit("a")).otherwise(lit("b")).as("grp"),
          explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) > 0)
      val c = words.groupBy(col("word")).agg(
        sum(when(col("grp") === "a", 1L).otherwise(0L)).as("a"),
        sum(when(col("grp") === "b", 1L).otherwise(0L)).as("b"))
      val t = c.agg(sum(col("a")).as("ta"), sum(col("b")).as("tb"))
      c.crossJoin(broadcast(t))
        .select(col("word"), col("a").as("n_a"), col("b").as("n_b"),
          pround((log((col("a") + 0.5) / (col("ta") - col("a") + 0.5))
              - log((col("b") + 0.5) / (col("tb") - col("b") + 0.5)))
            / sqrt(lit(1.0) / (col("a") + 0.5) + lit(1.0) / (col("b") + 0.5)),
            9).as("z"))
        .orderBy(desc("z"), col("word")).limit(20)
    }, Some(
      """WITH w AS (
        |  SELECT CASE WHEN CAST(substr(source, 4) AS INT) < 10 THEN 'a' ELSE 'b' END AS grp,
        |         unnest(string_split(text, ' ')) AS word
        |  FROM documents),
        |w2 AS (SELECT grp, word FROM w WHERE length(word) > 0),
        |c AS (SELECT word, COUNT(*) FILTER (grp = 'a') AS a,
        |             COUNT(*) FILTER (grp = 'b') AS b FROM w2 GROUP BY word),
        |t AS (SELECT SUM(a) AS ta, SUM(b) AS tb FROM c)
        |SELECT word, CAST(a AS BIGINT) AS n_a, CAST(b AS BIGINT) AS n_b,
        |  round((ln((a + 0.5) / (ta - a + 0.5)) - ln((b + 0.5) / (tb - b + 0.5)))
        |    / sqrt(1.0 / (a + 0.5) + 1.0 / (b + 0.5)), 9) AS z
        |FROM c, t ORDER BY z DESC, word LIMIT 20""".stripMargin)),

    QuerySpec("q179_gopher_repetition", (s, dir) => {
      // Gopher repetition gates in their CHARACTER-mass form (Rae et
      // al. 2021 §A1.1 as reproduced in RedPajama/Dolma — q63/q118 are
      // the position-mass cousins): per-doc fraction of characters in
      // the most frequent word 2-gram and in duplicated word 3-grams
      // (count·len(gram)/len(text), the standard over-counting
      // convention, clipped at 1), plus the duplicate-word fraction
      // and the paper's combined pass/fail flag. ONE tokenize pass:
      // both gram families come from lead() columns over the same
      // per-doc window; counts stay exact integers until the final
      // division.
      val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val tok = Dedup.cacheScoped(Tables.documents(s, dir)
        .select(col("doc_id"), length(col("text")).as("nc"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
        .filter(length(col("w")) > 0)
        .select(col("doc_id"), col("nc"), col("w"),
          lead(col("w"), 1).over(w).as("l1"), lead(col("w"), 2).over(w).as("l2")))
      val top2 = tok.filter(col("l1").isNotNull)
        .select(col("doc_id"), col("nc"), concat_ws(" ", col("w"), col("l1")).as("g"))
        .groupBy(col("doc_id"), col("g"))
        .agg(max(col("nc")).as("nc"), count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(max(col("c") * length(col("g"))).as("tc"), max(col("nc")).as("nc"))
      val dup3 = tok.filter(col("l2").isNotNull)
        .select(col("doc_id"), concat_ws(" ", col("w"), col("l1"), col("l2")).as("g"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(when(col("c") >= 2, col("c") * length(col("g"))).otherwise(lit(0L))).as("dc"))
      val dw = tok.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("nw"), countDistinct(col("w")).as("ndw"))
      top2.join(dup3, Seq("doc_id")).join(dw, Seq("doc_id"))
        .select(col("doc_id"),
          pround(col("tc").cast("double") / col("nc"), 9).as("top2_frac"),
          pround(least(col("dc").cast("double") / col("nc"), lit(1.0)), 9).as("dup3_frac"),
          pround(lit(1.0) - col("ndw").cast("double") / col("nw"), 9).as("dup_word_frac"),
          (col("tc").cast("double") / col("nc") > 0.15
            || col("dc").cast("double") / col("nc") > 0.10).as("flagged"))
    }, Some(
      """WITH t AS (SELECT doc_id, length(text) AS nc, string_split(text, ' ') AS ws FROM documents),
        |tok AS (SELECT doc_id, nc, CAST(g.i AS BIGINT) AS pos, ws[g.i] AS w
        |        FROM t, LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i) g
        |        WHERE length(ws[g.i]) > 0),
        |l AS (SELECT doc_id, nc, w,
        |        lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS l1,
        |        lead(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS l2 FROM tok),
        |c2 AS (SELECT doc_id, MAX(nc) AS nc, w || ' ' || l1 AS g, COUNT(*) AS c
        |       FROM l WHERE l1 IS NOT NULL GROUP BY doc_id, g),
        |t2 AS (SELECT doc_id, MAX(c * length(g)) AS tc, MAX(nc) AS nc FROM c2 GROUP BY doc_id),
        |c3 AS (SELECT doc_id, w || ' ' || l1 || ' ' || l2 AS g, COUNT(*) AS c
        |       FROM l WHERE l2 IS NOT NULL GROUP BY doc_id, g),
        |t3 AS (SELECT doc_id, SUM(CASE WHEN c >= 2 THEN c * length(g) ELSE 0 END) AS dc FROM c3 GROUP BY doc_id),
        |dw AS (SELECT doc_id, COUNT(*) AS nw, COUNT(DISTINCT w) AS ndw FROM l GROUP BY doc_id)
        |SELECT t2.doc_id,
        |  round(CAST(tc AS DOUBLE) / t2.nc, 9) AS top2_frac,
        |  round(least(CAST(dc AS DOUBLE) / t2.nc, 1.0), 9) AS dup3_frac,
        |  round(1.0 - CAST(ndw AS DOUBLE) / nw, 9) AS dup_word_frac,
        |  (CAST(tc AS DOUBLE) / t2.nc > 0.15 OR CAST(dc AS DOUBLE) / t2.nc > 0.10) AS flagged
        |FROM t2 JOIN t3 USING (doc_id) JOIN dw USING (doc_id)""".stripMargin)),

    QuerySpec("q186_vocab_coverage", (s, dir) => {
      // tokenizer-budget planning: frequency-ranked vocabulary
      // coverage — the smallest vocab prefix covering 50/90/99% of
      // token mass, with the coverage attained there (q81 builds the
      // ranked vocab itself; this answers "how big must it be"). The corpus rolls
      // up to a VOCAB-sized frame before the only window (global order
      // over ~|V| rows — the q156 tiny-frame exception, never the
      // corpus); the threshold test stays exact-integer
      // (cum·100 ≥ pct·N, no double compare at the boundary).
      val wc = Tables.documents(s, dir)
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
      val tot = wc.agg(sum(col("c")).as("n_tok"))
      val ord = Window.orderBy(desc("c"), col("w"))
      val ranked = wc
        .withColumn("rank", row_number().over(ord))
        .withColumn("cum", sum(col("c")).over(
          ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .crossJoin(broadcast(tot))
      val taus = s.range(1).select(explode(array(lit(50L), lit(90L), lit(99L))).as("pct"))
      ranked.crossJoin(broadcast(taus))
        .filter(col("cum") * 100 >= col("pct") * col("n_tok"))
        .groupBy(col("pct"))
        .agg(min(struct(col("rank"), col("cum"))).as("s"), max(col("n_tok")).as("n_tok"))
        .select(col("pct"), col("s.rank").cast("long").as("vocab_size"),
          pround(col("s.cum").cast("double") / col("n_tok"), 9).as("coverage"))
        .orderBy(col("pct"))
    }, Some(
      """WITH w0 AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |wc AS (SELECT w, COUNT(*) AS c FROM w0 WHERE length(w) > 0 GROUP BY w),
        |tot AS (SELECT SUM(c) AS n_tok FROM wc),
        |r AS (SELECT w, c, row_number() OVER (ORDER BY c DESC, w) AS rank,
        |        SUM(c) OVER (ORDER BY c DESC, w ROWS UNBOUNDED PRECEDING) AS cum FROM wc),
        |x AS (SELECT pct, rank, cum, n_tok
        |      FROM r, tot, (SELECT unnest([50, 90, 99]) AS pct) taus
        |      WHERE cum * 100 >= pct * n_tok),
        |m AS (SELECT pct, MIN(rank) AS vocab_size FROM x GROUP BY pct)
        |SELECT CAST(m.pct AS BIGINT) AS pct, CAST(m.vocab_size AS BIGINT) AS vocab_size,
        |  round(CAST(x.cum AS DOUBLE) / x.n_tok, 9) AS coverage
        |FROM m JOIN x ON m.pct = x.pct AND x.rank = m.vocab_size ORDER BY pct""".stripMargin)),

    QuerySpec("q196_unicode_nfc", (s, dir) => {
      // Unicode NFC canonicalization — the step every multilingual
      // pipeline runs BEFORE hashing/dedup (decomposed e+U+0301 and
      // precomposed é must share a dedup bucket; q30's md5 over raw
      // text silently splits them). Native codegen expression over the
      // JDK normalizer, map-side only. The ASCII synthetic corpus
      // would make NFC a no-op, so the query PLANTS a decomposed
      // accent per doc and verifies composition: codepoint length
      // shrinks by exactly one and byte equality flips.
      val aug = concat(col("text"), lit("e\u0301"))
      Tables.documents(s, dir).filter(col("doc_id") < 100)
        .select(col("doc_id"),
          length(aug).cast("long").as("len_raw"),
          length(Extraction.nfc(aug)).cast("long").as("len_nfc"),
          (Extraction.nfc(aug) === aug).as("unchanged"))
    }, Some(
      """SELECT doc_id,
        |  CAST(length(text || 'e' || chr(769)) AS BIGINT) AS len_raw,
        |  CAST(length(nfc_normalize(text || 'e' || chr(769))) AS BIGINT) AS len_nfc,
        |  (nfc_normalize(text || 'e' || chr(769)) = (text || 'e' || chr(769))) AS unchanged
        |FROM documents WHERE doc_id < 100""".stripMargin)),

    QuerySpec("q200_zipf_fit", (s, dir) => {
      // Zipf power-law fit of the corpus vocabulary: OLS slope of
      // ln(freq) on ln(rank) over the TOP-1000 frequency ranks — the
      // conventional head fit (the tail departs from the power law,
      // and bounding the frame also bounds the libm-parity exposure
      // of the per-term ln). Rank via q81's dense-id discipline (no
      // global window over the vocab), head filter, then q103's
      // closed-form exact-decimal OLS — one tiny agg, one output row.
      // Per-term ln values floor-round to 9 BEFORE the decimal sum so
      // both engines reduce identical summands.
      val D = DecimalType(30, 12)
      def r9(c: Column): Column = floor(c * 1e9 + 0.5) / 1e9
      def esum(c: Column) = sum(c.cast(D)).cast("double")
      val counts = Tables.documents(s, dir)
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) > 0)
        .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      val ranked = DocPipeline.withDenseIds(counts,
          struct((-col("cnt")).as("nc"), col("word")), "rk")
        .filter(col("rk") < 1000)
        .select(r9(log(col("rk") + 1.0)).as("x"), r9(log(col("cnt"))).as("y"))
      val st = ranked.agg(count(lit(1)).as("n"),
        esum(col("x")).as("sx"), esum(col("y")).as("sy"),
        esum(col("x") * col("y")).as("sxy"), esum(col("x") * col("x")).as("sxx"))
      val nd = col("n").cast("double")
      val slope = (nd * col("sxy") - col("sx") * col("sy")) /
        (nd * col("sxx") - col("sx") * col("sx"))
      st.select(col("n").as("n_terms"), r9(slope).as("slope"),
        r9((col("sy") - slope * col("sx")) / nd).as("intercept"))
    }, Some(
      """WITH t AS (SELECT string_split(text, ' ') AS ws FROM documents),
        |tok AS (SELECT ws[g.i] AS word
        |        FROM t, LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i) g
        |        WHERE length(ws[g.i]) > 0),
        |c AS (SELECT word, COUNT(*) AS cnt FROM tok GROUP BY word),
        |r AS (SELECT row_number() OVER (ORDER BY cnt DESC, word) AS rn, cnt FROM c),
        |xy AS (SELECT FLOOR(LN(CAST(rn AS DOUBLE)) * 1e9 + 0.5) / 1e9 AS x,
        |              FLOOR(LN(CAST(cnt AS DOUBLE)) * 1e9 + 0.5) / 1e9 AS y
        |       FROM r WHERE rn <= 1000),
        |st AS (SELECT COUNT(*) AS n,
        |         CAST(SUM(CAST(x AS DECIMAL(30,12))) AS DOUBLE) AS sx,
        |         CAST(SUM(CAST(y AS DECIMAL(30,12))) AS DOUBLE) AS sy,
        |         CAST(SUM(CAST(x * y AS DECIMAL(30,12))) AS DOUBLE) AS sxy,
        |         CAST(SUM(CAST(x * x AS DECIMAL(30,12))) AS DOUBLE) AS sxx
        |       FROM xy)
        |SELECT n AS n_terms,
        |  FLOOR((n * sxy - sx * sy) / (n * sxx - sx * sx) * 1e9 + 0.5) / 1e9 AS slope,
        |  FLOOR((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n * 1e9 + 0.5) / 1e9 AS intercept
        |FROM st""".stripMargin)),

    QuerySpec("q201_url_canonical", (s, dir) => {
      // URL canonicalization dedup — the crawl-frontier staple the
      // reference's URL-list ingestion implies (downloader.py consumes
      // raw url lists): mixed-case scheme/host, default :443 port,
      // utm_* tracking params and fragments all denote ONE resource,
      // and a frontier that misses that refetches it. The synthetic
      // corpus has no URL column, so the query PLANTS the messy forms
      // deterministically (q196's planting discipline), canonicalizes
      // with a pure-codegen regex chain (Java∩RE2 syntax, q74
      // discipline; no capture-group replacements — DuckDB uses \\1
      // where Java uses $1), and groups: md5-free exact dedup on the
      // canonical string, q30's min-survivor shape.
      val u = concat(lit("HTTPS://WWW.Example.COM:443/p/"),
        (col("doc_id") % 100).cast("string"),
        lit("?utm_campaign=c"), col("doc_id").cast("string"),
        lit("&x="), (col("doc_id") % 3).cast("string"),
        lit("#s"), col("doc_id").cast("string"))
      val noFrag = regexp_replace(u, "#.*$", "")
      val prefix = regexp_replace(lower(regexp_extract(noFrag, "^[^/]*//[^/]*", 0)),
        ":443$", "")
      val rest = regexp_replace(
        regexp_replace(regexp_replace(noFrag, "^[^/]*//[^/]*", ""),
          "\\?utm_[^&]*&", "?"),
        "[?&]utm_[^&]*", "")
      Tables.documents(s, dir)
        .select(col("doc_id"), concat(prefix, rest).as("canon_url"))
        .groupBy(col("canon_url"))
        .agg(min(col("doc_id")).as("survivor"), count(lit(1)).as("n_copies"))
        .filter(col("n_copies") >= 2)
        .orderBy(col("canon_url"))
    }, Some(
      """WITH u AS (SELECT doc_id,
        |    'HTTPS://WWW.Example.COM:443/p/' || CAST(doc_id % 100 AS VARCHAR)
        |      || '?utm_campaign=c' || CAST(doc_id AS VARCHAR)
        |      || '&x=' || CAST(doc_id % 3 AS VARCHAR)
        |      || '#s' || CAST(doc_id AS VARCHAR) AS url
        |  FROM documents),
        |nf AS (SELECT doc_id, regexp_replace(url, '#.*$', '') AS u FROM u),
        |c AS (SELECT doc_id,
        |    regexp_replace(lower(regexp_extract(u, '^[^/]*//[^/]*')), ':443$', '')
        |    || regexp_replace(regexp_replace(regexp_replace(u, '^[^/]*//[^/]*', ''),
        |         '\?utm_[^&]*&', '?'), '[?&]utm_[^&]*', '') AS canon_url
        |  FROM nf)
        |SELECT canon_url, MIN(doc_id) AS survivor, COUNT(*) AS n_copies
        |FROM c GROUP BY canon_url HAVING COUNT(*) >= 2 ORDER BY canon_url""".stripMargin)),

    QuerySpec("q258_topic_coherence", (s, dir) => {
      // NPMI topic coherence of per-source top terms [EXT] — the
      // topic-model evaluation metric (Lau et al.; Röder's C_NPMI)
      // applied to each source's vocabulary head: do its top-10
      // document-frequency terms actually CO-OCCUR in documents
      // (coherent domain) or just individually often (grab-bag)?
      // NPMI(w₁,w₂) = ln(df₁₂·D/(df₁·df₂)) / −ln(df₁₂/D) over the ≤45
      // pairs per source; q86/q146 compute corpus-wide collocation PMI
      // — this is the NORMALIZED, presence-based variant scoped to the
      // vocabulary head, the form used to score topic quality. Top
      // terms rank by a WindowGroupLimit over per-source document
      // frequencies; presence rows semi-join against the ≤10·|sources|
      // broadcast term list; every count is exact, each ln takes
      // exact-integer ratios floor-rounded at 12, the per-source mean
      // reduces in DECIMAL. Zero-co-occurrence pairs drop (inner join)
      // — deterministic and mirrored, the standard C_NPMI convention.
      // r19 (guide §2.4): the distinct presence frame is folded into a
      // per-(source, doc) sorted word SET (one exchange builds it and
      // subsumes the old standalone distinct); per-doc top-term hits
      // re-group WITHOUT an exchange (explode/broadcast-join preserve
      // the set frame's (source, doc_id) partitioning), and the ≤45
      // pairs per doc explode in-row (q157 idiom) instead of the old
      // (source, doc_id) self-join — old 5-exchange chain → 3.
      val sets = Dedup.cacheScoped(Tables.documents(s, dir)
        .select(col("source"), col("doc_id"),
          explode(split(lower(col("text")), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy(col("source"), col("doc_id"))
        .agg(array_sort(collect_set(col("w"))).as("ws")))
      val dS = sets.groupBy(col("source")).agg(count(lit(1)).as("d"))
      val wDf = Window.partitionBy(col("source")).orderBy(col("df").desc, col("w"))
      val top = sets.select(col("source"), explode(col("ws")).as("w"))
        .groupBy(col("source"), col("w"))
        .agg(count(lit(1)).as("df"))
        .withColumn("r", row_number().over(wDf))
        .filter(col("r") <= 10)
        .select(col("source"), col("w"), col("df"))
      val hits = sets.select(col("source"), col("doc_id"), explode(col("ws")).as("w"))
        .join(broadcast(top), Seq("source", "w"))
        .groupBy(col("source"), col("doc_id"))
        .agg(array_sort(collect_set(struct(col("w"), col("df")))).as("ts"))
      val pairs = hits.select(col("source"),
          explode(flatten(transform(col("ts"), (a, i) =>
            transform(slice(col("ts"), i + lit(2), size(col("ts"))), b =>
              struct(a.getField("w").as("w1"), b.getField("w").as("w2"),
                a.getField("df").as("df1"), b.getField("df").as("df2")))))).as("p"))
        .select(col("source"), col("p.w1").as("w1"), col("p.w2").as("w2"),
          col("p.df1").as("df1"), col("p.df2").as("df2"))
        .groupBy(col("source"), col("w1"), col("w2"), col("df1"), col("df2"))
        .agg(count(lit(1)).as("df12"))
      val npmi = floor(
        log((col("df12") * col("d")).cast("double")
          / (col("df1") * col("df2")).cast("double"))
        / -log(col("df12").cast("double") / col("d")) * 1e12 + 0.5) / 1e12
      pairs.join(broadcast(dS), Seq("source"))
        .filter(col("df12") < col("d")) // p12 = 1 makes the normalizer ln(1) = 0
        .select(col("source"), npmi.cast(DecimalType(27, 14)).as("t"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_pairs"),
          (floor(sum(col("t")).cast("double") / count(lit(1)) * 1e9 + 0.5) / 1e9)
            .as("coherence"))
        .orderBy(col("source"))
    }, Some(
      """WITH pres AS (SELECT DISTINCT source, doc_id, w FROM (
        |                SELECT source, doc_id,
        |                  unnest(string_split(lower(text), ' ')) AS w
        |                FROM documents) WHERE length(w) > 0),
        |ds AS (SELECT source, COUNT(DISTINCT doc_id) AS d FROM pres GROUP BY 1),
        |dfc AS (SELECT source, w, COUNT(*) AS df FROM pres GROUP BY 1, 2),
        |top AS (SELECT source, w, df FROM (
        |          SELECT source, w, df,
        |            row_number() OVER (PARTITION BY source
        |                               ORDER BY df DESC, w) AS r
        |          FROM dfc) WHERE r <= 10),
        |hits AS (SELECT p.source, p.doc_id, p.w, t.df
        |         FROM pres p JOIN top t ON p.source = t.source AND p.w = t.w),
        |pairs AS (SELECT a.source, a.w AS w1, b.w AS w2, a.df AS df1,
        |            b.df AS df2, COUNT(*) AS df12
        |          FROM hits a JOIN hits b
        |            ON a.source = b.source AND a.doc_id = b.doc_id AND a.w < b.w
        |          GROUP BY 1, 2, 3, 4, 5),
        |tm AS (SELECT p.source,
        |         FLOOR(ln(CAST(df12 * d AS DOUBLE) / CAST(df1 * df2 AS DOUBLE))
        |           / -ln(CAST(df12 AS DOUBLE) / d) * 1e12 + 0.5) / 1e12 AS t
        |       FROM pairs p JOIN ds USING (source) WHERE df12 < d)
        |SELECT source, COUNT(*) AS n_pairs,
        |  FLOOR(CAST(SUM(CAST(t AS DECIMAL(27,14))) AS DOUBLE) / COUNT(*)
        |    * 1e9 + 0.5) / 1e9 AS coherence
        |FROM tm GROUP BY 1 ORDER BY source""".stripMargin)),

    QuerySpec("q260_heaps_law", (s, dir) => {
      // Heaps'-law vocabulary growth fit [EXT] — V(n) ≈ K·n^β: how fast
      // does the vocabulary grow as the corpus grows (q200's Zipf fit
      // is the static rank-frequency law; Heaps is its GROWTH twin —
      // the pair is the standard corpus-statistics health check, and β
      // drifting upward across snapshots means rising boilerplate /
      // synthetic text). Doc order comes from the dense-id two-pass
      // (q25 discipline — no global window over documents); V at each
      // of 10 cutoffs = words whose FIRST-occurrence rank ≤ cutoff
      // (one pass + a 10-row broadcast theta filter — never 10 corpus
      // scans); cutoffs are exact integer ceil((m·D)/10) via `div`;
      // the log-log OLS runs on floor-12 lns over the 10-point frame
      // in DECIMAL sums, slope and K close pure-IEEE, floor-9.
      val docs = DocPipeline.withDenseIds(
        Tables.documents(s, dir).select(col("doc_id"), col("text")),
        col("doc_id"), "rid")
      val fr = docs
        .select((col("rid") + 1).as("r"), explode(split(lower(col("text")), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy(col("w")).agg(min(col("r")).as("fr"))
      val dT = docs.agg(count(lit(1)).as("d"))
      val cuts = dT.withColumn("m", explode(sequence(lit(1), lit(10))))
        .select(col("m").cast("long").as("m"),
          expr("(m * d + 9) div 10").as("cutoff"))
      val pts = fr.crossJoin(broadcast(cuts))
        .filter(col("fr") <= col("cutoff"))
        .groupBy(col("m"), col("cutoff")).agg(count(lit(1)).as("v"))
      val xy = pts.select(
        (floor(log(col("cutoff").cast("double")) * 1e12 + 0.5) / 1e12).as("x"),
        (floor(log(col("v").cast("double")) * 1e12 + 0.5) / 1e12).as("y"))
        .select(col("x"), col("y"),
          (floor(col("x") * col("y") * 1e12 + 0.5) / 1e12).as("xy"),
          (floor(col("x") * col("x") * 1e12 + 0.5) / 1e12).as("xx"))
      val D14 = DecimalType(27, 14)
      val f = xy.agg(count(lit(1)).as("np"),
        sum(col("x").cast(D14)).cast("double").as("sx"),
        sum(col("y").cast(D14)).cast("double").as("sy"),
        sum(col("xy").cast(D14)).cast("double").as("sxy"),
        sum(col("xx").cast(D14)).cast("double").as("sxx"))
      val beta = (col("np") * col("sxy") - col("sx") * col("sy")) /
        (col("np") * col("sxx") - col("sx") * col("sx"))
      f.filter(col("np") * col("sxx") - col("sx") * col("sx") > 0)
        .select(col("np").as("n_points"),
          (floor(beta * 1e9 + 0.5) / 1e9).as("beta"),
          (floor(exp(col("sy") / col("np") - beta * (col("sx") / col("np")))
            * 1e9 + 0.5) / 1e9).as("k_coef"))
    }, Some(
      """WITH dr AS (SELECT doc_id, text,
        |              row_number() OVER (ORDER BY doc_id) AS r
        |            FROM documents),
        |fr AS (SELECT w, MIN(r) AS fr FROM (
        |         SELECT r, unnest(string_split(lower(text), ' ')) AS w FROM dr)
        |       WHERE length(w) > 0 GROUP BY 1),
        |d AS (SELECT COUNT(*) AS d FROM documents),
        |cuts AS (SELECT CAST(g.m AS BIGINT) AS m, (g.m * d.d + 9) // 10 AS cutoff
        |         FROM d, (SELECT unnest(generate_series(1, 10)) AS m) g),
        |pts AS (SELECT c.m, c.cutoff, COUNT(*) AS v
        |        FROM fr f JOIN cuts c ON f.fr <= c.cutoff
        |        GROUP BY 1, 2),
        |xy AS (SELECT x, y,
        |         FLOOR(x * y * 1e12 + 0.5) / 1e12 AS xy,
        |         FLOOR(x * x * 1e12 + 0.5) / 1e12 AS xx
        |       FROM (SELECT FLOOR(ln(CAST(cutoff AS DOUBLE)) * 1e12 + 0.5) / 1e12 AS x,
        |               FLOOR(ln(CAST(v AS DOUBLE)) * 1e12 + 0.5) / 1e12 AS y
        |             FROM pts)),
        |f AS (SELECT COUNT(*) AS np,
        |        CAST(SUM(CAST(x AS DECIMAL(27,14))) AS DOUBLE) AS sx,
        |        CAST(SUM(CAST(y AS DECIMAL(27,14))) AS DOUBLE) AS sy,
        |        CAST(SUM(CAST(xy AS DECIMAL(27,14))) AS DOUBLE) AS sxy,
        |        CAST(SUM(CAST(xx AS DECIMAL(27,14))) AS DOUBLE) AS sxx
        |      FROM xy)
        |SELECT np AS n_points,
        |  FLOOR((np * sxy - sx * sy) / (np * sxx - sx * sx) * 1e9 + 0.5) / 1e9 AS beta,
        |  FLOOR(exp(sy / np - (np * sxy - sx * sy) / (np * sxx - sx * sx)
        |    * (sx / np)) * 1e9 + 0.5) / 1e9 AS k_coef
        |FROM f WHERE np * sxx - sx * sx > 0""".stripMargin)),

    QuerySpec("q272_spell_variants", (s, dir) => {
      // edit-distance-1 spell-variant mining over the corpus vocabulary
      // [EXT] — the fuzzy-matching tier of the dedup/linkage family
      // (q158 blocks RECORDS on exact keys; q224 sorts neighborhoods;
      // this finds typo/variant WORD pairs — normalization candidates
      // for tokenizer vocab and query rewriting). Levenshtein is
      // exact-integer in both engines (no float parity surface).
      // Blocked self-join: equal 2-char prefix + |Δlen| ≤ 1 bounds
      // pairs to Σ_blk |blk|² over the VOCABULARY (not the corpus) —
      // the standard blocking recall trade, stated; distance-1 pairs
      // differing inside the first 2 chars are out of block by design.
      // Top-20 by combined document frequency, total order.
      val vocab = Tables.documents(s, dir)
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(col("w").rlike("^[a-z]{4,12}$"))
        .groupBy(col("w")).agg(count(lit(1)).as("df"))
      val v = Dedup.cacheScoped(vocab.withColumn("blk", substring(col("w"), 1, 2)))
      v.as("a").join(v.as("b"),
          col("a.blk") === col("b.blk") && col("a.w") < col("b.w") &&
            abs(length(col("a.w")) - length(col("b.w"))) <= 1)
        .filter(levenshtein(col("a.w"), col("b.w")) === 1)
        .select(col("a.w").as("w1"), col("b.w").as("w2"),
          col("a.df").as("df1"), col("b.df").as("df2"))
        .orderBy((col("df1") + col("df2")).desc, col("w1"), col("w2"))
        .limit(20)
    }, Some(
      """WITH w0 AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |wd AS (SELECT w, COUNT(*) AS df FROM w0
        |       WHERE regexp_full_match(w, '[a-z]{4,12}') GROUP BY 1),
        |v AS (SELECT w, df, substr(w, 1, 2) AS blk FROM wd)
        |SELECT a.w AS w1, b.w AS w2, a.df AS df1, b.df AS df2
        |FROM v a JOIN v b
        |  ON a.blk = b.blk AND a.w < b.w AND abs(length(a.w) - length(b.w)) <= 1
        |WHERE levenshtein(a.w, b.w) = 1
        |ORDER BY a.df + b.df DESC, w1, w2 LIMIT 20""".stripMargin)),

    QuerySpec("q277_hapax_profile", (s, dir) => {
      // hapax-legomena lexical profile per source [EXT] — the
      // vocabulary-richness triple the diversity family still lacked
      // (q135 TTR is size-biased; q260 Heaps fits GROWTH; this profiles
      // the FREQUENCY SPECTRUM): hapax fraction V1/V (synthetic/
      // templated text runs low), Sichel's S = V2/V (stable across
      // sizes), Honoré's R = 100·ln N/(1 − V1/V). One corpus tokenize
      // → per-(source, word) counts → |vocab|-frame spectrum agg;
      // exact longs into mirrored double ratios, ln on an exact
      // integer (portable per q258).
      val wc = Tables.documents(s, dir)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
      wc.groupBy(col("source")).agg(
          count(lit(1)).as("v"),
          sum(col("c")).as("n_tokens"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("v1"),
          sum(when(col("c") === 2, 1L).otherwise(0L)).as("v2"))
        .filter(col("v") > 0 && col("v1") < col("v"))
        .select(col("source"), col("n_tokens"), col("v"), col("v1"), col("v2"),
          pround(col("v1").cast("double") / col("v"), 9).as("hapax_frac"),
          pround(col("v2").cast("double") / col("v"), 9).as("sichel_s"),
          (floor(lit(100.0) * log(col("n_tokens").cast("double"))
            / (lit(1.0) - col("v1").cast("double") / col("v")) * 1e9 + 0.5) / 1e9)
            .as("honore_r"))
        .orderBy(col("source"))
    }, Some(
      """WITH w0 AS (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
        |wc AS (SELECT source, w, COUNT(*) AS c FROM w0
        |       WHERE length(w) > 0 GROUP BY 1, 2),
        |sp AS (SELECT source, COUNT(*) AS v, SUM(c) AS n_tokens,
        |         SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS v1,
        |         SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS v2
        |       FROM wc GROUP BY 1)
        |SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens, CAST(v AS BIGINT) AS v,
        |  CAST(v1 AS BIGINT) AS v1, CAST(v2 AS BIGINT) AS v2,
        |  round(CAST(v1 AS DOUBLE) / v, 9) AS hapax_frac,
        |  round(CAST(v2 AS DOUBLE) / v, 9) AS sichel_s,
        |  FLOOR(100.0 * ln(CAST(n_tokens AS DOUBLE))
        |    / (1.0 - CAST(v1 AS DOUBLE) / v) * 1e9 + 0.5) / 1e9 AS honore_r
        |FROM sp WHERE v > 0 AND v1 < v ORDER BY source""".stripMargin)),

    QuerySpec("q298_tokenizer_fertility", (s, dir) => {
      // tokenizer fertility per source [EXT] — subword tokens per
      // whitespace word, THE tokenizer-efficiency number for mixture
      // design (a source at fertility 2.5 costs 2.5× the context
      // budget per word; q27 counts tokens per doc, this rolls the
      // ratio up to the curation unit and flags the heavy tail). One
      // codegen scan; exact-long token sums; the doc-level tail flag
      // compares exact integers (bpe > 2·ws — no float boundary at
      // all).
      val d = Tables.documents(s, dir).select(col("source"),
        TextAnalysis.wsTokenCount(col("text")).cast("long").as("ws"),
        TextAnalysis.bpeTokenCount(col("text")).cast("long").as("bpe"))
        .filter(col("ws") > 0)
      d.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ws")).as("ws_tokens"), sum(col("bpe")).as("bpe_tokens"),
          sum(when(col("bpe") > lit(2) * col("ws"), 1L).otherwise(0L))
            .as("n_high_fertility"))
        .filter(col("ws_tokens") > 0)
        .select(col("source"), col("n_docs"), col("ws_tokens"), col("bpe_tokens"),
          (floor(col("bpe_tokens").cast("double") / col("ws_tokens").cast("double")
            * 1e9 + 0.5) / 1e9).as("fertility"),
          (floor(col("n_high_fertility").cast("double") / col("n_docs").cast("double")
            * 1e9 + 0.5) / 1e9).as("high_fertility_frac"))
        .orderBy(col("source"))
    }, Some(
      """WITH d AS (SELECT source,
        |    len(regexp_extract_all(text, '\S+')) AS ws,
        |    len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\s]')) AS bpe
        |  FROM documents),
        |g AS (SELECT source, COUNT(*) AS n_docs, SUM(ws) AS ws_tokens,
        |        SUM(bpe) AS bpe_tokens,
        |        SUM(CASE WHEN bpe > 2 * ws THEN 1 ELSE 0 END) AS nh
        |      FROM d WHERE ws > 0 GROUP BY 1)
        |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(ws_tokens AS BIGINT) AS ws_tokens,
        |  CAST(bpe_tokens AS BIGINT) AS bpe_tokens,
        |  FLOOR(CAST(bpe_tokens AS DOUBLE) / CAST(ws_tokens AS DOUBLE)
        |    * 1e9 + 0.5) / 1e9 AS fertility,
        |  FLOOR(CAST(nh AS DOUBLE) / CAST(n_docs AS DOUBLE) * 1e9 + 0.5) / 1e9
        |    AS high_fertility_frac
        |FROM g WHERE ws_tokens > 0 ORDER BY source""".stripMargin)),

    QuerySpec("q300_ngram_novelty", (s, dir) => {
      // per-source n-gram novelty attribution [EXT] — for each doc,
      // the fraction of its distinct 3-shingles whose corpus-FIRST
      // occurrence (min doc_id) is this doc; rolled up to the source.
      // The redundancy lens the dedup family lacks: q164 asks "is doc
      // B contained in A", this asks "what does each SOURCE add that
      // the corpus didn't already have" — the marginal-contribution
      // number mixture design weighs against token cost (q298). Shape
      // is the standard dedup bucketing: distinct shingles explode
      // (codegen), one gram-keyed agg for first owners (a gram's first
      // owner is unique, so novel-gram counts PARTITION the corpus
      // vocabulary), one equi-join back — linear in total grams, never
      // pairwise. Per-doc ratios pround(9) into exact DECIMAL sums;
      // the mean-of-ratios closes with one double divide.
      val docs = Tables.documents(s, dir)
      val sh = Dedup.cacheScoped(docs.select(col("doc_id"), col("source"),
        explode(array_distinct(
          graft.functions.Shingles.shingles(col("text"), 3))).as("sh")))
      val firstOwner = sh.groupBy(col("sh")).agg(min(col("doc_id")).as("first_doc"))
      val perDoc = sh.join(firstOwner, Seq("sh"))
        .groupBy(col("doc_id"), col("source"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("doc_id") === col("first_doc"), 1L).otherwise(0L))
            .as("n_novel"))
      perDoc.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_grams")).as("total_grams"),
          sum(col("n_novel")).as("novel_grams"),
          sum(pround(col("n_novel").cast("double") / col("n_grams"), 9)
            .cast(DecimalType(27, 10))).as("ratio_sum"))
        .select(col("source"), col("n_docs"), col("total_grams"),
          col("novel_grams"),
          pround(col("novel_grams").cast("double")
            / col("total_grams").cast("double"), 9).as("novelty"),
          pround(col("ratio_sum").cast("double")
            / col("n_docs").cast("double"), 9).as("mean_doc_novelty"))
        .orderBy(col("source"))
    }, Some(
      """WITH w AS (SELECT doc_id, source, list_filter(string_split_regex(
        |        regexp_replace(lower(text), '[^\p{L}\p{N}\s]', '', 'g'), '\s+'),
        |        x -> len(x) > 0) AS words FROM documents),
        |sh0 AS (SELECT doc_id, source, unnest(list_distinct(
        |         CASE WHEN len(words) = 0 THEN []
        |              ELSE [array_to_string(words[i:i+2], ' ')
        |                    FOR i IN generate_series(1, greatest(len(words) - 2, 1))] END)) AS sh
        |        FROM w),
        |fo AS (SELECT sh, MIN(doc_id) AS first_doc FROM sh0 GROUP BY 1),
        |pd AS (SELECT s.doc_id, s.source, COUNT(*) AS n_grams,
        |         SUM(CASE WHEN s.doc_id = f.first_doc THEN 1 ELSE 0 END) AS n_novel
        |       FROM sh0 s JOIN fo f USING (sh) GROUP BY 1, 2)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_grams) AS BIGINT) AS total_grams,
        |  CAST(SUM(n_novel) AS BIGINT) AS novel_grams,
        |  round(CAST(SUM(n_novel) AS DOUBLE) / CAST(SUM(n_grams) AS DOUBLE), 9)
        |    AS novelty,
        |  round(CAST(SUM(CAST(round(CAST(n_novel AS DOUBLE) / n_grams, 9)
        |      AS DECIMAL(27,10))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 9)
        |    AS mean_doc_novelty
        |FROM pd GROUP BY 1 ORDER BY source""".stripMargin)),

    QuerySpec("q302_context_overflow", (s, dir) => {
      // context-window overflow audit [EXT] — for candidate sequence
      // lengths k ∈ {256 … 4096}, what fraction of docs exceed k
      // whitespace tokens and what fraction of corpus TOKENS a
      // truncate-at-k policy discards. The number that picks
      // max_seq_len: packing efficiency (q124 family) says how full
      // the windows are, this says what truncation THROWS AWAY. One
      // codegen scan computes all five thresholds as conditional
      // exact-long sums in a single agg (no doc×k join at any scale);
      // the five rows unpivot from the 1-row close.
      val ks = Seq(256, 512, 1024, 2048, 4096)
      val d = Tables.documents(s, dir)
        .select(TextAnalysis.wsTokenCount(col("text")).cast("long").as("ws"))
      val aggs = Seq(count(lit(1)).as("n"), sum(col("ws")).as("tot")) ++
        ks.flatMap(k => Seq(
          sum(when(col("ws") > k, 1L).otherwise(0L)).as(s"o$k"),
          sum(when(col("ws") > k, col("ws") - k).otherwise(0L)).as(s"l$k")))
      val wide = d.agg(aggs.head, aggs.tail: _*)
      wide.select(explode(array(ks.map(k =>
          struct(lit(k).as("k"), col(s"o$k").as("n_over"),
            col(s"l$k").as("tokens_lost"))): _*)).as("r"),
          col("n"), col("tot"))
        .select(col("r.k").as("k"), col("r.n_over").as("n_docs_over"),
          pround(col("r.n_over").cast("double") / col("n").cast("double"), 9)
            .as("frac_docs_over"),
          col("r.tokens_lost").as("tokens_lost"),
          pround(col("r.tokens_lost").cast("double")
            / col("tot").cast("double"), 9).as("frac_tokens_lost"))
        .orderBy(col("k"))
    }, Some(
      """WITH d AS (SELECT len(regexp_extract_all(text, '\S+')) AS ws
        |  FROM documents),
        |t AS (SELECT COUNT(*) AS n, SUM(ws) AS tot FROM d),
        |k AS (SELECT unnest([256, 512, 1024, 2048, 4096]) AS k)
        |SELECT CAST(k.k AS INT) AS k,
        |  CAST(SUM(CASE WHEN d.ws > k.k THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_over,
        |  round(CAST(SUM(CASE WHEN d.ws > k.k THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(t.n AS DOUBLE), 9) AS frac_docs_over,
        |  CAST(SUM(CASE WHEN d.ws > k.k THEN d.ws - k.k ELSE 0 END) AS BIGINT)
        |    AS tokens_lost,
        |  round(CAST(SUM(CASE WHEN d.ws > k.k THEN d.ws - k.k ELSE 0 END) AS DOUBLE)
        |    / CAST(t.tot AS DOUBLE), 9) AS frac_tokens_lost
        |FROM d CROSS JOIN k CROSS JOIN t
        |GROUP BY k.k, t.n, t.tot ORDER BY k""".stripMargin)),

    QuerySpec("q320_zipf_slope", (s, dir) => {
      // Zipf exponent of the vocabulary head [EXT] — the rank-
      // frequency power law that pairs with q260's Heaps law (Heaps:
      // how fast vocabulary GROWS; Zipf: how steeply frequency FALLS):
      // OLS slope of ln(freq) on ln(rank) over the top-500 words. A
      // natural corpus sits near −1; a flatter slope flags synthetic/
      // boilerplate-heavy text. Head selection is one hash-agg +
      // TakeOrderedAndProject (never a global sort); ranks are
      // row_number on the 500-row frame (tiny-frame window exception,
      // q110's argument); the regression closes via q304's exact-
      // moment machinery with ln terms pround(12) into DECIMAL sums.
      val head = Tables.documents(s, dir)
        .select(explode(split(lower(col("text")), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy(col("w")).agg(count(lit(1)).as("f"))
        .orderBy(desc("f"), col("w")).limit(500)
      val D = DecimalType(27, 14)
      val xy = head
        .withColumn("r", row_number().over(Window.orderBy(desc("f"), col("w"))))
        .select(pround(log(col("r").cast("double")), 12).as("x"),
          pround(log(col("f").cast("double")), 12).as("y"))
      val m = xy.agg(count(lit(1)).as("n"),
        sum(col("x").cast(D)).as("sx"), sum(col("y").cast(D)).as("sy"),
        sum(pround(col("x") * col("x"), 12).cast(D)).as("sxx"),
        sum(pround(col("x") * col("y"), 12).cast(D)).as("sxy"))
      def dbl(c: String) = col(c).cast("double")
      val nd = dbl("n")
      val slope = (nd * dbl("sxy") - dbl("sx") * dbl("sy")) /
        (nd * dbl("sxx") - dbl("sx") * dbl("sx"))
      m.select(col("n").as("n_words"),
        pround(slope, 9).as("zipf_slope"),
        pround((dbl("sy") - slope * dbl("sx")) / nd, 9).as("intercept"))
    }, Some(
      """WITH w0 AS (SELECT unnest(string_split(lower(text), ' ')) AS w
        |  FROM documents),
        |f AS (SELECT w, COUNT(*) AS f FROM w0 WHERE len(w) > 0 GROUP BY 1
        |      ORDER BY f DESC, w LIMIT 500),
        |xy AS (SELECT round(ln(CAST(row_number() OVER (ORDER BY f DESC, w)
        |           AS DOUBLE)), 12) AS x,
        |         round(ln(CAST(f AS DOUBLE)), 12) AS y
        |       FROM f),
        |m AS (SELECT COUNT(*) AS n,
        |        SUM(CAST(x AS DECIMAL(27,14))) AS sx,
        |        SUM(CAST(y AS DECIMAL(27,14))) AS sy,
        |        SUM(CAST(round(x * x, 12) AS DECIMAL(27,14))) AS sxx,
        |        SUM(CAST(round(x * y, 12) AS DECIMAL(27,14))) AS sxy
        |      FROM xy)
        |SELECT CAST(n AS BIGINT) AS n_words,
        |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 9) AS zipf_slope,
        |  round((CAST(sy AS DOUBLE) - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |    * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 9) AS intercept
        |FROM m""".stripMargin)),

    QuerySpec("q332_template_ngrams", (s, dir) => {
      // per-source template detector [EXT] — the most REUSED 3-shingle
      // per source and the fraction of that source's docs carrying it:
      // coverage near 1.0 means a boilerplate template (q107 removes
      // corpus-common LINES; this localizes which SOURCE is template-
      // heavy and shows the offending fragment). Distinct shingles
      // explode once (codegen), one (source, gram) doc-count agg, the
      // per-source argmax rides a max-struct partial agg — never a
      // rank window over the vocabulary. Ties break to the
      // lexicographically LAST gram (max-struct order), mirrored in
      // the oracle's (n_with, sh) DESC rank.
      val docs = Tables.documents(s, dir)
      val nSrc = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      val sh = docs.select(col("doc_id"), col("source"),
        explode(array_distinct(
          graft.functions.Shingles.shingles(col("text"), 3))).as("sh"))
      val gramDocs = sh.groupBy(col("source"), col("sh"))
        .agg(count(lit(1)).as("n_with"))
      gramDocs
        .groupBy(col("source"))
        .agg(max(struct(col("n_with"), col("sh"))).as("top"))
        .join(broadcast(nSrc), Seq("source"))
        .select(col("source"), col("top.sh").as("top_gram"),
          col("top.n_with").as("n_docs_with"), col("n_docs"),
          pround(col("top.n_with").cast("double")
            / col("n_docs").cast("double"), 9).as("coverage"))
        .orderBy(col("source"))
    }, Some(
      """WITH w AS (SELECT doc_id, source, list_filter(string_split_regex(
        |        regexp_replace(lower(text), '[^\p{L}\p{N}\s]', '', 'g'), '\s+'),
        |        x -> len(x) > 0) AS words FROM documents),
        |sh0 AS (SELECT doc_id, source, unnest(list_distinct(
        |         CASE WHEN len(words) = 0 THEN []
        |              ELSE [array_to_string(words[i:i+2], ' ')
        |                    FOR i IN generate_series(1, greatest(len(words) - 2, 1))] END)) AS sh
        |        FROM w),
        |gd AS (SELECT source, sh, COUNT(*) AS n_with FROM sh0 GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY source
        |        ORDER BY n_with DESC, sh DESC) AS rk FROM gd),
        |ns AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1)
        |SELECT r.source, r.sh AS top_gram, CAST(r.n_with AS BIGINT) AS n_docs_with,
        |  CAST(ns.n_docs AS BIGINT) AS n_docs,
        |  round(CAST(r.n_with AS DOUBLE) / CAST(ns.n_docs AS DOUBLE), 9)
        |    AS coverage
        |FROM r JOIN ns USING (source) WHERE rk = 1 ORDER BY r.source""".stripMargin)),

    QuerySpec("q335_oov_rate", (s, dir) => {
      // out-of-vocabulary rate per source [EXT] — tokenizer coverage
      // against the corpus head vocabulary (top-1000 words): a source
      // whose OOV rate is high either needs its own vocab budget or
      // is noise (q298 prices tokens; this prices COVERAGE). The
      // vocab head is a hash-agg + TakeOrderedAndProject broadcast;
      // the per-source rate is one left-anti-flavored join (broadcast
      // hash, null ⇒ OOV) over the exploded token frame.
      val words = Dedup.cacheScoped(Tables.documents(s, dir)
        .select(col("source"), explode(split(lower(col("text")), " ")).as("w"))
        .filter(length(col("w")) > 0))
      val vocab = words.groupBy(col("w")).agg(count(lit(1)).as("f"))
        .orderBy(desc("f"), col("w")).limit(1000)
        .select(col("w"), lit(1L).as("in_vocab"))
      words.join(broadcast(vocab), Seq("w"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
        .select(col("source"), col("n_tokens"), col("n_oov"),
          pround(col("n_oov").cast("double") / col("n_tokens").cast("double"), 9)
            .as("oov_rate"))
        .orderBy(col("source"))
    }, Some(
      """WITH w0 AS (SELECT source, unnest(string_split(lower(text), ' ')) AS w
        |  FROM documents),
        |ww AS (SELECT source, w FROM w0 WHERE len(w) > 0),
        |v AS (SELECT w FROM (SELECT w, COUNT(*) AS f FROM ww GROUP BY 1
        |      ORDER BY f DESC, w LIMIT 1000))
        |SELECT ww.source, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  CAST(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |  round(CAST(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE), 9) AS oov_rate
        |FROM ww LEFT JOIN v ON ww.w = v.w GROUP BY 1 ORDER BY 1""".stripMargin)),

    QuerySpec("q341_bpe_merges", (s, dir) => {
      // BPE merge learning, 5 steps [EXT] — the ACTUAL tokenizer-
      // training inner loop (Sennrich et al.) run distributed: start
      // from characters, repeatedly count adjacent-token pairs across
      // the corpus and merge the most frequent one (ties: lexicographic
      // min pair — fully deterministic). Each round is ONE corpus-wide
      // pair-count agg + a 1-ROW driver collect (the argmax — the
      // q198 bounded tier, 5 rows total) + a map-side token-boundary
      // replace (' a b '→' ab ' on the space-sentinel string — the
      // left-to-right non-overlapping semantics Java, DuckDB and
      // Python's str.replace share, verified by a three-way parity
      // prototype). The oracle unrolls the IDENTICAL five rounds as
      // generated CTEs. q298 PRICES a fixed tokenizer; this LEARNS
      // one. Oracle-tier doc_id < 100 / 200-char bound (q164's
      // discipline — the shape is linear in corpus size).
      var corpus = Dedup.cacheScoped(Tables.documents(s, dir)
        .filter(col("doc_id") < 100)
        .select(col("doc_id"), array_join(regexp_extract_all(
          lower(substring(col("text"), 1, 200)), lit("[a-z]"), lit(0)), " ")
          .as("s")))
      val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
      for (r <- 1 to 5) {
        val top = corpus
          .withColumn("t", split(col("s"), " "))
          .filter(size(col("t")) >= 2)
          .select(explode(expr(
            "transform(sequence(0, size(t)-2), i -> concat(t[i], ' ', t[i+1]))"))
            .as("pair"))
          .groupBy(col("pair")).agg(count(lit(1)).as("cnt"))
          .orderBy(desc("cnt"), col("pair")).limit(1)
          .collect()(0)
        val pair = top.getString(0); val cnt = top.getLong(1)
        val merged = pair.replace(" ", "")
        merges += ((r, pair, merged, cnt))
        corpus = Dedup.cacheScoped(corpus.select(col("doc_id"),
          trim(expr(s"replace(concat(' ', s, ' '), ' $pair ', ' $merged ')"))
            .as("s")))
      }
      import s.implicits._
      merges.toSeq.toDF("merge_rank", "pair", "merged", "cnt")
        .select(col("merge_rank").cast("int").as("merge_rank"), col("pair"),
          col("merged"), col("cnt"))
        .orderBy(col("merge_rank"))
    },
    // generated 5-round unroll — the q263 programmatic-oracle pattern
    Some {
      val sb = new StringBuilder(
        """WITH r0 AS (SELECT doc_id,
          |  array_to_string(regexp_extract_all(lower(substr(text, 1, 200)),
          |    '[a-z]'), ' ') AS s
          |  FROM documents WHERE doc_id < 100)""".stripMargin)
      val outs = scala.collection.mutable.ArrayBuffer[String]()
      var prev = "r0"
      for (r <- 1 to 5) {
        sb ++= s""",
          |b$r AS (SELECT unnest([t[i] || ' ' || t[i+1]
          |          FOR i IN generate_series(1, len(t) - 1)]) AS pair
          |        FROM (SELECT string_split(s, ' ') AS t FROM $prev)
          |        WHERE len(t) >= 2),
          |c$r AS (SELECT pair, COUNT(*) AS cnt FROM b$r GROUP BY 1
          |        ORDER BY cnt DESC, pair LIMIT 1),
          |r$r AS (SELECT d.doc_id, trim(replace(' ' || d.s || ' ',
          |          ' ' || c.pair || ' ', ' ' || replace(c.pair, ' ', '') || ' '),
          |          ' ') AS s
          |        FROM $prev d, c$r c)""".stripMargin
        outs += s"""SELECT $r AS merge_rank, pair,
          | replace(pair, ' ', '') AS merged, CAST(cnt AS BIGINT) AS cnt
          | FROM c$r""".stripMargin
        prev = s"r$r"
      }
      sb ++= "\nSELECT CAST(merge_rank AS INT) AS merge_rank, pair, merged, cnt FROM ("
      sb ++= outs.mkString(" UNION ALL ")
      sb ++= ") ORDER BY merge_rank"
      sb.toString
    }),

    QuerySpec("q352_good_turing", (s, dir) => {
      // Good–Turing unseen-mass estimate per source [EXT] — the
      // probability the NEXT token is a word never seen in this
      // source: P₀ = n₁/N (singleton count over token count), the
      // famous missing-mass estimator that tells a vocab designer how
      // OPEN each source's vocabulary still is (q260 fits growth;
      // q335 measures coverage of a FIXED head; this bounds what any
      // finite vocab must miss). One tokenize pass, one (source,
      // word) agg, exact integers to one division.
      val words = Tables.documents(s, dir)
        .select(col("source"), explode(split(lower(col("text")), " ")).as("w"))
        .filter(length(col("w")) > 0)
      words.groupBy(col("source"), col("w")).agg(count(lit(1)).as("f"))
        .groupBy(col("source"))
        .agg(sum(col("f")).as("n_tokens"), count(lit(1)).as("vocab"),
          sum(when(col("f") === 1, 1L).otherwise(0L)).as("n_singletons"))
        .select(col("source"), col("n_tokens"), col("vocab"),
          col("n_singletons"),
          pround(col("n_singletons").cast("double")
            / col("n_tokens").cast("double"), 9).as("unseen_mass"))
        .orderBy(col("source"))
    }, Some(
      """WITH w0 AS (SELECT source, unnest(string_split(lower(text), ' ')) AS w
        |  FROM documents),
        |ww AS (SELECT source, w FROM w0 WHERE len(w) > 0),
        |f AS (SELECT source, w, COUNT(*) AS f FROM ww GROUP BY 1, 2)
        |SELECT source, CAST(SUM(f) AS BIGINT) AS n_tokens,
        |  CAST(COUNT(*) AS BIGINT) AS vocab,
        |  CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_singletons,
        |  round(CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(SUM(f) AS DOUBLE), 9) AS unseen_mass
        |FROM f GROUP BY 1 ORDER BY source""".stripMargin)),
  )
}

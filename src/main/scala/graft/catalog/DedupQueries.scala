package graft
package catalog

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Extraction, TextAnalysis}
import graft.operators.Dedup

import Parity._

/** Deduplication queries: exact and normalized hashing,
  * MinHash/SimHash/shingle near-duplicates, record linkage and the dedup
  * audits. */
object DedupQueries {

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q30_dedup_exact", (s, dir) => {
      Dedup.exact(Tables.documents(s, dir), col("text"), col("doc_id"))
        .select(col("doc_id"), col("n_chars"))
    }, Some(
      """SELECT d.doc_id, d.n_chars FROM documents d
        |JOIN (SELECT md5(text) AS h, MIN(doc_id) AS keep FROM documents GROUP BY md5(text)) s
        |  ON md5(d.text) = s.h AND d.doc_id = s.keep""".stripMargin)),

    QuerySpec("q31_dedup_norm_groups", (s, dir) => {
      Dedup.normalizedGroups(Tables.documents(s, dir), col("text"), col("doc_id"))
    }, Some(
      """WITH n AS (SELECT doc_id,
        |  md5(trim(regexp_replace(regexp_replace(lower(text), '[^\p{L}\p{N}\s]', '', 'g'), '\s+', ' ', 'g'))) AS fp
        |FROM documents)
        |SELECT fp, COUNT(*) AS n_dups, MIN(doc_id) AS first_key
        |FROM n GROUP BY fp HAVING COUNT(*) > 1""".stripMargin)),

    QuerySpec("q32_minhash_dups", (s, dir) => {
      // minhash signature uses xxhash64 → not oracle-expressible; rows-only
      Dedup.minhashCandidates(Tables.documents(s, dir), col("text"), col("doc_id"),
        shingleK = 3, numHashes = 32, bands = 8, minJaccard = 0.3)
    }, None), // accuracy: OperatorSpec "minhash LSH finds exact and near dups, skips unrelated"

    QuerySpec("q33_simhash_dups", (s, dir) => {
      Dedup.simhashCandidates(Tables.documents(s, dir), col("text"), col("doc_id"),
        shingleK = 3, maxHamming = 8)
    }, None), // accuracy: OperatorSpec "simhash blocks + hamming verify"

    QuerySpec("q34_ngram_jaccard", (s, dir) => {
      // exact verification over blocked candidates; oracle = pure list
      // algebra in DuckDB (blocking is complete for jaccard > 0, so the
      // oracle's cross-join + threshold yields the identical pair set)
      Dedup.ngramJaccardPairs(
        Tables.documents(s, dir).filter(col("doc_id") < 100), col("text"), col("doc_id"),
        k = 2, minJaccard = 0.08)
    },
    // shared CTE: the q34/q52 shingle normalization (lowercase, strip
    // non-letter/digit, split on whitespace, k=2 word shingles, distinct)
    // — the exact list-algebra twin of Dedup.shingleStrings
    Some(
      """WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id < 100),
        |w AS (SELECT doc_id,
        |        list_filter(string_split_regex(
        |          regexp_replace(lower(text), '[^\p{L}\p{N}\s]', '', 'g'), '\s+'),
        |          x -> len(x) > 0) AS words
        |      FROM docs),
        |sh AS (SELECT doc_id,
        |         list_distinct([array_to_string(words[i:i+1], ' ')
        |                        FOR i IN generate_series(1, greatest(len(words) - 1, 1))]) AS sh
        |       FROM w WHERE len(words) > 0)
        |SELECT a.doc_id AS key_a, b.doc_id AS key_b,
        |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.08""".stripMargin)),

    QuerySpec("q35_embedding_dups", (s, dir) => {
      Dedup.embeddingNearDups(Tables.embeddings(s, dir), col("embedding"), col("vec_id"),
        minCosine = 0.4, bruteForce = true)
    }, Some(
      """SELECT a.vec_id AS key_a, b.vec_id AS key_b,
        |  list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) AS cosine
        |FROM embeddings a, embeddings b
        |WHERE a.vec_id < b.vec_id
        |  AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.4""".stripMargin)),

    QuerySpec("q52_dedup_groups", (s, dir) => {
      // transitive duplicate clusters: iterative min-label connected
      // components over the exact n-gram Jaccard pair graph — the same
      // SQL-expressible pair set as q34, so DuckDB recomputes the pairs
      // and verifies the closure with WITH RECURSIVE. (Components over
      // minhash pairs stay covered by q32 + DedupSpec.)
      val pairs = Dedup.ngramJaccardPairs(
        Tables.documents(s, dir).filter(col("doc_id") < 100), col("text"), col("doc_id"),
        k = 2, minJaccard = 0.08)
      Dedup.connectedComponents(pairs)
        .groupBy(col("component"))
        .agg(count(lit(1)).as("group_size"), max(col("key")).as("max_key"))
    }, Some(
      """WITH RECURSIVE docs AS (SELECT doc_id, text FROM documents WHERE doc_id < 100),
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
        |  SELECT a.doc_id AS key_a, b.doc_id AS key_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |      / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.08),
        |edges AS (SELECT key_a AS src, key_b AS dst FROM pairs
        |          UNION SELECT key_b, key_a FROM pairs),
        |reach(node, r) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.src, reach.r FROM reach JOIN edges e ON e.dst = reach.node),
        |comp AS (SELECT node AS k, MIN(r) AS component FROM reach GROUP BY node)
        |SELECT component, COUNT(*) AS group_size, MAX(k) AS max_key
        |FROM comp GROUP BY component""".stripMargin)),

    QuerySpec("q56_embedding_dups_lsh", (s, dir) => {
      // the 100 TB tier of q35: random-hyperplane LSH bucketing instead of
      // the O(n²) cross join; recall vs the exact pair set asserted in
      // DedupSpec (approximate → rows-only here)
      Dedup.embeddingNearDups(Tables.embeddings(s, dir), col("embedding"), col("vec_id"),
        minCosine = 0.4, planes = 4, bruteForce = false)
    }, None), // accuracy: OperatorSpec "embedding near-dups LSH path finds planted near-identical vectors"

    QuerySpec("q70_dedup_keep_best", (s, dir) => {
      // survivor POLICY variant of exact dedup: keep the highest-quality
      // member of each content group (keep-first is q30). rank=1 over
      // (group, quality desc) compiles to WindowGroupLimit — the policy
      // changes, the scale shape doesn't.
      val w = Window.partitionBy(col("h"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      Tables.documents(s, dir)
        .withColumn("h", md5(col("text")))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("doc_id"), col("h"), col("n_chars"))
    }, Some(
      """SELECT doc_id, h, n_chars FROM (
        |  SELECT doc_id, md5(text) AS h, n_chars,
        |    row_number() OVER (PARTITION BY md5(text) ORDER BY n_chars DESC, doc_id) AS rk
        |  FROM documents)
        |WHERE rk = 1""".stripMargin)),

    QuerySpec("q72_line_dedup", (s, dir) => {
      // corpus-level line dedup (the C4/RefinedWeb discipline): segment
      // into 5-word lines (the synthetic corpus has no newlines, so the
      // segmentation mirrors q25's), keep each distinct line's FIRST
      // occurrence — min(struct(key, line_no)) per line, partial-agg
      // friendly, ONE shuffle on content — then reassemble survivors in
      // line order. Docs that were entirely duplicate lines drop out.
      val ws = split(col("text"), " ")
      val np = ceil(size(ws) / lit(5.0)).cast("int")
      val lines = Tables.documents(s, dir)
        .select(col("doc_id"), ws.as("ws"), np.as("np"))
        .select(col("doc_id"), col("ws"),
          explode(sequence(lit(0), col("np") - 1)).as("line_no"))
        .select(col("doc_id").as("key"), col("line_no").cast("long").as("line_no"),
          array_join(slice(col("ws"), col("line_no") * 5 + 1, lit(5)), " ").as("line"))
      Dedup.reassembleLines(Dedup.lineDedup(lines), " ")
        .select(col("key").as("doc_id"), col("text"), col("n_lines_kept"))
    }, Some(
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |p AS (SELECT doc_id, ws, CAST(ceil(len(ws)/5.0) AS INTEGER) AS np FROM t),
        |l AS (SELECT p.doc_id, CAST(g.i AS BIGINT) AS line_no,
        |        array_to_string(ws[g.i*5+1 : least((g.i+1)*5, len(ws))], ' ') AS line
        |      FROM p, LATERAL (SELECT unnest(generate_series(0, np-1)) AS i) g),
        |k AS (SELECT doc_id, line_no, line,
        |        row_number() OVER (PARTITION BY line ORDER BY doc_id, line_no) AS rk
        |      FROM l)
        |SELECT doc_id, string_agg(line, ' ' ORDER BY line_no) AS text,
        |       COUNT(*) AS n_lines_kept
        |FROM k WHERE rk = 1 GROUP BY doc_id""".stripMargin)),

    QuerySpec("q106_semdedup", (s, dir) => {
      // SemDeDup (cluster-then-dedup): assign every embedding to its
      // nearest of 8 seed centroids (broadcast; codegen L2 kernel), then
      // exact-cosine pairs WITHIN clusters only — the all-pairs scan
      // becomes per-cluster equi-joins (n²/k). Same bit-exact cosine as
      // q35, so the whole composition is oracle-matched.
      val emb = Tables.embeddings(s, dir)
      val cents = emb.filter(col("vec_id") < 8)
      Dedup.semanticDedup(emb, col("embedding"), col("vec_id"),
          cents, col("embedding"), col("vec_id"), minCosine = 0.4)
        .select(col("cluster"), col("key_a"), col("key_b"), col("cosine"))
    }, Some(
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |c AS (SELECT vec_id AS cluster, emb AS cv FROM e WHERE vec_id < 8),
        |d AS (SELECT e.vec_id, c.cluster, list_distance(e.emb, c.cv) AS dist FROM e, c),
        |a AS (SELECT vec_id, cluster FROM (
        |        SELECT vec_id, cluster,
        |          row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rk
        |        FROM d) WHERE rk = 1),
        |p AS (SELECT x.cluster, x.vec_id AS key_a, y.vec_id AS key_b
        |      FROM a x JOIN a y ON x.cluster = y.cluster AND x.vec_id < y.vec_id)
        |SELECT CAST(p.cluster AS BIGINT) AS cluster, key_a, key_b,
        |  list_cosine_similarity(ea.emb, eb.emb) AS cosine
        |FROM p JOIN e ea ON p.key_a = ea.vec_id JOIN e eb ON p.key_b = eb.vec_id
        |WHERE list_cosine_similarity(ea.emb, eb.emb) >= 0.4""".stripMargin)),

    QuerySpec("q154_dedup_provenance", (s, dir) => {
      // dedup audit trail: for every DROPPED doc, which survivor
      // absorbed it — (absorbed, survivor) from the q52 component
      // labels (survivor = component min). The provenance record a
      // compliant dedup pipeline keeps (why is my page gone → absorbed
      // by which canonical doc).
      val pairs = Dedup.ngramJaccardPairs(
        Tables.documents(s, dir).filter(col("doc_id") < 100), col("text"), col("doc_id"),
        k = 2, minJaccard = 0.08)
      Dedup.connectedComponents(pairs)
        .filter(col("key") =!= col("component"))
        .select(col("key").as("absorbed"), col("component").as("survivor"))
    }, Some(
      """WITH RECURSIVE docs AS (SELECT doc_id, text FROM documents WHERE doc_id < 100),
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
        |  SELECT a.doc_id AS key_a, b.doc_id AS key_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |      / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.08),
        |edges AS (SELECT key_a AS src, key_b AS dst FROM pairs
        |          UNION SELECT key_b, key_a FROM pairs),
        |reach(node, r) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.src, reach.r FROM reach JOIN edges e ON e.dst = reach.node),
        |comp AS (SELECT node AS k, MIN(r) AS component FROM reach GROUP BY node)
        |SELECT k AS absorbed, component AS survivor FROM comp WHERE k != component""".stripMargin)),

    QuerySpec("q137_neardup_corpus", (s, dir) => {
      // the one-call near-dup dedup composition: LSH candidates →
      // transitive groups → keep-best survivor (per-stage parity is
      // q32/q52/q70; MinHash internals make the composition rows-only,
      // with the planted-chain CurationSpec pinning semantics).
      Dedup.nearDupCorpus(Tables.documents(s, dir), col("text"), col("doc_id"),
          TextAnalysis.qualityScore(col("text")))
        .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
    }, None), // accuracy: CurationSpec "nearDupCorpus: a planted dup chain collapses to its best row; uniques pass through"

    QuerySpec("q136_sql_shingles", (s, dir) => {
      // the shingle KERNEL from SQL text: distinct_shingles() is the
      // same codegen'd Catalyst expression the Scala DSL plans (q93's
      // argument extended to the text kernels) — a SQL-first user runs
      // the dedup preprocessing without touching the DSL.
      GraftExtensions.register(s)
      Tables.documents(s, dir).createOrReplaceTempView("documents_q136")
      s.sql("""SELECT doc_id,
        |  size(distinct_shingles(text, 3)) AS n_shingles,
        |  size(shingles(text, 3)) AS n_positions
        |FROM documents_q136""".stripMargin)
    }, Some(
      """WITH w AS (SELECT doc_id,
        |        list_filter(string_split_regex(
        |          regexp_replace(lower(text), '[^\p{L}\p{N}\s]', '', 'g'), '\s+'),
        |          x -> len(x) > 0) AS words
        |      FROM documents),
        |s AS (SELECT doc_id,
        |        CASE WHEN len(words) = 0 THEN []
        |             ELSE [array_to_string(words[i:i+2], ' ')
        |                   FOR i IN generate_series(1, greatest(len(words) - 2, 1))] END AS sh
        |      FROM w)
        |SELECT doc_id, CAST(len(list_distinct(sh)) AS INTEGER) AS n_shingles,
        |  CAST(len(sh) AS INTEGER) AS n_positions
        |FROM s""".stripMargin)),

    QuerySpec("q121_incremental_dedup", (s, dir) => {
      // incremental near-dup dedup: a synthetic "daily increment" (every
      // 25th doc, one word appended — a near-dup of its original) lands
      // against the FULL corpus signature index. Only new×index bands
      // join — index-vs-index pairs were resolved at index build and are
      // never recomputed. MinHash internals are engine-specific → rows-
      // only; CurationSpec pins the planted-recall semantics.
      val d = Tables.documents(s, dir)
      val increment = d.filter(col("doc_id") % 25 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(col("text"), lit(" tail token")).as("text"))
      val idx = Dedup.signatures(d, col("text"), col("doc_id"))
      Dedup.incrementalMinhashDups(increment, col("text"), col("doc_id"), idx)
        .select(col("new_key"), col("index_key"), col("est_jaccard"))
    }, None), // accuracy: CurationSpec "incrementalMinhashDups: planted near-copies find their originals, only new×index pairs"

    QuerySpec("q117_url_dedup", (s, dir) => {
      // URL canonicalization + dedup — the reference's own dedup surface
      // (get_pdf_links_from_cc.py dropDuplicates on url) done right:
      // lowercase scheme/host, strip www., default port, query string,
      // fragment and trailing slash, then group. Synthetic URLs derive
      // from doc_id (q74's planted-input pattern) so the oracle replays
      // the construction; the canonicalizer is a codegen regexp chain.
      val raw = concat(lit("HTTPS://WWW.Site"), col("doc_id") % 7,
        lit(".COM:443/Path/"), col("doc_id") % 40,
        lit("/?utm_source=feed&id="), col("doc_id"), lit("#frag"))
      val canon =
        regexp_replace(
          regexp_replace(
            regexp_replace(lower(raw), "[?#].*$", ""),   // query + fragment
            "://www\\.", "://"),                          // www prefix
          ":443/", "/")                                   // default port
      val c2 = regexp_replace(canon, "/$", "")            // trailing slash
      Tables.documents(s, dir)
        .select(col("doc_id"), c2.as("canonical_url"))
        .groupBy(col("canonical_url"))
        .agg(min(col("doc_id")).as("keep_doc"), count(lit(1)).as("n_dups"))
    }, Some(
      """WITH u AS (SELECT doc_id,
        |  'HTTPS://WWW.Site' || CAST(doc_id % 7 AS VARCHAR) || '.COM:443/Path/'
        |    || CAST(doc_id % 40 AS VARCHAR) || '/?utm_source=feed&id='
        |    || CAST(doc_id AS VARCHAR) || '#frag' AS raw
        |FROM documents),
        |c AS (SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(lower(raw), '[?#].*$', '', 'g'),
        |        '://www\.', '://', 'g'),
        |      ':443/', '/', 'g'),
        |    '/$', '', 'g') AS canonical_url
        |FROM u)
        |SELECT canonical_url, MIN(doc_id) AS keep_doc, COUNT(*) AS n_dups
        |FROM c GROUP BY canonical_url""".stripMargin)),

    QuerySpec("q157_substr_fingerprints", (s, dir) => {
      // exact substring duplication across docs (the Lee et al.
      // exact-substr dedup discipline in fingerprint form): every char
      // 40-gram, MOD-p selected by the gram's OWN md5 (content-defined,
      // so alignment-invariant — a positional stride would miss spans
      // at shifted offsets). Positions explode FIRST so gram + md5 +
      // select stay flat codegen expressions (a transform/filter HOF
      // pipeline evaluates interpreted: measured 4.4 s vs this shape).
      // ONE content shuffle: collect_set(doc) per gram dedups the
      // (doc, gram) occurrences map-side AND subsumes the former
      // distinct + df-prune + self-join pipeline (three branches over a
      // cached frame — 6.1 s cold at sf0.1 vs 3.0 s here); the doc set
      // is capped at 20 (q147's stop-term cut for boilerplate grams),
      // so pair generation is a bounded in-row nested transform
      // (≤ 190 pairs per gram), never a join.
      // two-level explode: text → overlapping 103-char chunks (stride
      // 64, overlap k-1 so every absolute position appears exactly
      // once) → positions within the chunk. A single position explode
      // would copy the FULL text into each of ~|text| generated rows
      // (GenerateExec copies the child row per element — 4.5 GB of row
      // traffic at sf0.1, measured 4.3 s); chunking first bounds each
      // copy at 103 chars (3.0 s).
      val k = 40
      val stride = 64
      val gram = expr(s"substring(chunk, pos, $k)")
      Tables.documents(s, dir)
        .select(col("doc_id"),
          // greatest(len, 1): sequence(1, 0, 64) on empty text is an
          // ERROR in Spark (start > stop with positive step), not an
          // empty array — the degenerate chunk explodes once and its
          // sub-k gram is length-filtered
          explode(sequence(lit(1), greatest(length(col("text")), lit(1)),
            lit(stride))).as("cstart"),
          col("text"))
        .select(col("doc_id"),
          expr(s"substring(text, cstart, ${stride + k - 1})").as("chunk"))
        // r20 (guide §2.6 / documentsFanned discipline): documents is one
        // parquet row group, so the whole position-explode + md5 chain ran
        // as ONE scan task (solo 3.2 s at 32c, 31 cores idle). Fanning the
        // ~|text|/64 chunk rows round-robin costs one tiny exchange
        // (chunks ≈ 1.6× text bytes) and runs the md5 selection at full
        // width; chunk-level (not doc-level) spread also balances skewed
        // doc lengths. Per-row CPU (64 md5s per chunk) dwarfs the bytes
        // at any scale; defaultParallelism tracks the session.
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), col("chunk"),
          explode(sequence(lit(1),
            greatest(length(col("chunk")) - (k - 1), lit(1)))).as("pos"))
        .select(col("doc_id"), gram.as("gram"))
        .filter(length(col("gram")) === k &&
          substring(md5(col("gram")), 1, 1).isin("0", "1", "2", "3"))
        .groupBy(col("gram")).agg(sort_array(collect_set(col("doc_id"))).as("ds"))
        .filter(size(col("ds")).between(2, 20))
        .select(explode(flatten(transform(col("ds"), (a, i) =>
          transform(slice(col("ds"), i + lit(2), size(col("ds"))), b =>
            struct(a.as("doc_a"), b.as("doc_b")))))).as("p"))
        .select(col("p.doc_a"), col("p.doc_b"))
        .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("n_shared"))
        .orderBy(desc("n_shared"), col("doc_a"), col("doc_b")).limit(20)
    }, Some(
      """WITH g0 AS (
        |  SELECT doc_id, substr(text, i, 40) AS gram
        |  FROM documents,
        |    LATERAL (SELECT unnest(generate_series(1, greatest(length(text) - 39, 1))) AS i) t
        |), g AS (
        |  SELECT DISTINCT doc_id, gram FROM g0
        |  WHERE length(gram) = 40 AND substr(md5(gram), 1, 1) IN ('0','1','2','3')
        |), keep AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) <= 20),
        |g2 AS (SELECT g.doc_id, g.gram FROM g JOIN keep USING (gram))
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
        |FROM g2 a JOIN g2 b USING (gram) WHERE a.doc_id < b.doc_id
        |GROUP BY 1, 2 ORDER BY n_shared DESC, doc_a, doc_b LIMIT 20""".stripMargin)),

    QuerySpec("q158_record_linkage", (s, dir) => {
      // entity resolution, Fellegi–Sunter-lite: BLOCK on (brand, head
      // noun) so candidates are per-block O(block²) — never corpus²;
      // SCORE with codegen levenshtein; SELECT the best match per
      // record via a per-key window (WindowGroupLimit) and a final
      // top-100 (TakeOrderedAndProject). The blocking key is the
      // recall/cost lever a real MDM pipeline tunes.
      // edit distance is symmetric: score each unordered pair ONCE
      // (key_a < key_b halves the join output and the levenshtein
      // evals), then mirror the scored pairs for per-record selection.
      // Pair-once + min(struct) best-match measured 3.1 → 2.1 s at
      // sf0.1 vs the both-directions + row_number formulation.
      val p = Tables.part(s, dir).select(col("p_partkey"), col("p_name"),
        col("p_brand"), element_at(split(col("p_name"), " "), -1).as("blk"))
      // r20 (guide §2.6 / documentsFanned discipline): part is one parquet
      // row group, so the broadcast-join probe side was ONE task — every
      // blocked levenshtein ran on one core. One ~20k-row exchange fans it
      // to full width (per-row cost = |block| levenshteins ≫ bytes).
      val a = p.select(col("p_partkey").as("key_a"), col("p_name").as("name_a"),
        col("p_brand").as("brand"), col("blk"))
        .repartition(s.sparkContext.defaultParallelism)
      val b = p.select(col("p_partkey").as("key_b"), col("p_name").as("name_b"),
        col("p_brand").as("brand"), col("blk"))
      val scored = a.join(b, Seq("brand", "blk")).filter(col("key_a") < col("key_b"))
        .select(col("key_a"), col("name_a"), col("key_b"), col("name_b"),
          levenshtein(col("name_a"), col("name_b")).cast("long").as("dist"))
      // r20 (guide §2.4): the former scored.unionByName(scored.select(…))
      // re-executed the WHOLE join branch — every levenshtein evaluated
      // twice (two BroadcastHashJoin subtrees in the before-plan). The
      // in-row 2-element explode emits both directions from ONE scored
      // row: same row multiset, half the edit-distance work, one branch.
      val mirrored = scored.select(explode(array(
          struct(col("key_a"), col("name_a"), col("key_b"), col("name_b"), col("dist")),
          struct(col("key_b").as("key_a"), col("name_b").as("name_a"),
            col("key_a").as("key_b"), col("name_a").as("name_b"), col("dist")))).as("m"))
        .select(col("m.key_a").as("key_a"), col("m.name_a").as("name_a"),
          col("m.key_b").as("key_b"), col("m.name_b").as("name_b"),
          col("m.dist").as("dist"))
      // best match = min(struct(dist, key_b)) — partial-agg friendly
      // (map-side combine), where a row_number window would sort every
      // candidate group after the shuffle
      mirrored.groupBy(col("key_a"))
        .agg(min(struct(col("dist"), col("key_b"), col("name_a"))).as("s"))
        .select(col("key_a"), col("s.name_a").as("name_a"),
          col("s.key_b").as("best_match"), col("s.dist").as("dist"))
        .orderBy(col("key_a")).limit(100)
    }, Some(
      """WITH p AS (SELECT p_partkey, p_name, p_brand,
        |             string_split(p_name, ' ')[-1] AS blk FROM part),
        |cand AS (
        |  SELECT a.p_partkey AS key_a, a.p_name AS name_a, b.p_partkey AS key_b,
        |         CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
        |  FROM p a JOIN p b
        |    ON a.p_brand = b.p_brand AND a.blk = b.blk AND a.p_partkey <> b.p_partkey)
        |SELECT key_a, name_a, key_b AS best_match, dist
        |FROM cand QUALIFY row_number() OVER (PARTITION BY key_a ORDER BY dist, key_b) = 1
        |ORDER BY key_a LIMIT 100""".stripMargin)),

    QuerySpec("q164_containment", (s, dir) => {
      // shingle-containment dedup (|A∩B|/|A| ≥ 0.6): catches SUBSET
      // duplication — a doc quoted whole inside a larger one — which
      // symmetric Jaccard (q34) under-scores. Directed: both (a,b) and
      // (b,a) report when their containment holds. Same bucketed shape
      // as every dedup op: distinct shingles equi-join, per-doc sizes
      // broadcast back; q34's doc_id < 200 oracle-tier bound.
      val docs = Tables.documents(s, dir).filter(col("doc_id") < 200)
      val sh = Dedup.cacheScoped(docs.select(col("doc_id"),
        explode(array_distinct(
          graft.functions.Shingles.shingles(col("text"), 3))).as("sh")))
      val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
      val shared = sh.select(col("sh"), col("doc_id").as("doc_a"))
        .join(sh.select(col("sh"), col("doc_id").as("doc_b")), Seq("sh"))
        .filter(col("doc_a") =!= col("doc_b"))
        .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("n_shared"))
      shared.join(broadcast(sizes.select(col("doc_id").as("doc_a"), col("sz"))),
          Seq("doc_a"))
        .filter(col("n_shared").cast("double") / col("sz") >= 0.6)
        .select(col("doc_a"), col("doc_b"),
          pround(col("n_shared").cast("double") / col("sz"), 9).as("containment"))
        .orderBy(desc("containment"), col("doc_a"), col("doc_b"))
    }, Some(
      """WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
        |w AS (SELECT doc_id, list_filter(string_split_regex(
        |        regexp_replace(lower(text), '[^\p{L}\p{N}\s]', '', 'g'), '\s+'),
        |        x -> len(x) > 0) AS words FROM docs),
        |sh0 AS (SELECT doc_id, unnest(list_distinct(
        |         CASE WHEN len(words) = 0 THEN []
        |              ELSE [array_to_string(words[i:i+2], ' ')
        |                    FOR i IN generate_series(1, greatest(len(words) - 2, 1))] END)) AS sh
        |        FROM w),
        |sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh0 GROUP BY doc_id),
        |shared AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
        |  FROM sh0 a JOIN sh0 b USING (sh) WHERE a.doc_id <> b.doc_id GROUP BY 1, 2)
        |SELECT doc_a, doc_b, round(CAST(n_shared AS DOUBLE) / sz.sz, 9) AS containment
        |FROM shared JOIN sz ON sz.doc_id = doc_a
        |WHERE CAST(n_shared AS DOUBLE) / sz.sz >= 0.6
        |ORDER BY containment DESC, doc_a, doc_b""".stripMargin)),

    QuerySpec("q197_nfc_dedup", (s, dir) => {
      // q196 composed into q30's exact dedup — the integration the NFC
      // expression exists for: every 10th doc appears twice, once with
      // a DECOMPOSED accent (e+U+0301) and once PRECOMPOSED (é); dedup
      // on md5(NFC(text)) collapses each pair (raw md5(text) would
      // miss all of them), survivor = min key per content hash (q30's
      // single-shuffle min-struct discipline, hash keys can't skew).
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val planted = d.filter(col("doc_id") % 10 === 0)
      val a = planted.select(col("doc_id"),
        concat(col("text"), lit("e\u0301")).as("text"))
      val b = planted.select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit("\u00e9")).as("text"))
      d.filter(col("doc_id") % 10 =!= 0).unionByName(a).unionByName(b)
        .groupBy(md5(Extraction.nfc(col("text"))).as("h"))
        .agg(min(col("doc_id")).as("survivor"), count(lit(1)).as("n_copies"))
        .filter(col("n_copies") >= 2)
        .select(col("survivor"), col("n_copies"))
    }, Some(
      """WITH planted AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
        |corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0
        |  UNION ALL SELECT doc_id, text || 'e' || chr(769) FROM planted
        |  UNION ALL SELECT doc_id + 1000000, text || chr(233) FROM planted),
        |g AS (SELECT md5(nfc_normalize(text)) AS h, MIN(doc_id) AS survivor,
        |             COUNT(*) AS n_copies
        |      FROM corpus GROUP BY h)
        |SELECT survivor, CAST(n_copies AS BIGINT) AS n_copies FROM g
        |WHERE n_copies >= 2""".stripMargin)),

    QuerySpec("q218_dedup_yield", (s, dir) => {
      // dedup yield report — the capacity-planning readout run BEFORE
      // committing to a dedup pass ("what would q30 actually save"):
      // exact-dup group sizes rolled into a size histogram with docs
      // and characters removed per size class. The synthetic corpus
      // is dup-free, so every 10th doc is PLANTED as a copy (q197's
      // discipline) — the histogram then exercises both size classes.
      // Two partial aggs over one md5 shuffle (uniform by
      // construction); every number is an exact integer.
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), col("n_chars"))
      val corpus = d.unionByName(d.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"), col("n_chars")))
      val g = corpus
        .select(md5(col("text")).as("h"), col("n_chars"))
        .groupBy(col("h"))
        .agg(count(lit(1)).as("sz"), sum(col("n_chars")).as("chars"),
          max(col("n_chars")).as("keep_chars"))
      g.groupBy(col("sz"))
        .agg(count(lit(1)).as("n_groups"),
          sum(col("sz") - 1).as("docs_removed"),
          sum(col("chars") - col("keep_chars")).as("chars_removed"))
        .orderBy(col("sz"))
    }, Some(
      """WITH corpus AS (
        |  SELECT doc_id, text, n_chars FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text, n_chars FROM documents WHERE doc_id % 10 = 0),
        |g AS (SELECT md5(text) AS h, COUNT(*) AS sz, SUM(n_chars) AS chars,
        |        MAX(n_chars) AS keep_chars
        |      FROM corpus GROUP BY h)
        |SELECT sz, COUNT(*) AS n_groups,
        |  CAST(SUM(sz - 1) AS BIGINT) AS docs_removed,
        |  CAST(SUM(chars - keep_chars) AS BIGINT) AS chars_removed
        |FROM g GROUP BY sz ORDER BY sz""".stripMargin)),

    QuerySpec("q219_cross_source_dups", (s, dir) => {
      // cross-source duplication matrix — WHICH sources copy from
      // which (q132's shingle overlap scores fuzzy similarity; this
      // counts byte-exact shared content): distinct (content hash,
      // source) pairs self-joined on the hash, source-pair counts.
      // Every 10th doc is planted into the NEXT source (rotation
      // over the 20-source universe) so the matrix is exercised.
      // The join is bounded by Σ(sources-per-hash)² — content shared
      // by MANY sources is the skew case, the same AQE argument as
      // every content-keyed join. Top-10 copying pairs.
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"), col("source"))
      val srcNum = substring(col("source"), 4, 10).cast("int")
      val planted = d.filter(col("doc_id") % 10 === 0)
        .select(col("text"),
          concat(lit("src"), ((srcNum + 1) % 20).cast("string")).as("source"))
      val hs = Dedup.cacheScoped(d.select(col("text"), col("source"))
        .unionByName(planted)
        .select(md5(col("text")).as("h"), col("source").as("src"))
        .distinct())
      hs.select(col("h"), col("src").as("src_a"))
        .join(hs.select(col("h"), col("src").as("src_b")), Seq("h"))
        .filter(col("src_a") < col("src_b"))
        .groupBy(col("src_a"), col("src_b"))
        .agg(count(lit(1)).as("n_shared"))
        .orderBy(desc("n_shared"), col("src_a"), col("src_b")).limit(10)
    }, Some(
      """WITH planted AS (
        |  SELECT text, 'src' || CAST((CAST(substr(source, 4) AS INT) + 1) % 20 AS VARCHAR) AS source
        |  FROM documents WHERE doc_id % 10 = 0),
        |hs AS (SELECT DISTINCT md5(text) AS h, source AS src FROM (
        |         SELECT text, source FROM documents UNION ALL SELECT text, source FROM planted)),
        |p AS (SELECT a.src AS src_a, b.src AS src_b
        |      FROM hs a JOIN hs b ON a.h = b.h AND a.src < b.src)
        |SELECT src_a, src_b, COUNT(*) AS n_shared
        |FROM p GROUP BY 1, 2 ORDER BY n_shared DESC, src_a, src_b LIMIT 10""".stripMargin)),

    QuerySpec("q224_sorted_neighborhood", (s, dir) => {
      // sorted-neighborhood blocking dedup [EXT] (Hernández–Stolfo):
      // the classic record-linkage alternative to LSH blocking — sort
      // the corpus by a normalized key and compare each record ONLY to
      // its w nearest neighbors in sort order. Candidates are exactly
      // ≤ w·n regardless of skew (an LSH hot band can go quadratic;
      // the sorted window cannot). Global rank WITHOUT a global
      // window via the q25 dense-id two-pass (range-partitioned sort +
      // broadcast offsets — the terasort shape, legitimate at 100 TB);
      // neighbor pairs via a rid-div-w band equi-join (each row emits
      // its own and the next band key — never a theta join); verified
      // with exact word-set Jaccard (q34's array machinery, 1-shingle
      // word sets).
      val w = 4
      val docs = Tables.documents(s, dir).select(col("doc_id"),
        substring(regexp_replace(lower(col("text")), "[^a-z0-9]", ""), 1, 32).as("nk"),
        graft.functions.Shingles.shingles(col("text"), 1, distinct = true).as("ws"))
      val ranked = graft.operators.DocPipeline.withDenseIds(
        docs, struct(col("nk"), col("doc_id")), "rid")
      val x = Dedup.cacheScoped(ranked.select(col("doc_id"), col("rid"), col("ws")))
      val aExp = x.select(col("rid").as("rid_a"), col("doc_id").as("id_a"),
          col("ws").as("ws_a"), floor(col("rid") / lit(w.toDouble)).as("b0"))
        .withColumn("jb", explode(array(col("b0"), col("b0") + 1))).drop("b0")
      val bSide = x.select(floor(col("rid") / lit(w.toDouble)).as("jb"),
        col("rid").as("rid_b"), col("doc_id").as("id_b"), col("ws").as("ws_b"))
      aExp.join(bSide, Seq("jb"))
        .filter((col("rid_b") - col("rid_a")).between(1, w))
        .filter(size(array_union(col("ws_a"), col("ws_b"))) > 0)
        .select(col("id_a"), col("id_b"),
          (size(array_intersect(col("ws_a"), col("ws_b"))).cast("double") /
            size(array_union(col("ws_a"), col("ws_b")))).as("jaccard"))
        .filter(col("jaccard") > 0)
        .orderBy(desc("jaccard"), col("id_a"), col("id_b")).limit(20)
        .select(col("id_a"), col("id_b"), pround(col("jaccard"), 9).as("jaccard"))
    }, Some(
      """WITH docs AS (SELECT doc_id,
        |        substring(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'), 1, 32) AS nk,
        |        list_distinct(list_filter(string_split_regex(
        |          regexp_replace(lower(text), '[^\p{L}\p{N}\s]', '', 'g'), '\s+'),
        |          x -> len(x) > 0)) AS ws
        |      FROM documents),
        |r AS (SELECT doc_id, ws, row_number() OVER (ORDER BY nk, doc_id) - 1 AS rid
        |      FROM docs),
        |cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.ws AS wa, b.ws AS wb
        |         FROM r a JOIN r b ON b.rid - a.rid BETWEEN 1 AND 4),
        |j AS (SELECT id_a, id_b,
        |        CAST(len(list_intersect(wa, wb)) AS DOUBLE)
        |          / len(list_distinct(list_concat(wa, wb))) AS jaccard
        |      FROM cand WHERE len(list_distinct(list_concat(wa, wb))) > 0)
        |SELECT id_a, id_b, round(jaccard, 9) AS jaccard
        |FROM j WHERE jaccard > 0
        |ORDER BY jaccard DESC, id_a, id_b LIMIT 20""".stripMargin)),

    QuerySpec("q303_cross_source_dups", (s, dir) => {
      // cross-source duplicate contamination matrix [EXT] — which
      // sources copy from which: for every exact-dup group (md5 of
      // the text), the source×source matrix of duplicated doc pairs.
      // The provenance view the dedup family lacks (q30 counts dups,
      // q300 credits first owners; this localizes WHERE redundancy
      // comes from — the "CC dumps overlap with each other" audit).
      // Scale-safe by construction: docs aggregate to (hash, source)
      // COUNTS first, and only the count frames pair up — a dup group
      // with 10⁴ members contributes |sources|² rows, never C(10⁴,2)
      // pairs. Within-source pairs count C(n,2), cross-source n_a·n_b;
      // all exact integers.
      val hs = Dedup.cacheScoped(Tables.documents(s, dir)
        .select(md5(col("text")).as("h"), col("source"))
        .groupBy(col("h"), col("source")).agg(count(lit(1)).as("cnt")))
      val dupH = hs.groupBy(col("h"))
        .agg(sum(col("cnt")).as("tot"))
        .filter(col("tot") > 1)
        .select(col("h"))
      val d = hs.join(dupH, Seq("h"))
      val a = d.select(col("h"), col("source").as("src_a"), col("cnt").as("na"))
      val b = d.select(col("h"), col("source").as("src_b"), col("cnt").as("nb"))
      a.join(b, Seq("h"))
        .filter(col("src_a") <= col("src_b"))
        .select(col("h"), col("src_a"), col("src_b"),
          when(col("src_a") === col("src_b"),
              (col("na") * (col("na") - 1) / 2).cast("long"))
            .otherwise(col("na") * col("nb")).as("pairs"))
        .filter(col("pairs") > 0)
        .groupBy(col("src_a"), col("src_b"))
        .agg(countDistinct(col("h")).as("n_dup_groups"),
          sum(col("pairs")).as("n_doc_pairs"))
        .orderBy(col("src_a"), col("src_b"))
    }, Some(
      """WITH hs AS (SELECT md5(text) AS h, source, COUNT(*) AS cnt
        |  FROM documents GROUP BY 1, 2),
        |dup AS (SELECT h FROM hs GROUP BY h HAVING SUM(cnt) > 1),
        |d AS (SELECT hs.* FROM hs JOIN dup USING (h)),
        |p AS (SELECT a.h, a.source AS src_a, b.source AS src_b,
        |        CASE WHEN a.source = b.source THEN a.cnt * (a.cnt - 1) // 2
        |             ELSE a.cnt * b.cnt END AS pairs
        |      FROM d a JOIN d b ON a.h = b.h AND a.source <= b.source)
        |SELECT src_a, src_b, CAST(COUNT(DISTINCT h) AS BIGINT) AS n_dup_groups,
        |  CAST(SUM(pairs) AS BIGINT) AS n_doc_pairs
        |FROM p WHERE pairs > 0 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    QuerySpec("q308_dedup_savings", (s, dir) => {
      // exact-dedup savings by source [EXT] — the before/after yield
      // table a curation run reports: per source, docs and tokens
      // before exact dedup vs after GLOBAL keep-first (min doc_id per
      // md5 — a cross-source duplicate survives only in the source
      // that contributed it first, matching q303's provenance view).
      // One scan to per-doc rows, one hash-agg for keepers, one
      // aggregate — the q30 dedup shape rolled up to the curation
      // unit. All counts exact integers; fractions close pround(9).
      val d = Dedup.cacheScoped(Tables.documents(s, dir).select(
        col("doc_id"), col("source"), md5(col("text")).as("h"),
        TextAnalysis.wsTokenCount(col("text")).cast("long").as("ws")))
      val keep = d.groupBy(col("h")).agg(min(col("doc_id")).as("keep_id"))
      d.join(keep, Seq("h"))
        .withColumn("kept", col("doc_id") === col("keep_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("ws")).as("tokens"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("kept_docs"),
          sum(when(col("kept"), col("ws")).otherwise(0L)).as("kept_tokens"))
        .select(col("source"), col("n_docs"), col("tokens"), col("kept_docs"),
          col("kept_tokens"),
          pround(lit(1.0) - col("kept_tokens").cast("double")
            / col("tokens").cast("double"), 9).as("token_savings"))
        .orderBy(col("source"))
    }, Some(
      """WITH d AS (SELECT doc_id, source, md5(text) AS h,
        |    len(regexp_extract_all(text, '\S+')) AS ws FROM documents),
        |keep AS (SELECT h, MIN(doc_id) AS keep_id FROM d GROUP BY 1)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(ws) AS BIGINT) AS tokens,
        |  CAST(SUM(CASE WHEN d.doc_id = keep.keep_id THEN 1 ELSE 0 END) AS BIGINT)
        |    AS kept_docs,
        |  CAST(SUM(CASE WHEN d.doc_id = keep.keep_id THEN ws ELSE 0 END) AS BIGINT)
        |    AS kept_tokens,
        |  round(1.0 - CAST(SUM(CASE WHEN d.doc_id = keep.keep_id THEN ws ELSE 0 END)
        |      AS DOUBLE) / CAST(SUM(ws) AS DOUBLE), 9) AS token_savings
        |FROM d JOIN keep USING (h) GROUP BY 1 ORDER BY source""".stripMargin)),

    QuerySpec("q314_jw_linkage", (s, dir) => {
      // Jaro–Winkler fuzzy linkage over part names [EXT] — the
      // prefix-weighted scorer record linkage prefers for NAMES where
      // q158's levenshtein treats all positions equally (JW's Winkler
      // boost rewards shared prefixes, the high-signal region of
      // entity names). Powered by the new native codegen expression
      // (Strings.jaroWinkler — Spark has no built-in; the O(|a|·w)
      // loop compiles into the stage as one static call), verified
      // term-for-term against DuckDB's jaro_winkler_similarity.
      // Brand blocking bounds candidates to Σ|brand|² (q158's
      // pigeonhole discipline — never all-pairs); key_a < key_b
      // halves the frame; ROUNDED scores order the top-20 totally.
      val p = Tables.part(s, dir)
        .select(col("p_partkey"), col("p_name"), col("p_brand"))
      // r20 (guide §2.6 stragglers / the documentsFanned discipline):
      // part is one parquet row group, so the broadcast-join PROBE side
      // was ONE scan task — the whole Σ|brand-block|² pair stream and
      // every JW evaluation serialized on one core (solo 3.6 s at 32c
      // with 31 cores idle). Fanning the probe rows round-robin costs
      // one ~20k-row exchange of (brand, key, name) and runs the pair
      // generation + JW at full width; per-row join work (|block| JW
      // gates) dwarfs the shuffled bytes at ANY scale, and
      // defaultParallelism tracks the session, not this box.
      val a = p.select(col("p_brand"), col("p_partkey").as("key_a"),
        col("p_name").as("name_a"))
        .repartition(s.sparkContext.defaultParallelism)
      val b = p.select(col("p_brand"), col("p_partkey").as("key_b"),
        col("p_name").as("name_b"))
      // length-ratio prune BEFORE the JW loop: m ≤ min(|a|,|b|) bounds
      // jaro ≤ (2 + min/max)/3 and the Winkler boost is monotone
      // (jw ≤ 0.6·j + 0.4), so jw ≥ 0.93 ⟹ min/max ≥ 0.65 — the
      // conjunct short-circuits codegen past the O(|a|·w) match loop
      // for length-mismatched pairs at zero recall loss (implied by
      // the threshold, so the oracle needs no twin)
      val lenOk = least(length(col("name_a")), length(col("name_b")))
        .cast("double") * 3.0 >=
        greatest(length(col("name_a")), length(col("name_b")))
          .cast("double") * 1.95
      // ONE filter with explicit conjunct order — And short-circuits
      // left-to-right in codegen, so the O(1) key/length tests gate the
      // O(|a|·w) JW loop; written as separate .filter calls the
      // optimizer merged them JW-first (measured 2× slower). The round
      // is the DIRECT floor form, not pround: jw ∈ [0,1] can never
      // reach pround's 2^52 overflow branch, and the guard's CASE
      // would inline the expensive JW call twice in the generated
      // join-condition code (no CSE there — measured another 1.5×).
      val jwCol = (floor(
        graft.functions.Strings.jaroWinkler(col("name_a"), col("name_b"))
          * 1e9 + 0.5).cast("double") / 1e9)
      a.join(b, Seq("p_brand"))
        .filter(col("key_a") < col("key_b") && lenOk && jwCol >= 0.93)
        .withColumn("jw", jwCol)
        .select(col("key_a"), col("key_b"), col("p_brand"), col("jw"))
        .orderBy(desc("jw"), col("key_a"), col("key_b")).limit(20)
    }, Some(
      """SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
        |  a.p_brand AS p_brand,
        |  round(jaro_winkler_similarity(a.p_name, b.p_name), 9) AS jw
        |FROM part a JOIN part b
        |  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
        |WHERE round(jaro_winkler_similarity(a.p_name, b.p_name), 9) >= 0.93
        |ORDER BY jw DESC, key_a, key_b LIMIT 20""".stripMargin)),

    QuerySpec("q318_dup_cluster_sizes", (s, dir) => {
      // duplicate-cluster size profile [EXT] — where the duplicate
      // MASS concentrates: exact-dup groups (md5) bucketed by size
      // (1 / 2 / 3-5 / 6+), with doc and token mass per bucket — the
      // "is duplication a long tail of pairs or a few megaclusters"
      // diagnostic that picks between q308's keep-first (fine for
      // pairs) and manual review (megaclusters are usually template
      // text). Two hash-aggs; all exact integers until the one share
      // division.
      val d = Tables.documents(s, dir).select(md5(col("text")).as("h"),
        TextAnalysis.wsTokenCount(col("text")).cast("long").as("ws"))
      val g = d.groupBy(col("h"))
        .agg(count(lit(1)).as("sz"), sum(col("ws")).as("tok"))
      val tot = g.agg(sum(col("tok")).as("all_tok"))
      g.withColumn("bucket",
          when(col("sz") === 1, "1").when(col("sz") === 2, "2")
            .when(col("sz") <= 5, "3-5").otherwise("6+"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_groups"), sum(col("sz")).as("n_docs"),
          sum(col("tok")).as("tokens"))
        .crossJoin(broadcast(tot))
        .select(col("bucket"), col("n_groups"), col("n_docs"), col("tokens"),
          pround(col("tokens").cast("double") / col("all_tok").cast("double"), 9)
            .as("token_share"))
        .orderBy(col("bucket"))
    }, Some(
      """WITH d AS (SELECT md5(text) AS h,
        |    len(regexp_extract_all(text, '\S+')) AS ws FROM documents),
        |g AS (SELECT h, COUNT(*) AS sz, SUM(ws) AS tok FROM d GROUP BY 1),
        |tot AS (SELECT SUM(tok) AS all_tok FROM g),
        |b AS (SELECT CASE WHEN sz = 1 THEN '1' WHEN sz = 2 THEN '2'
        |             WHEN sz <= 5 THEN '3-5' ELSE '6+' END AS bucket,
        |        sz, tok FROM g)
        |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_groups,
        |  CAST(SUM(sz) AS BIGINT) AS n_docs, CAST(SUM(tok) AS BIGINT) AS tokens,
        |  round(CAST(SUM(tok) AS DOUBLE) / CAST(tot.all_tok AS DOUBLE), 9)
        |    AS token_share
        |FROM b CROSS JOIN tot GROUP BY bucket, tot.all_tok
        |ORDER BY bucket""".stripMargin)),

    QuerySpec("q333_threshold_curve", (s, dir) => {
      // dedup threshold sensitivity curve [EXT] — how many near-dup
      // pairs each Jaccard cutoff would flag: the curve an operator
      // reads BEFORE committing to a threshold (a cliff between 0.5
      // and 0.7 means the corpus has a natural dup/distinct gap; a
      // smooth slope means any cutoff is arbitrary). One pass of the
      // q34 gram-blocked pair machinery at the LOWEST cutoff, then
      // all five counts as conditional sums in ONE 1-row agg (q302's
      // unpivot shape) — the pair frame is computed once, never per
      // threshold.
      val ts = Seq(0.1, 0.3, 0.5, 0.7, 0.9)
      val pairs = Dedup.ngramJaccardPairs(
        Tables.documents(s, dir).filter(col("doc_id") < 200),
        col("text"), col("doc_id"), k = 2, minJaccard = 0.1)
      val aggs = ts.map(t =>
        sum(when(col("jaccard") >= t, 1L).otherwise(0L))
          .as(s"c${(t * 10).toInt}"))
      val wide = pairs.agg(aggs.head, aggs.tail: _*)
      wide.select(explode(array(ts.map(t =>
          struct(lit(t).as("threshold"),
            coalesce(col(s"c${(t * 10).toInt}"), lit(0L))
              .as("n_pairs"))): _*)).as("r"))
        .select(col("r.threshold").as("threshold"), col("r.n_pairs").as("n_pairs"))
        .orderBy(col("threshold"))
    }, Some(
      """WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
        |w AS (SELECT doc_id,
        |        list_filter(string_split_regex(
        |          regexp_replace(lower(text), '[^\p{L}\p{N}\s]', '', 'g'), '\s+'),
        |          x -> len(x) > 0) AS words
        |      FROM docs),
        |sh AS (SELECT doc_id,
        |         list_distinct([array_to_string(words[i:i+1], ' ')
        |                        FOR i IN generate_series(1, greatest(len(words) - 1, 1))]) AS sh
        |       FROM w WHERE len(words) > 0),
        |f AS (SELECT CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.sh, b.sh))) AS j
        |      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.1),
        |t AS (SELECT unnest([0.1, 0.3, 0.5, 0.7, 0.9]) AS threshold)
        |SELECT t.threshold, CAST(COUNT(f.j) AS BIGINT) AS n_pairs
        |FROM t LEFT JOIN f ON f.j >= t.threshold
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    QuerySpec("q337_phash_dedup", (s, dir) => {
      // perceptual-hash near-dup over REAL pixels (r15 promotion of the
      // stub hash input — the last honest stub in the multimodal row):
      // per doc a real 8×8 black/white PNG is ENCODED whose cell
      // pattern encodes p = (doc_id/4) % 64 in a 10×-repetition code
      // (cells 0–59; 60–61 forced bright and 62–63 forced dark keep
      // the aHash mean strictly interior) and whose variant
      // v = doc_id % 4 flips a fixed cell set (∅/{7}/{13,47}/
      // {5,23,58}). JdkImageCodec.averagePHash64 recovers the 64-bit
      // average hash from ACTUAL decoded pixels. TWO TIERS, the
      // production image-dedup structure: identical hashes collapse in
      // an exact self-equi-join FIRST (hamming-0 pairs, one shuffle on
      // the hash), and the 4×16-bit Hamming band join (pigeonhole: ≤3
      // flips leave ≥1 band intact, so it provably finds EVERY pair at
      // hamming ≤ 3) runs over DISTINCT hashes only — on a real crawl
      // the dominant collision mass (blank pages, logos, tracking
      // pixels: byte-identical renders) never enters the candidate
      // join, whose size becomes Σ|distinct-hash band bucket|², not
      // Σ|doc band bucket|². Distinct p's differ in ≥10 cells, minus
      // ≤6 variant flips still > 3 — so ONLY same-p pairs with variant
      // symmetric-difference ≤ 3 survive, which is exactly the
      // arithmetic the oracle replays. A decode slip, wrong grid mean,
      // bit-order bug, or banding break changes the pair set and the
      // hash.
      val gen = udf((id: Long) => {
        val p = ((id / 4) % 64).toInt
        val flips: Set[Int] = (id % 4).toInt match {
          case 0 => Set.empty
          case 1 => Set(7)
          case 2 => Set(13, 47)
          case _ => Set(5, 23, 58)
        }
        val img = new java.awt.image.BufferedImage(8, 8,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        for (i <- 0 until 64) {
          val base = if (i < 60) ((p >> (i / 10)) & 1) == 1 else i < 62
          val bright = base ^ flips.contains(i)
          img.setRGB(i % 8, i / 8, if (bright) 0xFFFFFF else 0x000000)
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        bos.toByteArray
      })
      val ph64 = udf((b: Array[Byte]) =>
        graft.operators.Multimodal.JdkImageCodec.averagePHash64(b)
          .map(java.lang.Long.valueOf).orNull)
      Dedup.phashNearDups(Tables.documentsFanned(s, dir)
          .select(col("doc_id"), ph64(gen(col("doc_id"))).as("phash")))
        .orderBy(col("hamming"), col("key_a"), col("key_b")).limit(50)
    },
    // q337: real-pixel aHash near-dup — the image pattern encodes
    // p=(doc_id/4)%64 in a 10×-repetition code (cross-p Hamming ≥ 10-6
    // > 3) and variant v=doc_id%4 flips the fixed cell sets
    // ∅/{7}/{13,47}/{5,23,58}; surviving pairs are exactly same-p with
    // |S_va Δ S_vb| ≤ 3, which this oracle replays
    // r16 star-edge semantics: identical-hash groups (= same (p, v))
    // emit (group-min, member) stars; near hash pairs emit ONE edge
    // between the two groups' min doc_ids. Variant flip sets are
    // disjoint with |set| = v, so hamming(a, b) = v_a + v_b for a ≠ b.
    Some(
      """WITH d AS (SELECT doc_id, (doc_id // 4) % 64 AS p, doc_id % 4 AS v
        |           FROM documents),
        |g AS (SELECT p, v, MIN(doc_id) AS m FROM d GROUP BY 1, 2),
        |ex AS (SELECT g.m AS key_a, d.doc_id AS key_b, 0 AS hamming
        |       FROM d JOIN g USING (p, v) WHERE d.doc_id <> g.m),
        |nr AS (SELECT least(a.m, b.m) AS key_a, greatest(a.m, b.m) AS key_b,
        |         a.v + b.v AS hamming
        |       FROM g a JOIN g b ON a.p = b.p AND a.v < b.v
        |       WHERE a.v + b.v <= 3)
        |SELECT key_a, key_b, CAST(hamming AS BIGINT) AS hamming
        |FROM (SELECT * FROM ex UNION ALL SELECT * FROM nr)
        |ORDER BY hamming, key_a, key_b LIMIT 50""".stripMargin)),

    QuerySpec("q353_hash_collisions", (s, dir) => {
      // birthday audit of the 32-bit hash prefix [EXT] — the engine's
      // md5-prefix idioms (q161 KMV, q306 shards, q307 sampling) rely
      // on a 32-bit uniform; this VALIDATES that on live keys:
      // observed colliding pairs Σ C(cnt,2) over 32-bit buckets vs
      // the birthday expectation n(n−1)/2³³ — an observed/expected
      // ratio far from 1 means the hash (or the keyspace) is not
      // behaving. One hash-agg over the key frame, exact integers to
      // the final ratio.
      val h = Tables.lineitem(s, dir)
        .select(conv(substring(md5(concat_ws("_", col("l_orderkey"),
          col("l_linenumber"))), 1, 8), 16, 10).cast("long").as("b"))
      val buckets = h.groupBy(col("b")).agg(count(lit(1)).as("cnt"))
      buckets.agg(sum(col("cnt")).as("n"),
          count(lit(1)).as("n_buckets"),
          sum((col("cnt") * (col("cnt") - 1) / 2).cast("long")).as("observed"))
        .select(col("n"), col("n_buckets"), col("observed"),
          pround(col("n").cast("double") * (col("n").cast("double") - 1.0)
            / 8589934592.0, 9).as("expected"),
          when(col("observed") > 0,
            pround(col("observed").cast("double")
              / (col("n").cast("double") * (col("n").cast("double") - 1.0)
                / 8589934592.0), 9)).as("obs_over_exp"))
    }, Some(
      """WITH h AS (SELECT CAST(CAST(concat('0x', substr(md5(
        |    CAST(l_orderkey AS VARCHAR) || '_' || CAST(l_linenumber AS VARCHAR)),
        |    1, 8)) AS UINT64) AS BIGINT) AS b FROM lineitem),
        |buckets AS (SELECT b, COUNT(*) AS cnt FROM h GROUP BY 1),
        |a AS (SELECT SUM(cnt) AS n, COUNT(*) AS n_buckets,
        |        SUM(cnt * (cnt - 1) // 2) AS observed FROM buckets)
        |SELECT CAST(n AS BIGINT) AS n, CAST(n_buckets AS BIGINT) AS n_buckets,
        |  CAST(observed AS BIGINT) AS observed,
        |  round(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)
        |    / 8589934592.0, 9) AS expected,
        |  CASE WHEN observed > 0 THEN
        |    round(CAST(observed AS DOUBLE) / (CAST(n AS DOUBLE)
        |      * (CAST(n AS DOUBLE) - 1.0) / 8589934592.0), 9) END AS obs_over_exp
        |FROM a""".stripMargin)),
  )
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{TextAnalysis, Vectors}

/** Deduplication operators for training-data pipelines — the north-star
  * extension surface (BASELINE.json): exact, normalized-exact, MinHash-LSH,
  * SimHash, n-gram Jaccard, embedding-cosine near-dup.
  *
  * Scale notes (100 TB design):
  *  - every variant is a pure shuffle-on-key plan: hash/signature columns
  *    are computed map-side (codegen'd), candidate generation is a
  *    `groupBy`/self-equi-join on the signature — never an O(n²) cross
  *    join of the full corpus;
  *  - LSH banding turns near-dup search into an equi-join on
  *    (band, bucket-hash), so AQE/skew-join handles hot buckets;
  *  - keep-one selection is `min(key) per group` (partial-agg friendly),
  *    not a window over the whole corpus, unless a full ranking is asked.
  *
  * The reference itself only dedups URLs
  * (`/root/reference/examples/get_pdf_links_from_cc.py:126` —
  * `dropDuplicates`); everything else here is [EXT].
  */
object Dedup {

  /** Signature frames are persisted because each dedup operator references
    * them from several join branches (exchange reuse does not unify them —
    * measured 4× scans unpersisted). ContextCleaner GC alone lets cached
    * frames accumulate in a long-lived session, so this registry keeps a
    * deterministic bound: the oldest cached frame unpersists once more
    * than `maxCached` newer ones exist (an evicted frame that is
    * re-executed just recomputes — correctness unaffected). */
  private val cachedSigs = new java.util.ArrayDeque[DataFrame]
  private[operators] val maxCached = 4
  private[graft] def cacheScoped(df: DataFrame): DataFrame = synchronized {
    val p = df.persist()
    cachedSigs.addLast(p)
    while (cachedSigs.size > maxCached) cachedSigs.removeFirst().unpersist(false)
    p
  }

  /** Unpersist every signature frame this object still tracks — call at
    * the end of a dedup batch in a long-lived session. */
  def unpersistAll(): Unit = synchronized {
    while (!cachedSigs.isEmpty) cachedSigs.removeFirst().unpersist(false)
  }

  // -------------------------------------------------------------- exact

  /** Exact dedup on raw content: keep the row with the smallest key per
    * identical payload. Equivalent plan to `dropDuplicates` but with a
    * deterministic survivor, which `dropDuplicates` does not guarantee.
    *
    * One content shuffle (the [[lineDedup]] shape): the whole row rides
    * a `min(struct(key, row))` aggregate keyed on the payload hash —
    * struct comparison is lexicographic, so leading with `key` selects
    * the smallest-key row and partial aggregation combines duplicate
    * groups map-side before the shuffle. The former
    * groupBy + semi-join-back formulation shuffled the corpus twice.
    *
    * Semantics pinned by DedupSpec: NULL payloads form one dup group
    * (md5(null) = null groups together) and keep their smallest-key row
    * — the old semi-join formulation silently DROPPED every null-payload
    * row, which was the bug, not the spec. Requirement: every column of
    * `df` must be orderable (no MapType) since the full row rides the
    * min(struct); project maps away before deduping. */
  def exact(df: DataFrame, payload: Column, key: Column): DataFrame = {
    val fields = df.columns
    val packed = struct(
      (key.as("__k") +: fields.toIndexedSeq.map(c => col(c).as(s"__f_$c"))): _*)
    df.groupBy(md5(payload).as("__h"))
      .agg(min(packed).as("__s"))
      .select(fields.toIndexedSeq.map(c => col(s"__s.__f_$c").as(c)): _*)
  }

  /** Groups of exact duplicates (size > 1) — the audit view. */
  def exactGroups(df: DataFrame, payload: Column, key: Column): DataFrame =
    df.groupBy(md5(payload).as("content_md5"))
      .agg(count(lit(1)).as("n_dups"), min(key).as("first_key"))
      .filter(col("n_dups") > 1)

  /** Normalized-exact dedup: same, over normalization (lowercase, strip
    * punctuation, collapse whitespace) — catches trivial near-dups. */
  def normalizedGroups(df: DataFrame, payload: Column, key: Column): DataFrame =
    df.groupBy(TextAnalysis.fingerprintMd5(payload).as("fp"))
      .agg(count(lit(1)).as("n_dups"), min(key).as("first_key"))
      .filter(col("n_dups") > 1)

  // ------------------------------------------------------------- shingles

  /** Word k-shingles of normalized text as an array column — declarative
    * higher-order-function variant. NOTE: higher-order lambdas evaluate
    * interpreted (no codegen); the dedup operators below shingle inside
    * their scalar UDFs instead (measured ~10× faster). Kept as the
    * composable Column API. */
  def shingles(payload: Column, k: Int): Column = {
    val toks = split(TextAnalysis.normalizeText(payload), " ")
    filter(
      transform(sequence(lit(0), greatest(size(toks) - k, lit(0))),
        i => array_join(slice(toks, i + 1, lit(k)), " ")),
      s => length(s) > 0)
  }

  /** Scalar twin of [[shingles]]: identical normalization (lowercase,
    * strip non-letter/digit, collapse whitespace) and windowing. */
  def shingleStrings(text: String, k: Int): Seq[String] = {
    if (text == null) return Nil
    val words = text.toLowerCase.replaceAll("[^\\p{L}\\p{N}\\s]", "")
      .split("\\s+").filter(_.nonEmpty)
    if (words.isEmpty) return Nil
    val last = math.max(words.length - k, 0)
    (0 to last).map(i => words.slice(i, i + k).mkString(" ")).filter(_.nonEmpty)
  }

  // ---------------------------------------------------------- minhash-lsh

  /** MinHash signature + LSH band-bucket hashes in ONE pass over the
    * shingle set. A pure-expression formulation (numHashes × array_min ×
    * transform) looks elegant but re-evaluates the whole signature
    * expression wherever the column is referenced (projection collapse) —
    * measured 50×+ slower. The scalar loop hashes each shingle once and
    * updates all minima; per-hash "permutations" are splitmix64 mixes of
    * one base FNV-1a hash (standard one-hash minhash construction). */
  def minhashSigBands(shingles: Seq[String], numHashes: Int, bands: Int): (Array[Long], Array[Long]) = {
    val sig = Array.fill(numHashes)(Long.MaxValue)
    if (shingles != null) shingles.foreach { s =>
      val base = fnv1a64(s)
      var i = 0
      while (i < numHashes) {
        var h = base ^ (0x9E3779B97F4A7C15L * (i + 1))
        h ^= (h >>> 33); h *= 0xFF51AFD7ED558CCDL; h ^= (h >>> 33)
        if (h < sig(i)) sig(i) = h
        i += 1
      }
    }
    val rows = numHashes / bands
    val bandHash = Array.tabulate(bands) { b =>
      var h = 0xcbf29ce484222325L
      var i = b * rows
      while (i < (b + 1) * rows) { h ^= sig(i); h *= 0x100000001b3L; i += 1 }
      h
    }
    (sig, bandHash)
  }

  /** Near-duplicate candidate pairs via MinHash + LSH banding.
    *
    * signature (numHashes) → `bands` bands of `numHashes/bands` rows each;
    * band-bucket key = hash(band values); candidates = self-equi-join on
    * (band_id, bucket). Returns distinct (key_a < key_b) pairs with their
    * estimated Jaccard (fraction of matching minhashes).
    */
  def minhashCandidates(df: DataFrame, payload: Column, key: Column,
                        shingleK: Int = 3, numHashes: Int = 32,
                        bands: Int = 8, minJaccard: Double = 0.5): DataFrame = {
    // persist: the self-join + verify re-join reference this frame 4×,
    // and Spark's exchange reuse does not unify the branches (measured
    // 4 full scans). ContextCleaner unpersists once unreferenced.
    val sig = cacheScoped(df.select(key.as("k"),
      graft.functions.Shingles.minhashSigBands(payload, shingleK, numHashes, bands).as("mh")))
    // Candidate generation carries ONLY (band, bucket, key): the 256-byte
    // signatures must not flow through the bucket join + distinct (measured
    // 10×+ slower when they do). Pairs are deduped narrow, then signatures
    // re-joined once per surviving pair for verification.
    val banded = sig.select(col("k"), posexplode(col("mh._2")))
      .select(col("k"), col("pos").as("band"), col("col").as("bucket"))
    val a = banded.select(col("band"), col("bucket"), col("k").as("key_a"))
    val b = banded.select(col("band"), col("bucket"), col("k").as("key_b"))
    val pairs = a.join(b, Seq("band", "bucket"))
      .filter(col("key_a") < col("key_b"))
      .select(col("key_a"), col("key_b")).distinct()
    val sigs = sig.select(col("k"), col("mh._1").as("sig"))
    pairs
      .join(sigs.select(col("k").as("key_a"), col("sig").as("sig_a")), Seq("key_a"))
      .join(sigs.select(col("k").as("key_b"), col("sig").as("sig_b")), Seq("key_b"))
      .select(col("key_a"), col("key_b"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), b => b))
          .cast("double") / numHashes).as("est_jaccard"))
      .filter(col("est_jaccard") >= minJaccard)
  }

  /** Incremental near-dup dedup: flag NEW documents that near-duplicate
    * an already-indexed corpus — the production shape of MinHash dedup
    * (a daily crawl lands against a historical signature index; the
    * index-vs-index pairs were already resolved when the index was
    * built, so recomputing them would be O(corpus) wasted work per
    * increment).
    *
    * Scale shape: the index side arrives as a PRECOMPUTED signature
    * frame `(k, mh)` (written once by [[signatures]] at index-build
    * time and read back from its store); only the increment is shingled.
    * The band join is new×index only — its size tracks the increment,
    * not the corpus — and the verify re-join fetches index signatures
    * for surviving candidates alone. Returns (new_key, index_key,
    * est_jaccard). */
  def incrementalMinhashDups(newDocs: DataFrame, payload: Column, key: Column,
                             indexSigs: DataFrame,
                             shingleK: Int = 3, numHashes: Int = 32,
                             bands: Int = 8, minJaccard: Double = 0.5): DataFrame = {
    val newSig = cacheScoped(newDocs.select(key.as("k"),
      graft.functions.Shingles.minhashSigBands(payload, shingleK, numHashes, bands).as("mh")))
    val idxSig = cacheScoped(indexSigs.select(col("k"), col("mh")))
    def banded(sig: DataFrame) = sig.select(col("k"), posexplode(col("mh._2")))
      .select(col("k"), col("pos").as("band"), col("col").as("bucket"))
    val pairs = banded(newSig).select(col("band"), col("bucket"), col("k").as("new_key"))
      .join(banded(idxSig).select(col("band"), col("bucket"), col("k").as("index_key")),
        Seq("band", "bucket"))
      .select(col("new_key"), col("index_key")).distinct()
    pairs
      .join(newSig.select(col("k").as("new_key"), col("mh._1").as("sig_a")), Seq("new_key"))
      .join(idxSig.select(col("k").as("index_key"), col("mh._1").as("sig_b")), Seq("index_key"))
      .select(col("new_key"), col("index_key"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), b => b))
          .cast("double") / numHashes).as("est_jaccard"))
      .filter(col("est_jaccard") >= minJaccard)
  }

  /** The signature frame an incremental index stores: `(k, mh)` with
    * `mh._1` = minhash signature, `mh._2` = band-bucket hashes. */
  def signatures(docs: DataFrame, payload: Column, key: Column,
                 shingleK: Int = 3, numHashes: Int = 32, bands: Int = 8): DataFrame =
    docs.select(key.as("k"),
      graft.functions.Shingles.minhashSigBands(payload, shingleK, numHashes, bands).as("mh"))

  // -------------------------------------------------------------- simhash

  /** Deterministic 64-bit FNV-1a string hash — the per-shingle hash under
    * [[simhash]]. Engine-independent (pure arithmetic), testable. */
  def fnv1a64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h ^= s.charAt(i).toLong; h *= 0x100000001b3L; i += 1 }
    h
  }

  /** 64-bit SimHash of a shingle set: per-bit majority vote of FNV-1a
    * shingle hashes. Single-pass UDF (a 64-way expression formulation
    * explodes the codegen'd expression tree; the deterministic scalar
    * loop is both faster and clearer). */
  def simhashOf(shingles: Seq[String]): Long = {
    val votes = new Array[Int](64)
    shingles.foreach { s =>
      val h = fnv1a64(s)
      var b = 0
      while (b < 64) { if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1; b += 1 }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** SimHash column over an array-of-shingles column. */
  def simhash(shingleCol: Column): Column =
    udf((sh: Seq[String]) => simhashOf(if (sh == null) Nil else sh)).apply(shingleCol)

  /** Hamming distance between two 64-bit simhashes. */
  def hammingDist(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup candidates: block on the 4 16-bit quarters (any two
    * docs within Hamming distance 3 share at least one identical quarter —
    * pigeonhole), then verify the full distance. Equi-join, no cross join. */
  def simhashCandidates(df: DataFrame, payload: Column, key: Column,
                        shingleK: Int = 3, maxHamming: Int = 3): DataFrame = {
    val sh = cacheScoped(df.select(key.as("k"),
      graft.functions.Shingles.simhash(payload, shingleK).as("sh")))
    // narrow candidate pairs first, then one signature re-join (see
    // minhashCandidates for why signatures stay out of the bucket join)
    val blocked = sh.select(col("k"),
      posexplode(array((0 until 4).map(q =>
        shiftright(col("sh"), q * 16).bitwiseAND(0xFFFFL)): _*)))
      .select(col("k"), col("pos").as("q"), col("col").as("block"))
    val a = blocked.select(col("q"), col("block"), col("k").as("key_a"))
    val b = blocked.select(col("q"), col("block"), col("k").as("key_b"))
    val pairs = a.join(b, Seq("q", "block"))
      .filter(col("key_a") < col("key_b"))
      .select(col("key_a"), col("key_b")).distinct()
    pairs
      .join(sh.select(col("k").as("key_a"), col("sh").as("sh_a")), Seq("key_a"))
      .join(sh.select(col("k").as("key_b"), col("sh").as("sh_b")), Seq("key_b"))
      .select(col("key_a"), col("key_b"), hammingDist(col("sh_a"), col("sh_b")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  // -------------------------------------------------------- ngram jaccard

  /** Exact n-gram Jaccard similarity for candidate pairs: candidates from
    * shared-shingle blocking (equi-join on shingle), verified with exact
    * set Jaccard. `minShared` prunes the blocking join before the
    * expensive distinct (a doc pair must share >= minShared shingles). */
  def ngramJaccardPairs(df: DataFrame, payload: Column, key: Column,
                        k: Int = 3, minJaccard: Double = 0.5): DataFrame = {
    val sh = cacheScoped(df.select(key.as("kk"),
      graft.functions.Shingles.shingles(payload, k, distinct = true).as("sh")))
    // block on hashed shingles (8 bytes each, not full strings), dedupe
    // narrow pairs, then re-join the shingle sets once per pair
    val exploded = sh.select(col("kk"), explode(col("sh")).as("g"))
      .select(col("kk"), xxhash64(col("g")).as("gh"))
    val a = exploded.select(col("gh"), col("kk").as("key_a"))
    val b = exploded.select(col("gh"), col("kk").as("key_b"))
    val pairs = a.join(b, Seq("gh"))
      .filter(col("key_a") < col("key_b"))
      .select(col("key_a"), col("key_b")).distinct()
    pairs
      .join(sh.select(col("kk").as("key_a"), col("sh").as("sh_a")), Seq("key_a"))
      .join(sh.select(col("kk").as("key_b"), col("sh").as("sh_b")), Seq("key_b"))
      .select(col("key_a"), col("key_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b")))).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  // --------------------------------------------------- embedding near-dup

  /** Embedding-cosine near-duplicate pairs. Candidate generation via
    * random-hyperplane LSH over the embedding (sign-bit bucket), verify
    * with exact cosine; `bruteForce = true` bypasses LSH (small inputs /
    * recall oracle). */
  def embeddingNearDups(df: DataFrame, vec: Column, key: Column,
                        minCosine: Double, planes: Int = 8,
                        bruteForce: Boolean = false): DataFrame = {
    val base = df.select(key.as("k"), vec.as("v"))
    val pairs =
      if (bruteForce) {
        val a = base.select(col("k").as("key_a"), col("v").as("v_a"))
        val b = base.select(col("k").as("key_b"), col("v").as("v_b"))
        a.crossJoin(b).filter(col("key_a") < col("key_b"))
      } else {
        val withBucket = base.withColumn("bucket", Similarity.hyperplaneBucket(col("v"), planes))
        val a = withBucket.select(col("bucket"), col("k").as("key_a"), col("v").as("v_a"))
        val b = withBucket.select(col("bucket"), col("k").as("key_b"), col("v").as("v_b"))
        a.join(b, Seq("bucket")).filter(col("key_a") < col("key_b"))
          .select(col("key_a"), col("v_a"), col("key_b"), col("v_b")).distinct()
      }
    pairs.select(col("key_a"), col("key_b"), Vectors.cosine(col("v_a"), col("v_b")).as("cosine"))
      .filter(col("cosine") >= minCosine)
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication by clustering embeddings first and comparing only
    * within clusters. Every vector is assigned to its nearest centroid
    * (centroids broadcast — the corpus never shuffles for assignment;
    * distance is the codegen'd [[Vectors.l2Distance]] kernel and rank=1
    * compiles to WindowGroupLimit), then cosine pairs above `minCosine`
    * are emitted per cluster.
    *
    * Scale shape: the all-pairs O(n²) cosine scan becomes
    * Σ O(|cluster|²) — n²/k for k even clusters — and the pair
    * generation is a self-equi-join on cluster id, so AQE splits hot
    * clusters like any skewed shuffle join. The centroid set is small by
    * construction (k ≪ n); at 100 TB the only wide shuffle is the
    * within-cluster join, sized by the clustering granularity knob k.
    * The exact-cosine verify is the same bit-exact kernel as
    * [[embeddingNearDups]] (q35), so scores agree with the oracle. */
  def semanticDedup(df: DataFrame, vec: Column, key: Column,
                    centroids: DataFrame, cvec: Column, ckey: Column,
                    minCosine: Double): DataFrame = {
    val base  = df.select(key.as("k"), vec.as("v"))
    val cents = centroids.select(ckey.as("cluster"), cvec.as("cv"))
    val w = Window.partitionBy(col("k")).orderBy(col("dist"), col("cluster"))
    // cached because BOTH sides of the pair join read it — without it the
    // whole assignment pipeline (scan + broadcast NLJ + top-1) runs twice
    // (the signature-frame discipline used by every dedup operator here)
    val assigned = cacheScoped(base.crossJoin(broadcast(cents))
      .withColumn("dist", Vectors.l2Distance(col("v"), col("cv")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("cluster"), col("k"), col("v")))
    val a = assigned.select(col("cluster"), col("k").as("key_a"), col("v").as("v_a"))
    val b = assigned.select(col("cluster"), col("k").as("key_b"), col("v").as("v_b"))
    a.join(b, Seq("cluster")).filter(col("key_a") < col("key_b"))
      .select(col("cluster"), col("key_a"), col("key_b"),
        Vectors.cosine(col("v_a"), col("v_b")).as("cosine"))
      .filter(col("cosine") >= minCosine)
  }

  // ----------------------------------------------------------- line dedup

  /** Corpus-level line deduplication (the C4/RefinedWeb discipline: a line
    * that appears anywhere else in the corpus survives only at its first
    * occurrence). Input is a lines frame `(key, line_no, line)`; the
    * survivor of each distinct line is the lexicographically-smallest
    * `(key, line_no)` — selected with `min(struct(...))`, which is
    * partial-aggregation friendly (map-side combine before the one
    * shuffle on the line content). A window over `partitionBy(line)`
    * would sort every partition for a mostly-unique key space; the
    * grouped min does not.
    */
  def lineDedup(lines: DataFrame): DataFrame =
    lines.groupBy(col("line"))
      .agg(min(struct(col("key"), col("line_no"))).as("__s"))
      .select(col("__s.key").as("key"), col("__s.line_no").as("line_no"), col("line"))

  /** Reassemble per-key text from surviving lines, in line order
    * (collect_list is unordered — array_sort on the (line_no, line)
    * struct restores determinism, same discipline as doc reassembly).
    * Keys whose lines were all duplicates drop out (no rows to group). */
  def reassembleLines(kept: DataFrame, sep: String = "\n"): DataFrame =
    kept.groupBy(col("key"))
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("line_no"), col("line")))),
            x => x.getField("line")), sep).as("text"),
        count(lit(1)).cast("long").as("n_lines_kept"))

  /** Cross-document boilerplate removal (the RefinedWeb/C4 companion to
    * [[lineDedup]]): a line occurring in at least `minDocs` DISTINCT
    * documents is boilerplate (nav bars, cookie banners, license
    * headers) and is dropped from EVERY document — where lineDedup keeps
    * a first occurrence, this keeps none.
    *
    * Scale shape: the distinct-doc count is a two-level agg on line
    * content (map-side partial distinct), same one-content-shuffle floor
    * as lineDedup; the surviving boilerplate set is tiny by nature
    * (high-frequency lines are few) → broadcast LEFT ANTI, so the
    * corpus-sized lines frame is filtered map-side and never reshuffles
    * for the subtraction. */
  def dropCommonLines(lines: DataFrame, minDocs: Int): DataFrame = {
    val common = lines.groupBy(col("line"))
      .agg(countDistinct(col("key")).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select(col("line"))
    lines.join(broadcast(common), Seq("line"), "left_anti")
      .select(col("key"), col("line_no"), col("line"))
  }

  // ------------------------------------------------------ decontamination

  /** Benchmark decontamination: flag documents whose k-word shingles
    * overlap a benchmark (test-set) corpus — the standard n-gram-overlap
    * check run before training (e.g. GPT-3 §C / PaLM-style 13-gram scan;
    * k is a parameter because the synthetic corpus is tiny).
    *
    * Scale shape: the benchmark side is small by nature (test sets are
    * thousands of documents, not billions) → its distinct shingle set is
    * broadcast; the corpus side is map-side shingled and never shuffled
    * except the final per-document count on `key`. Overlap is counted on
    * DISTINCT shingles per document, so `overlap_ratio` is exact set
    * containment |doc ∩ bench| / |doc|.
    */
  def decontaminate(docs: DataFrame, payload: Column, key: Column,
                    bench: DataFrame, benchPayload: Column,
                    k: Int = 3, minRatio: Double = 0.0): DataFrame = {
    val shCol = (c: Column) => graft.functions.Shingles.shingles(c, k, distinct = true)
    val sh = cacheScoped(docs.select(key.as("k"), shCol(payload).as("sh")))
    val totals = sh.select(col("k"), size(col("sh")).cast("long").as("n_shingles"))
    val docSh = sh.select(col("k"), explode(col("sh")).as("g"))
    val benchSh = bench.select(explode(shCol(benchPayload)).as("g")).distinct()
    docSh.join(broadcast(benchSh), Seq("g"))
      .groupBy(col("k")).agg(count(lit(1)).cast("long").as("n_overlap"))
      .join(totals, Seq("k"))
      .select(col("k").as("key"), col("n_overlap"), col("n_shingles"),
        (col("n_overlap").cast("double") / col("n_shingles")).as("overlap_ratio"))
      .filter(col("overlap_ratio") >= minRatio)
  }

  /** One-call near-duplicate corpus dedup — the composition a user
    * actually runs: MinHash-LSH candidates → transitive groups
    * (two-tier connected components) → keep the BEST row per group
    * (highest `quality`, smallest key on ties; the q70 survivor
    * policy). Rows in no near-dup group pass through untouched.
    *
    * Scale shape is the sum of its parts, each independently plan-
    * gated: map-side codegen signatures + banded equi-join (never a
    * cross join), O(log d) component rounds (or driver union-find for
    * post-LSH-sized graphs), rank=1 → WindowGroupLimit for the
    * survivor. One corpus re-join (on the component label) at the end. */
  def nearDupCorpus(docs: DataFrame, payload: Column, key: Column,
                    quality: Column,
                    shingleK: Int = 3, numHashes: Int = 32, bands: Int = 8,
                    minJaccard: Double = 0.5): DataFrame = {
    val pairs = minhashCandidates(docs, payload, key, shingleK, numHashes, bands, minJaccard)
    val comps = connectedComponents(pairs)
      .select(col("key").as("__k"), col("component").as("__comp"))
    val keyed = docs.withColumn("__k", key).withColumn("__q", quality)
    val labeled = keyed.join(comps, Seq("__k"), "left")
      .withColumn("__comp", coalesce(col("__comp"), col("__k")))
    val w = Window.partitionBy(col("__comp"))
      .orderBy(col("__q").desc, col("__k"))
    labeled.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .drop("__k", "__q", "__comp", "__rk")
  }

  /** Transitive duplicate groups: connected components over the candidate
    * pair graph by min-label propagation with pointer-doubling shortcuts.
    * Each round a node takes the minimum of (its label, its label's label,
    * its neighbors' labels):
    * the neighbor messages route the component minimum along graph edges;
    * the shortcut `l(u) <- l(l(u))` halves every node's pointer distance to
    * its current root, so a chain of diameter d converges in
    * O(log d) rounds instead of O(d) (Stergiou-style shortcutted label
    * propagation; same contraction idea as large-star/small-star).
    *
    * Per round: one edges⋈labels join + one labels⋈labels self-join into a
    * single message groupBy — all plain equi-joins on the label/node key.
    * Labels are lineage-truncated every round so the working set stays
    * ~2×|nodes| regardless of rounds. Returns (key, component) where
    * component = min key of the cluster.
    *
    * Two tiers, picked by the directed edge count `2 × pair rows`, taken
    * from the one checkpoint of `pairs` (duplicate, reversed and self
    * pairs included, so it never undercounts the distinct directed
    * edges):
    *  - `<= localEdgeThreshold` edges (post-LSH pair graphs are a tiny
    *    fraction of the corpus, so this is the common case even at 100 TB):
    *    collect to the driver and run union-find with path halving —
    *    exact, O(E·α(E)), zero shuffle rounds. An iterative DataFrame loop
    *    on a broadcast-sized graph pays per-round job scheduling for
    *    nothing.
    *  - larger: the distributed pointer-doubling loop above, O(log d)
    *    rounds each a fixed number of equi-join shuffles.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 50): DataFrame =
    connectedComponentsWithRounds(pairs, maxIter)._1

  /** Driver-side exact union-find over a collected edge list (the
    * broadcast-sized tier of [[connectedComponents]]). */
  private def localComponents(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    val keyType = edges.schema("src").dataType
    val rows = edges.select(col("src"), col("dst")).collect()
    val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    def find(x0: Any): Any = {
      var x = x0
      while (parent.getOrElse(x, x) != x) {
        val p = parent(x)
        parent(x) = parent.getOrElse(p, p) // path halving
        x = parent(x)
      }
      x
    }
    rows.foreach { r =>
      val (ra, rb) = (find(r.get(0)), find(r.get(1)))
      if (ra != rb) parent(rb) = ra
    }
    val nodes = rows.iterator.flatMap(r => Iterator(r.get(0), r.get(1))).toArray.distinct
    // component representative = MIN key of the cluster, matching the
    // distributed tier's least()-semantics (Spark's natural ordering on
    // the key type)
    val ord: Ordering[Any] = keyType match {
      case org.apache.spark.sql.types.LongType    => Ordering.by(_.asInstanceOf[Long])
      case org.apache.spark.sql.types.IntegerType => Ordering.by(_.asInstanceOf[Int])
      case org.apache.spark.sql.types.StringType  => Ordering.by(_.asInstanceOf[String])
      case t => throw new IllegalArgumentException(s"unsupported key type for local CC: $t")
    }
    val minOf = scala.collection.mutable.HashMap.empty[Any, Any]
    nodes.foreach { n =>
      val r = find(n)
      minOf(r) = minOf.get(r).fold(n)(m => ord.min(m, n))
    }
    val out = nodes.map(n => org.apache.spark.sql.Row(n, minOf(find(n))))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("key", keyType),
      org.apache.spark.sql.types.StructField("component", keyType)))
    spark.createDataFrame(spark.sparkContext.parallelize(out.toSeq, 1), schema)
  }

  /** Changed-label count per distributed CC round of the most recent
    * [[connectedComponentsWithRounds]] call (empty for the union-find
    * tier). The same series is emitted live through `observe` under
    * metric names `cc_round_<i>` / column `changed` — at 100 TB a slow
    * convergence surfaces in the listener stream round by round instead
    * of only as the final maxIter throw. */
  @volatile private[graft] var lastConvergenceSeries: Seq[Long] = Nil

  /** [[connectedComponents]] plus the number of rounds it took (0 = solved
    * on the driver by the union-find tier) — exposed so specs can assert
    * the O(log d) convergence bound on planted chains by forcing
    * `localEdgeThreshold = 0`. */
  def connectedComponentsWithRounds(pairs: DataFrame, maxIter: Int = 50,
                                    localEdgeThreshold: Long = 1L << 20): (DataFrame, Int) = {
    val spark = pairs.sparkSession
    // the pair lineage (band join, verify joins) runs exactly once: one
    // checkpoint of the projected pairs, whose row count rides that same
    // action; both tiers read only the checkpoint
    val pairObs = org.apache.spark.sql.Observation("cc_pairs")
    val checkpointed = pairs.select(col("key_a").as("src"), col("key_b").as("dst"))
      .observe(pairObs, count(lit(1)).as("rows"))
      .localCheckpoint(true)
    val edgeCount = 2L * pairObs.get("rows").asInstanceOf[Long]
    val localOk = checkpointed.schema("src").dataType match {
      case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.StringType => true
      case _ => false
    }
    // union-find needs neither the reversed copy nor distinct
    if (localOk && edgeCount <= localEdgeThreshold)
      return (localComponents(checkpointed), 0)
    val edges = checkpointed
      .union(checkpointed.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().localCheckpoint(true)
    // iterative rounds pay per-task scheduling on EVERY shuffle: width the
    // loop's shuffles to the live edge count (cap = session default, so a
    // wide cluster config is respected at scale; tiny pair graphs drop to
    // a few tasks instead of default×stages×rounds empty ones)
    val defaultParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val parts = math.max(1L, math.min(defaultParts.toLong, edgeCount / 100000L)).toInt
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", parts)
    try {
      // round 1 fused into initialization: label = min(self, neighbors) is
      // one groupBy over the checkpointed edges, no join needed
      var labels = edges.groupBy(col("src")).agg(min(col("dst")).as("nmin"))
        .select(col("src").as("node"), least(col("src"), col("nmin")).as("label"))
        .localCheckpoint(true)
      // labels MUST be lineage-truncated every round (localCheckpoint, not
      // persist): each iteration references the previous labels frame
      // several times, so without truncation the logical plan doubles per
      // round — exponential analysis cost, OOM near ~15 iterations.
      var converged = false
      var iter = 1
      val series = scala.collection.mutable.ArrayBuffer.empty[Long]
      lastConvergenceSeries = Nil
      while (!converged && iter < maxIter) {
        // neighbor propagation: each node receives its neighbors' labels
        val neighborMsgs = edges.join(labels, edges("src") === labels("node"))
          .select(col("dst").as("node"), col("label").as("cand"))
        // pointer doubling: each node also receives its label's label —
        // this is what turns O(diameter) rounds into O(log diameter)
        val shortcutMsgs = labels.as("a")
          .join(labels.as("b"), col("a.label") === col("b.node"))
          .select(col("a.node").as("node"), col("b.label").as("cand"))
        val msgs = neighborMsgs.union(shortcutMsgs)
          .groupBy(col("node")).agg(min(col("cand")).as("cand"))
        // the changed count rides the checkpoint action itself as an
        // observed metric (`cc_round_<i>`.changed): convergence costs
        // ZERO extra jobs, and every listener sees the per-round series
        // live — a slow 100 TB convergence is visible round by round,
        // not only as the final maxIter throw
        val newLabel = least(col("label"), coalesce(col("cand"), col("label")))
        val obs = org.apache.spark.sql.Observation(s"cc_round_$iter")
        val next = labels.join(msgs, Seq("node"), "left")
          .select(col("node"), newLabel.as("label"), (newLabel =!= col("label")).as("__chg"))
          .observe(obs, count(when(col("__chg"), lit(1))).as("changed"))
          .localCheckpoint(true)
        val changed = obs.get("changed").asInstanceOf[Long]
        series += changed
        lastConvergenceSeries = series.toSeq
        converged = changed == 0L
        labels = next.drop("__chg")
        iter += 1
      }
      // unconverged labels are silently WRONG (a long chain would split one
      // component into several) — fail loudly rather than return bad groups
      if (!converged) throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds; " +
          "the pair graph has a longer duplicate chain than expected — raise maxIter")
      (labels.select(col("node").as("key"), col("label").as("component")), iter)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
  }

  /** Keep exactly one row (smallest key) per transitive duplicate group. */
  def dropTransitive(df: DataFrame, key: Column, pairs: DataFrame,
                     maxIter: Int = 50): DataFrame = {
    val losers = connectedComponents(pairs, maxIter)
      .filter(col("key") =!= col("component"))
      .select(col("key").as("__loser"))
    df.join(losers, key === col("__loser"), "left_anti")
  }

  /** Perceptual-hash near-dup STAR edges over a 64-bit hash column
    * (r15 — the image-dedup operator behind q337; hashes from
    * [[Multimodal.JdkImageCodec.averagePHash64]] or any 64-bit
    * perceptual hash). TWO TIERS, the production structure, both
    * emitting edges LINEAR in group size (r16 — VERDICT r15 item 1:
    * the previous exact tier self-joined on the hash and emitted
    * C(g,2) pairs per identical-hash group, ~5·10¹³ rows for one
    * 10M-member blank-page hash; a pairwise LISTING of an exact group
    * is never needed for dedup — only its connectivity is):
    *
    *  1. exact tier: ONE partial-agg shuffle computes the group
    *     representative (`min(id)` per hash — the q30/q70 survivor
    *     shape, map-side combined), then each member joins back to its
    *     representative: g−1 star edges per identical-hash group, the
    *     same connected components as the C(g,2) clique;
    *  2. the 4×16-bit Hamming band join (pigeonhole: ≤ `maxHamming` ≤ 3
    *     bit flips leave ≥1 band intact, so the equi-join provably
    *     finds EVERY qualifying hash pair) runs over DISTINCT hashes
    *     only, with the exact `bit_count(xor)` verify on candidates —
    *     and each surviving hash pair emits ONE edge between the two
    *     groups' representatives (the exact tier already connects every
    *     member to its representative, so rep↔rep is enough for the
    *     transitive groups; expanding to gA×gB id pairs would re-import
    *     the quadratic blow-up through the back door).
    *
    * Candidate volume is Σ|distinct-hash band bucket|², output volume
    * is n − #groups + #near-hash-pairs — the shape that survives a
    * 100 TB corpus where exact-dup groups are huge but distinct
    * near-neighbors are sparse. Output: (key_a, key_b, hamming),
    * key_a < key_b; [[connectedComponents]]/[[dropTransitive]] over it
    * give exactly the groups of the all-pairs listing.
    *
    * `scopeCols` (r17 — VERDICT r16 Next #4, the API affordance for
    * the SCALE.md residual): past tens of millions of DISTINCT hashes
    * the band-candidate law ~N²/2¹⁵ wants sharding by a partition key
    * (crawl snapshot, domain, shard id). Scope columns fold into BOTH
    * tiers' keys — the exact-tier groupBy and the band equi-join — so
    * candidate volume becomes Σ_scope |scope bucket|² and dedup is
    * exact WITHIN each scope (no cross-scope edges, by design: that
    * is what sharding means). The scope rides as ONE struct key, so a
    * NULL scope value is a real scope of its own (struct equality is
    * field-wise null-safe) — real corpora have nullable domain/
    * snapshot keys, and a null-unsafe equi-join would silently drop
    * every null-scope row from both tiers. Empty (the default)
    * preserves the global-corpus semantics and plan unchanged. */
  def phashNearDups(df: DataFrame, idCol: String = "doc_id",
                    hashCol: String = "phash", maxHamming: Int = 3,
                    scopeCols: Seq[String] = Nil): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      "4x16-bit banding guarantees recall only up to hamming 3")
    // one struct key: null scope values join null-safely (see scaladoc)
    val scope: Seq[Column] =
      if (scopeCols.isEmpty) Nil
      else Seq(struct(scopeCols.map(col): _*).as("__scope"))
    val scopeKeys = if (scopeCols.isEmpty) Nil else Seq("__scope")
    val ph = cacheScoped(df.select(Seq(col(idCol).cast("long").as("__id"),
      col(hashCol).cast("long").as("__ph")) ++ scope: _*)
      .filter(col("__ph").isNotNull))
    val sc = scopeKeys.map(col)
    // distinct (scope, hash) WITH their representative, one partial agg
    val reps = cacheScoped(ph.groupBy(col("__ph") +: sc: _*)
      .agg(min(col("__id")).as("__rep")))
    val same = ph.join(reps, "__ph" +: scopeKeys)
      .filter(col("__id") =!= col("__rep"))
      .select(col("__rep").as("key_a"), col("__id").as("key_b"),
        lit(0L).as("hamming"))
    val bands = reps.select(Seq(col("__ph"),
      explode(array((0 to 3).map(i => struct(lit(i).as("b"),
        shiftright(col("__ph"), i * 16).bitwiseAND(lit(0xFFFFL))
          .as("v"))): _*)).as("r")) ++ sc: _*)
      .select(Seq(col("__ph"), col("r.b").as("b"), col("r.v").as("v")) ++
        sc: _*)
    val nearHash = bands
      .select(Seq(col("b"), col("v"), col("__ph").as("ph_a")) ++ sc: _*)
      .join(bands.select(Seq(col("b"), col("v"), col("__ph").as("ph_b")) ++
        sc: _*), Seq("b", "v") ++ scopeKeys)
      .filter(col("ph_a") < col("ph_b"))
      .select(Seq(col("ph_a"), col("ph_b")) ++ sc: _*).distinct()
      .withColumn("hamming",
        bit_count(col("ph_a").bitwiseXOR(col("ph_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming && col("hamming") > 0)
    val near = nearHash
      .join(reps.select(Seq(col("__ph").as("ph_a"),
        col("__rep").as("id_a")) ++ sc: _*), "ph_a" +: scopeKeys)
      .join(reps.select(Seq(col("__ph").as("ph_b"),
        col("__rep").as("id_b")) ++ sc: _*), "ph_b" +: scopeKeys)
      .select(least(col("id_a"), col("id_b")).as("key_a"),
        greatest(col("id_a"), col("id_b")).as("key_b"), col("hamming"))
    same.unionByName(near)
  }
}

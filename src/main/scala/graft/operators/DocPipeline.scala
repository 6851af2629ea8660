package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.PipelineConfig
import graft.functions.{Extraction, TextAnalysis}
import graft.sources.PageDecoder

/** The reference's core "query" — extract and filter pages from documents
  * (`/root/reference/doc2dataset/downloader.py:142-219` `process_doc` +
  * `extractor.py:128-176` `process_page`) — as one lazy DataFrame plan:
  *
  *   payload → decode(pages) → posexplode → per-page extraction columns →
  *   threshold filters (as status tags, not exceptions) → page keys.
  *
  * Everything after the decode UDF is codegen'd Catalyst expressions.
  * Filters are authored cheap-first (word-count gate before image work),
  * matching the reference's ordering discipline (SURVEY §4) — Catalyst
  * won't reorder through the nondeterministic-looking UDF boundary, so
  * author order is the physical order.
  */
object DocPipeline {

  /** Decode payload bytes into a pages array + extract error; appends
    * `pages array<string>`, optional `drawings_arr array<string>` (SVG
    * per page, ref `extractor.py:76-77`), `decode_error string`. One UDF
    * call does decode + drawings — never two passes over the payload. */
  def decodePages(df: DataFrame, decoder: PageDecoder, payloadCol: String,
                  withDrawings: Boolean = false): DataFrame = {
    val dec = udf((payload: Array[Byte]) =>
      if (withDrawings) decoder.decodeWithDrawings(payload) match {
        case Right(pairs) => (pairs.map(_._1), pairs.map(_._2), null: String)
        case Left(err) => (null: Seq[String], null: Seq[String], err)
      } else decoder.decode(payload) match {
        case Right(pages) => (pages, null: Seq[String], null: String)
        case Left(err) => (null: Seq[String], null: Seq[String], err)
      })
    // rows already failed upstream (fetch / hash verify) are never decoded
    // — the reference short-circuits the same way (downloader.py:326-350)
    val shouldDecode =
      if (df.columns.contains("status")) col("status") === "success" else lit(true)
    val base = df.withColumn("__dec", when(shouldDecode, dec(col(payloadCol))))
      .withColumn("pages", col("__dec._1"))
      .withColumn("decode_error", col("__dec._3"))
    (if (withDrawings) base.withColumn("drawings_arr", col("__dec._2")) else base)
      .drop("__dec")
  }

  /** Hash verify filter (ref `downloader.py:352-381`): recompute the
    * payload hash and compare to the manifest's `hashType` column;
    * mismatches become `failed_to_download` (errors are data). Rows
    * without a manifest hash pass through; successful rows get the
    * computed hash stored in the column. */
  def verifyHash(df: DataFrame, payloadCol: String, hashType: String): DataFrame = {
    val computed = Extraction.contentHash(col(payloadCol), hashType)
    val mismatch = col("status") === "success" &&
      col(hashType).isNotNull && computed =!= col(hashType)
    df.withColumn("error_message",
        when(mismatch, lit("hash mismatch")).otherwise(col("error_message")))
      .withColumn("status",
        when(mismatch, lit("failed_to_download")).otherwise(col("status")))
      .withColumn(hashType, when(col("status") === "success", computed)
        .otherwise(col(hashType)))
  }

  /** compute_hash without verification (ref `downloader.py:423-425`). */
  def withComputedHash(df: DataFrame, payloadCol: String, algo: String): DataFrame =
    df.withColumn(algo, Extraction.contentHash(col(payloadCol), algo))

  private def oomSample(cfg: PipelineConfig): Int =
    math.ceil(math.log10(math.max(10, cfg.numSamplesPerShard))).toInt

  /** Shard-id prefix of a DOCUMENT key: everything before the intra-shard
    * index digits. Length-relative (not fixed-width) so keys that outgrow
    * the `oomShardCount` padding still split correctly. */
  def shardOfKey(key: Column, cfg: PipelineConfig): Column =
    key.substr(lit(1), length(key) - oomSample(cfg))

  /** Deterministic document keys from a DENSE numeric id (0..N-1):
    * shard = id div perShard, index = id mod perShard — pure map-side
    * expressions, no shuffle, no window. This is the scale path: key
    * assignment at 100 TB must not serialize through a global sort.
    * (ref `compute_key`, `downloader.py:69-75`). */
  def withKeys(df: DataFrame, denseId: Column, cfg: PipelineConfig): DataFrame =
    df.withColumn("key", Extraction.computeKey(
      (denseId / cfg.numSamplesPerShard).cast("long"),
      denseId % cfg.numSamplesPerShard,
      oomSample(cfg), cfg.oomShardCount))

  /** Two-pass dense-id assignment — the scale path when the manifest has
    * no dense id. Global order WITHOUT a global window:
    * range-repartition + sort-within-partitions on `orderCol`, count rows
    * per partition (one (pid, count) row per partition — the same tiny
    * collect `RDD.zipWithIndex` does), broadcast the cumulative offsets
    * back, and compute `offset + local_index` map-side. One range shuffle,
    * every partition stays parallel; produces the same ids as
    * `row_number() over (order by orderCol) - 1`. Like the reference's
    * eager manifest read (`main.py:106-137`), this runs one small job at
    * build time (the counts pass). */
  def withDenseIds(df: DataFrame, orderCol: Column, idCol: String): DataFrame =
    withDenseIdsAndCount(df, orderCol, idCol)._1

  /** [[withDenseIds]] plus the TOTAL row count, for free: the counts
    * pass already collects one (pid, count) row per partition, so the
    * total is their sum — callers that would otherwise run a separate
    * count job over the ranked frame (e.g. rank-bucket scoring, which
    * needs n for `rid * k / n`) read it from here instead (r19). */
  def withDenseIdsAndCount(df: DataFrame, orderCol: Column,
                           idCol: String): (DataFrame, Long) = {
    val spark = df.sparkSession
    val parts = math.max(1, spark.sessionState.conf.numShufflePartitions)
    // localCheckpoint(eager): the counts pass and the final pass are two
    // separate jobs; without materialization each would re-plan the range
    // exchange and RE-SAMPLE its bounds (seeded by a fresh rdd.id), so
    // rows could land in different partitions between the two jobs and
    // the broadcast offsets would mint duplicate/non-dense ids. Freezing
    // the shuffled+sorted blocks once makes both jobs read the same
    // layout — and halves the work (the sort runs once, not twice).
    val sorted = df.repartitionByRange(parts, orderCol.asc)
      .sortWithinPartitions(orderCol.asc)
      .withColumn("__mid", monotonically_increasing_id())
      .localCheckpoint(true)
    val counts = sorted
      .groupBy(shiftright(col("__mid"), 33).as("__pid"))
      .agg(count(lit(1)).as("__cnt"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val offsets = counts.map { case (pid, n) => val row = (pid, acc); acc += n; row }
    val offsetsDf = spark.createDataFrame(offsets.toIndexedSeq).toDF("__pid", "__offset")
    val withIds = sorted.withColumn("__pid", shiftright(col("__mid"), 33))
      .join(broadcast(offsetsDf), Seq("__pid"))
      .withColumn(idCol, col("__offset") + col("__mid").bitwiseAND(lit((1L << 33) - 1)))
      .drop("__pid", "__offset", "__mid")
    (withIds, acc)
  }

  /** [[withDenseIds]] + [[withKeys]]: deterministic zero-padded keys from
    * a stable sort on `orderCol`, no single-partition funnel anywhere —
    * the default key path for [[graft.Pipeline.run]]. */
  def withKeysDense(df: DataFrame, orderCol: Column, cfg: PipelineConfig): DataFrame =
    withKeys(withDenseIds(df, orderCol, "__did"), col("__did"), cfg).drop("__did")

  /** Deterministic keys for an ARBITRARY stable sort key: global
    * row_number over `orderCol` (ref semantics when the manifest has no
    * dense id; determinism per SURVEY §7.5.1 — stable sort, never
    * partition-dependent ids). The global window funnels rows through a
    * single partition: kept as the tiny-manifest/reference-semantics
    * twin, but [[withKeysDense]] is the default — same keys, parallel. */
  def withKeysOrdered(df: DataFrame, orderCol: Column, cfg: PipelineConfig): DataFrame = {
    val rank = row_number().over(Window.orderBy(orderCol)) - 1
    df.withColumn("__rank", rank.cast("long"))
      .withColumn("key", Extraction.computeKey(
        (col("__rank") / cfg.numSamplesPerShard).cast("long"),
        col("__rank") % cfg.numSamplesPerShard,
        oomSample(cfg), cfg.oomShardCount))
      .drop("__rank")
  }

  /** Explode pages (one output row per page, ref `downloader.py:148-216`)
    * and apply the page-level extraction + filter semantics from the
    * config. Emits the reference output contract: every row tagged with
    * `status` + `error_message`; callers split payload rows
    * (status=success) from the stats channel. */
  def explodePages(df: DataFrame, cfg: PipelineConfig): DataFrame = {
    val hasDrawings = cfg.getDrawings && df.columns.contains("drawings_arr")
    // zip pages (+ per-page drawings) so one explode carries both; then
    // max_pages truncation before the explode (ref `downloader.py:149-150`,
    // normalized to the documented keep-first-N semantics).
    val zipped = (if (hasDrawings)
        df.withColumn("__pz", arrays_zip(col("pages"), col("drawings_arr")))
          .drop("drawings_arr")
      else df.withColumn("__pz", arrays_zip(col("pages"))))
      .drop("pages")
    val limited = cfg.maxPages match {
      case Some(n) => zipped.withColumn("__pz",
        when(col("decode_error").isNull, slice(col("__pz"), 1, n)))
      case None    => zipped
    }
    val explodedRaw = limited
      .select(col("*"), posexplode_outer(col("__pz")).as(Seq("page_no", "__p")))
      .withColumn("page_xhtml", col("__p.pages"))
    val exploded = (if (hasDrawings)
        explodedRaw.withColumn("drawings", col("__p.drawings_arr"))
      else explodedRaw)
      .drop("__pz", "__p")

    // Payload text follows the reference's save_figures split
    // (`extractor.py:141-144`): with figures the page keeps its <img>
    // tags (strip-except-img); without, plain text. Digit removal only
    // applies on the figure-less path (`extractor.py:164-165`), and
    // per-image size/ratio failures are removed FROM THE TEXT on the
    // figure path (`extractor.py:157-162`).
    val allImgs = Extraction.imgTags(col("page_xhtml"))
    val keptRaw =
      if (cfg.saveFigures) Extraction.stripTagsExceptImg(col("page_xhtml"))
      else Extraction.stripTags(col("page_xhtml"))
    val afterDigits =
      if (cfg.removeDigits && !cfg.saveFigures) Extraction.removeDigits(keptRaw)
      else keptRaw

    val base0 = exploded
      .withColumn("imgs", Extraction.filterImgs(allImgs, cfg.minImageSize, cfg.maxAspectRatio))
      .withColumn("text", afterDigits)
      .withColumn("total_words", Extraction.wordCount(Extraction.stripTags(col("page_xhtml"))))
    val imageFiltering = cfg.minImageSize > 0 || cfg.maxAspectRatio < Double.MaxValue
    val base = if (cfg.saveFigures && imageFiltering) {
      // failing tags leave the text too; the aggregate only runs on rows
      // that actually lost an image (the If branch skips it otherwise)
      val removed = array_except(allImgs, col("imgs"))
      base0.withColumn("text",
        when(size(removed) > 0,
          aggregate(removed, col("text"), (t, img) => Extraction.removeImgTag(t, img)))
        .otherwise(col("text")))
    } else base0

    val withOpt = Seq(
      (cfg.getLanguage, (d: DataFrame) => d.withColumn("language", TextAnalysis.langId(col("text")))),
      // images_per_page counts the page's images BEFORE size/ratio
      // filtering (ref `extractor.py:151-152`)
      (cfg.saveFigures, (d: DataFrame) => d.withColumn("images_per_page",
        size(Extraction.imgTags(col("page_xhtml"))))),
      // exif: assembled but never populated in the reference
      // (downloader.py:239-240,320-321) — kept for schema parity
      (cfg.extractExif, (d: DataFrame) => d.withColumn("exif", lit(null).cast(StringType))),
    ).foldLeft(base) { case (d, (on, f)) => if (on) f(d) else d }

    // Status tagging — failure reasons mirror the reference's exception
    // classes (`extractor.py:20-25`) but stay declarative. A row that
    // arrived already failed (fetch / hash verify) keeps its status:
    // page-level tagging must never resurrect an upstream failure.
    val hasPrior = df.columns.contains("status")
    val prior = if (hasPrior) col("status") else lit("success")
    val priorErr =
      if (hasPrior) col("error_message") else lit(null).cast(StringType)
    // ONE decision yields both columns, so neither can read the other's
    // rewritten value (a failed page used to lose its reason that way)
    def tag(status: String, reason: Column) =
      struct(lit(status).as("status"), reason.cast(StringType).as("error_message"))
    val decision =
      when(prior =!= "success", struct(prior.as("status"), priorErr.as("error_message")))
        .when(col("decode_error").isNotNull, tag("failed_to_extract", col("decode_error")))
        .when(!Extraction.nonEmptyPage(col("text")), tag("failed_to_extract", lit("empty page")))
        .when(col("total_words") < cfg.minWordsPerPage,
          tag("failed_to_extract", lit("too few words")))
        .when(lit(cfg.maxImagesPerPage.isDefined) &&
          size(Extraction.imgTags(col("page_xhtml"))) > cfg.maxImagesPerPage.getOrElse(Int.MaxValue),
          tag("failed_to_extract", lit("too many images")))
        .otherwise(tag("success", lit(null)))

    withOpt
      .withColumn("__tag", decision)
      .withColumn("status", col("__tag.status"))
      .withColumn("error_message", col("__tag.error_message"))
      .withColumn("page_key",
        when(col("page_no").isNotNull, Extraction.pageKey(col("key"), col("page_no"))))
      .drop("page_xhtml", "__tag")
  }

  /** Split the tagged output into (payload, stats) — the reference's
    * two-channel contract (payload rows written, failures only counted;
    * `downloader.py:188-192,344-348`). `stats` is the capped
    * [[Metrics.statusHistogram]]; [[graft.Pipeline.run]] takes the same
    * histogram from its observation instead, without a second pass. */
  def channels(tagged: DataFrame): (DataFrame, DataFrame) =
    (tagged.filter(col("status") === "success"),
      Metrics.statusHistogram(tagged, Metrics.HistogramCap))
}

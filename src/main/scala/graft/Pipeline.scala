package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{DocPipeline, Metrics}
import graft.sinks.{Sinks, TfRecord}
import graft.sources.{HttpFetch, ManifestReader, PageDecoder}

/** The reference's top-level `download()` entry point
  * (`/root/reference/doc2dataset/main.py:66-237`) as ONE library call:
  * normalize manifest → deterministic keys → fetch → hash verify →
  * decode → per-page explode/filter/tag → split channels → sink dispatch
  * (+ stats sidecar, incremental resume). A user of the reference calls
  * `download(url_list=..., output_format=...)`; a user of this engine
  * calls `Pipeline.run(spark, manifest, cfg, decoder, out)`.
  */
object Pipeline {

  /** The typed core of a payload row (SURVEY §1.4): the columns every
    * run produces regardless of flags. Config-dependent columns (hash,
    * language, drawings, ...) stay dynamic on the DataFrame. */
  final case class PageRecord(key: String, url: String, status: String,
                              page_no: Int, text: String, total_words: Int,
                              page_key: String)

  /** payload = success pages; observation = the run's counters and its
    * status histogram, taken below the success filter (docs/sec etc. via
    * [[Metrics.summary]], the histogram via [[Metrics.statusCounts]]).
    * With an output directory, [[run]] returns after the sink, so the
    * observation is complete; without one, it fills on the first action
    * over `payload`. */
  final case class Result(payload: DataFrame, observation: org.apache.spark.sql.Observation) {
    /** The status histogram (status, error_message, count) the
      * observation recorded, as a small local frame — no pass over the
      * data. Blocks until an action over `payload` has run. */
    def stats: DataFrame = payload.sparkSession.createDataFrame(Metrics.statusCounts(observation))

    /** Typed view of the always-present payload columns — `Dataset[T]`
      * where type safety helps, `DataFrame` where schema is dynamic. */
    def typedPayload(encodeFormat: String = "text"): org.apache.spark.sql.Dataset[PageRecord] = {
      val spark = payload.sparkSession
      import spark.implicits._
      payload.select(col("key"), col("url"), col("status"), col("page_no"),
        col(encodeFormat).as("text"), col("total_words"), col("page_key"))
        .as[PageRecord]
    }
  }

  /** @param manifest raw manifest frame (any source from
    *                 [[ManifestReader]]); column names per cfg
    * @param decoder  page decoder (real PDF impl or [[graft.sources.FakePdfDecoder]])
    * @param output   output directory; None = build the lazy frames only
    * @param fetcher  override for tests / non-HTTP payloads: df→df adding
    *                 payload/status/error_message (defaults to [[HttpFetch.fetch]])
    * @param resume   anti-join away keys already present in the output
    *                 (ref incremental mode, `main.py:140-151`)
    */
  def run(spark: SparkSession, manifest: DataFrame, cfg: PipelineConfig,
          decoder: PageDecoder, output: Option[String] = None,
          fetcher: Option[DataFrame => DataFrame] = None,
          resume: Boolean = false): Result = {
    cfg.validate()
    val normalized = ManifestReader.normalize(manifest, cfg.urlCol,
      cfg.verifyHashCol, cfg.verifyHashType, cfg.saveAdditionalColumns)
    // deterministic keys from a stable sort on url (SURVEY §7.5.1) via
    // two-pass dense ids — no global window / single-partition funnel; a
    // manifest that already has a dense id should call withKeys directly
    val keyed = DocPipeline.withKeysDense(normalized, col("url"), cfg)
    // resume granularity matches the sink's unit of output: row-keyed
    // formats anti-join on key; shard-file formats (webdataset/tfrecord)
    // skip complete shards and redo interrupted ones whole — the
    // reference's done-shards scan (`main.py:140-151`). `files` output is
    // per-key and deterministic, so re-writing is idempotent.
    val shardOfKey = DocPipeline.shardOfKey(col("key"), cfg)
    val resumed = (output, resume) match {
      case (Some(out), true) => cfg.outputFormat match {
        case "parquet" => Sinks.resumeAntiJoin(keyed, s"$out/payload")
        case "jsonl"   => Sinks.resumeAntiJoin(keyed, s"$out/payload", format = "json")
        case "webdataset" => Sinks.resumeShards(keyed, s"$out/payload", shardOfKey, "tar")
        case "tfrecord"   => Sinks.resumeShards(keyed, s"$out/payload", shardOfKey, "tfrecord")
        case _ => keyed
      }
      case _ => keyed
    }
    val fetched = fetcher.getOrElse((df: DataFrame) =>
      HttpFetch.fetch(df, timeoutSec = cfg.timeoutSec, retries = cfg.retries,
        userAgentToken = cfg.userAgentToken,
        disallowed = cfg.disallowedHeaderDirectives)).apply(resumed)
    val tagged = extract(fetched, cfg, decoder)
    val (payload, obs) = observedPayload(tagged,
      s"graft_pipeline_${System.identityHashCode(manifest)}")

    output.foreach { out =>
      // resume = append new keys next to prior output (anti-join already
      // removed the done ones); overwrite would erase the resumed-from run
      val mode = if (resume) org.apache.spark.sql.SaveMode.Append
                 else org.apache.spark.sql.SaveMode.Overwrite
      // one output row per PAGE (ref `downloader.py:212`): the per-sample
      // sinks key on page_key and group files by the document's shard id.
      // Page-key tombstones (WebDataset.deleteKeys) are honored here: a
      // shard redone by resume must not resurrect a forgotten page.
      val payloadT = Sinks.dropTombstoned(payload, s"$out/payload", "page_key")
      val sharded = payloadT.withColumn("__shard",
        DocPipeline.shardOfKey(col("key"), cfg))
      // each sink evaluates the lineage ONCE (one write, or one job that
      // writes shard files and their sidecar together); that evaluation
      // also fills the observation the stats sidecar is written from
      cfg.outputFormat match {
        // file sizing mirrors the reference's number_sample_per_shard
        // (reader.py:139-146 shard files; here it caps rows per part file)
        case "parquet"    => Sinks.parquet(payloadT, s"$out/payload", mode,
          maxRecordsPerFile = cfg.numSamplesPerShard)
        case "jsonl"      => Sinks.jsonlGz(payloadT, s"$out/payload", mode,
          maxRecordsPerFile = cfg.numSamplesPerShard)
        case "files"      => Sinks.files(sharded, s"$out/payload",
          keyCol = "page_key", payloadCol = cfg.encodeFormat, shardCol = Some("__shard"))
        case "webdataset" => Sinks.webdataset(sharded, s"$out/payload",
          keyCol = "page_key", payloadCol = cfg.encodeFormat,
          shardCol = Some("__shard"), sidecarMode = mode)
        case "tfrecord"   => TfRecord.write(sharded, s"$out/payload",
          payloadCol = cfg.encodeFormat, shardCol = Some("__shard"),
          sidecarMode = mode, keyCol = "page_key")
        case "dummy"      => Sinks.dummy(payload)
      }
      writeStats(spark, obs, s"$out/stats")
    }
    Result(payload, obs)
  }

  /** The success rows of `tagged`, with ONE observation beneath the
    * filter: counters and status histogram see every row — failures
    * included — in the same evaluation that feeds the sink. (Persisting
    * `tagged` for a separate stats pass instead would stage all page
    * text on local disk.) */
  private def observedPayload(tagged: DataFrame, name: String)
      : (DataFrame, org.apache.spark.sql.Observation) = {
    val (observed, obs) = Metrics.observed(tagged, name)
    (observed.filter(col("status") === "success"), obs)
  }

  /** Upper bound on the wait for an observation after its sink returned:
    * the metrics normally arrive with the action itself. */
  private val ObservationWait = scala.concurrent.duration.Duration(5, "min")

  /** The stats sidecar (ref `logger.py:196`, per-shard stats JSON) from
    * the observation the sink's action filled — written on the driver,
    * no pass over the data. */
  private def writeStats(spark: SparkSession, obs: org.apache.spark.sql.Observation,
                         out: String): Unit = {
    try scala.concurrent.Await.ready(obs.future, ObservationWait)
    catch {
      case e: java.util.concurrent.TimeoutException => throw new IllegalStateException(
        s"sink action did not report observation ${obs.name}; stats for $out unknown", e)
    }
    Sinks.writeStats(spark, Metrics.statusCounts(obs), out)
  }

  /** hash verify / compute → decode → per-page explode+filter+tag — the
    * shared mid-section of [[run]] and [[runStream]] (every transform in
    * it is map-side, which is exactly why the same plan is stream-safe). */
  private def extract(fetched: DataFrame, cfg: PipelineConfig,
                      decoder: PageDecoder): DataFrame = {
    val verified = (cfg.verifyHashCol, cfg.computeHash) match {
      case (Some(_), _) => DocPipeline.verifyHash(fetched, "payload", cfg.verifyHashType)
      case (None, Some(algo)) => DocPipeline.withComputedHash(fetched, "payload", algo)
      case _ => fetched
    }
    val decoded = DocPipeline.decodePages(verified, decoder, "payload",
      withDrawings = cfg.getDrawings)
    DocPipeline.explodePages(decoded.drop("payload"), cfg)
      .withColumnRenamed("text", cfg.encodeFormat)
  }

  /** Streaming twin of [[run]] — incremental ingestion: manifests arrive
    * as a file stream, flow through the SAME fetch→verify→decode→explode
    * transforms (all map-side, so the plan streams without state), and
    * append to the parquet payload via foreachBatch; each micro-batch
    * also writes its stats sidecar (`$output/stats/batch_<id>`).
    *
    * Keys are stable url hashes, not dense sequential ids — a stream is
    * unbounded, so there is no global order to number; the checkpoint
    * provides exactly-once per manifest file (the reference's
    * incremental mode, continuously).
    *
    * @param manifestStream streaming DataFrame of manifests (e.g.
    *        `spark.readStream.text(dir)` renamed to the url column)
    * @param fetcher override for tests; defaults to the stream-capable
    *        [[HttpFetch.fetchStreaming]] (the pooled batch fetch needs
    *        `df.rdd`, which streaming plans forbid)
    */
  def runStream(spark: SparkSession, manifestStream: DataFrame,
                cfg: PipelineConfig, decoder: PageDecoder,
                output: String, checkpoint: String,
                fetcher: Option[DataFrame => DataFrame] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    cfg.validate()
    val normalized = ManifestReader.normalize(manifestStream, cfg.urlCol,
      cfg.verifyHashCol, cfg.verifyHashType, cfg.saveAdditionalColumns)
    val keyed = normalized.withColumn("key",
      format_string("%016x", xxhash64(col("url"))))
    val fetched = fetcher.getOrElse((df: DataFrame) =>
      HttpFetch.fetchStreaming(df, timeoutSec = cfg.timeoutSec,
        retries = cfg.retries, userAgentToken = cfg.userAgentToken,
        disallowed = cfg.disallowedHeaderDirectives)).apply(keyed)
    val tagged = extract(fetched, cfg, decoder)
    tagged.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val (payload, obs) = observedPayload(batch, s"graft_stream_batch_$id")
        Sinks.parquet(payload, s"$output/payload", org.apache.spark.sql.SaveMode.Append)
        writeStats(spark, obs, s"$output/stats/batch_$id")
      }
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }
}

package graft.sinks

import java.io.{BufferedOutputStream, ObjectInputStream, ObjectOutputStream, OutputStream}
import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.Metrics

/** Output sinks — the reference's six `*SampleWriter` classes
  * (`/root/reference/doc2dataset/writer.py`) re-expressed Spark-first.
  * Buffering/rotation/row-groups are Spark's job (`writer.py:13-52`'s
  * 100-row buffer is obsolete); only the genuinely custom layouts
  * (per-sample files, shard files) keep hand-written partition writers.
  *
  * All custom writers go through the Hadoop [[FileSystem]] API, so the
  * output path can be any registered scheme (file:, hdfs:, s3a:, ...) —
  * the same uniform-filesystem contract the reference gets from fsspec
  * (`main.py:110-117`). `java.io.File` would silently write to each
  * executor's local disk on a real cluster.
  */
object Sinks {

  /** Hadoop Configuration is not Serializable — this minimal wrapper
    * ships the driver's conf (with its s3a/hdfs settings) into the
    * foreachPartition closures via Hadoop's own wire format. */
  private[graft] final class SerializableHadoopConf(@transient var value: Configuration)
      extends Serializable {
    private def writeObject(out: ObjectOutputStream): Unit = {
      out.defaultWriteObject(); value.write(out)
    }
    private def readObject(in: ObjectInputStream): Unit = {
      in.defaultReadObject(); value = new Configuration(false); value.readFields(in)
    }
  }

  private def hadoopConf(df: DataFrame): SerializableHadoopConf =
    new SerializableHadoopConf(df.sparkSession.sparkContext.hadoopConfiguration)

  private def fsFor(out: String, conf: Configuration): (FileSystem, Path) = {
    val p = new Path(out)
    (p.getFileSystem(conf), p)
  }

  /** parquet sink (ref `writer.py:55-85`): payload column named by
    * `encode_format`; sizing via maxRecordsPerFile, not hand buffering. */
  def parquet(df: DataFrame, out: String, mode: SaveMode = SaveMode.Overwrite,
              maxRecordsPerFile: Int = 0): Unit =
    sized(df, mode, maxRecordsPerFile).parquet(out)

  private def sized(df: DataFrame, mode: SaveMode, maxRecordsPerFile: Int) = {
    val w = df.write.mode(mode)
    if (maxRecordsPerFile > 0) w.option("maxRecordsPerFile", maxRecordsPerFile.toLong) else w
  }

  /** Small-file compaction [EXT] — the maintenance pass every
    * long-running ingestion needs: incremental appends (resume, per-batch
    * streaming writes) accrete files far below the scan-efficient size,
    * and at 100 TB footer/open overhead dominates reads long before data
    * does. Rewrites a parquet directory into ≈`targetFileBytes` files
    * (count derived from the measured input size) and swaps it in via
    * write-to-sibling-tmp + rename old→trash→tmp→live. The swap is
    * atomic against PARTIAL layouts (a reader never sees a half-written
    * mix of old and new files) but NOT against concurrent reads: between
    * the two renames the live path briefly does not exist, and rename
    * itself is copy-based on object stores — run compaction in a
    * maintenance window (single writer, no concurrent readers), or point
    * readers at a manifest/versioned directory that flips after the
    * swap. Returns (filesBefore, filesAfter). */
  def compactParquet(spark: org.apache.spark.sql.SparkSession, dir: String,
                     targetFileBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    val conf = spark.sessionState.newHadoopConf()
    val (fs, path) = fsFor(dir, conf)
    def dataFiles(p: Path) = fs.listStatus(p).filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
    val before = dataFiles(path)
    // a Hive-partitioned layout has no top-level data files; compacting
    // through spark.read would silently FLATTEN the partition columns
    // into the rewritten files — refuse rather than corrupt the layout
    require(before.nonEmpty,
      s"compactParquet expects a flat parquet directory; $dir has no top-level data files " +
        "(partitioned layouts need per-partition compaction)")
    val totalBytes = before.map(_.getLen).sum
    val nOut = math.max(1L, (totalBytes + targetFileBytes - 1) / targetFileBytes).toInt
    val tmp = new Path(path.getParent, path.getName + ".compact_tmp")
    fs.delete(tmp, true)
    spark.read.parquet(dir).repartition(nOut)
      .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    val trash = new Path(path.getParent, path.getName + ".compact_old")
    fs.delete(trash, true)
    if (!fs.rename(path, trash))
      throw new java.io.IOException(s"compact: cannot retire $path")
    if (!fs.rename(tmp, path)) {
      fs.rename(trash, path) // roll back: the live dir must never vanish
      throw new java.io.IOException(s"compact: cannot swap in $tmp")
    }
    fs.delete(trash, true)
    (before.length, dataFiles(path).length)
  }

  /** jsonl.gz sink (ref `writer.py:129-163`); sizing via
    * maxRecordsPerFile like the parquet twin. */
  def jsonlGz(df: DataFrame, out: String, mode: SaveMode = SaveMode.Overwrite,
              maxRecordsPerFile: Int = 0): Unit =
    sized(df, mode, maxRecordsPerFile).option("compression", "gzip").json(out)

  /** orc sink [EXT]: same contract as the parquet twin. ORC ships with
    * Spark and is the other columnar interchange format a user migrating
    * a warehouse pipeline expects to exist. */
  def orc(df: DataFrame, out: String, mode: SaveMode = SaveMode.Overwrite,
          maxRecordsPerFile: Int = 0): Unit =
    sized(df, mode, maxRecordsPerFile).orc(out)

  /** Hive-style partitioned parquet [EXT]: one directory per value of
    * `partitionCols` so downstream readers with a partition-column
    * filter scan ONLY the matching directories (PartitionFilters, gated
    * in SourcesSinksSpec). The layout lever that turns "scan 100 TB"
    * into "scan one domain/day". */
  def partitionedParquet(df: DataFrame, out: String, partitionCols: Seq[String],
                         mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).partitionBy(partitionCols: _*).parquet(out)

  /** dummy sink (ref `writer.py:313-323`): full compute, no output — the
    * benchmark-mode writer, mapped to Spark's noop source. */
  def dummy(df: DataFrame): Unit =
    df.write.format("noop").mode(SaveMode.Overwrite).save()

  /** files sink (ref `writer.py:270-310`): one `<key>.<ext>` payload file
    * + one `<key>.json` metadata file per sample, grouped in per-shard
    * subdirectories. Distributed: each partition writes its own rows —
    * no driver collect; any Hadoop filesystem scheme. */
  def files(df: DataFrame, out: String, keyCol: String = "key",
            payloadCol: String = "text", ext: String = "txt",
            sampleDigits: Int = 4, shardCol: Option[String] = None): Unit = {
    val fields = df.schema.fieldNames.toSeq
    val kIdx = fields.indexOf(keyCol)
    val pIdx = fields.indexOf(payloadCol)
    val sIdx = shardCol.map(fields.indexOf).getOrElse(-1)
    require(kIdx >= 0 && pIdx >= 0, s"files sink needs $keyCol and $payloadCol")
    require(shardCol.isEmpty || sIdx >= 0, s"files sink: missing shard column $shardCol")
    val conf = hadoopConf(df)
    // base dir exists even for an empty DataFrame (downstream listers
    // expect the sink root; executor-side mkdirs only fires per row)
    locally { val (fs, base) = fsFor(out, conf.value); fs.mkdirs(base) }
    df.foreachPartition { rows: Iterator[Row] =>
      val (fs, base) = fsFor(out, conf.value)
      val madeDirs = scala.collection.mutable.Set.empty[String]
      rows.foreach { row =>
        val key = row.getString(kIdx)
        // shard subdir: explicit shard column (page-keyed pipeline
        // output) or key minus the intra-shard digits (ref
        // `writer.py:283-287`: per-shard subdirectory named by shard id)
        val shard =
          if (sIdx >= 0) row.getString(sIdx)
          else if (key.length > sampleDigits) key.dropRight(sampleDigits)
          else "0"
        val shardDir = new Path(base, shard)
        if (madeDirs.add(shard)) fs.mkdirs(shardDir)
        val payload = row.get(pIdx) match {
          case b: Array[Byte] => b
          case s: String      => s.getBytes(StandardCharsets.UTF_8)
          case other          => String.valueOf(other).getBytes(StandardCharsets.UTF_8)
        }
        writeFully(fs, new Path(shardDir, s"$key.$ext"), payload)
        val meta = fields.zipWithIndex.filterNot(i => i._2 == pIdx || i._2 == sIdx)
          .map { case (f, i) => s""""$f": ${jsonVal(row.get(i))}""" }
          .mkString("{", ", ", "}")
        writeFully(fs, new Path(shardDir, s"$key.json"), meta.getBytes(StandardCharsets.UTF_8))
      }
    }
  }

  private def writeFully(fs: FileSystem, path: Path, bytes: Array[Byte]): Unit = {
    val o: OutputStream = fs.create(path, true)
    try o.write(bytes) finally o.close()
  }

  /** webdataset sink (ref `writer.py:88-126`): tars of (`<key>.<ext>`
    * payload, `<key>.json` meta) pairs + a parquet sidecar of the
    * metadata. Tar written with commons-compress (ships with Spark)
    * straight onto the Hadoop output stream.
    *
    * With `shardCol` set, output is ONE TAR PER SHARD named
    * `<shard>.tar` — the reference's shard-numbered layout
    * (`writer.py:40-52`); without it, one tar per partition named by
    * partition id (generic frames). Layout, atomicity and the sidecar
    * are [[shardFiles]]'s. */
  def webdataset(df: DataFrame, out: String, keyCol: String = "key",
                 payloadCol: String = "text", ext: String = "txt",
                 shardCol: Option[String] = None,
                 sidecarMode: SaveMode = SaveMode.Overwrite): Unit = {
    import org.apache.commons.compress.archivers.tar.TarArchiveOutputStream
    val fields = df.schema.fieldNames.toSeq
    val kIdx = fields.indexOf(keyCol)
    val pIdx = fields.indexOf(payloadCol)
    require(kIdx >= 0 && pIdx >= 0, s"webdataset sink needs $keyCol and $payloadCol")
    val metaIdx = fields.indices.filterNot(i => i == pIdx || shardCol.contains(fields(i)))
    shardFiles(df, out, "tar", keyCol, payloadCol, shardCol, sidecarMode) { os =>
      val tar = new TarArchiveOutputStream(os)
      tar.setLongFileMode(TarArchiveOutputStream.LONGFILE_POSIX)
      new ShardFile {
        def write(row: Row): Unit = {
          val key = row.getString(kIdx)
          val payload = row.get(pIdx) match {
            case b: Array[Byte] => b
            case s: String      => s.getBytes(StandardCharsets.UTF_8)
            case other          => String.valueOf(other).getBytes(StandardCharsets.UTF_8)
          }
          writeEntry(tar, s"$key.$ext", payload)
          val meta = metaIdx.map(i => s""""${fields(i)}": ${jsonVal(row.get(i))}""")
            .mkString("{", ", ", "}")
          writeEntry(tar, s"$key.json", meta.getBytes(StandardCharsets.UTF_8))
        }
        def close(): Unit = tar.close()
      }
    }
  }

  private def writeEntry(tar: org.apache.commons.compress.archivers.tar.TarArchiveOutputStream,
                         name: String, bytes: Array[Byte]): Unit = {
    val e = new org.apache.commons.compress.archivers.tar.TarArchiveEntry(name)
    e.setSize(bytes.length.toLong)
    tar.putArchiveEntry(e)
    tar.write(bytes)
    tar.closeArchiveEntry()
  }

  /** One open shard file of a [[shardFiles]] format: appends rows, then
    * closes (flushing any trailer) the stream it was opened on. */
  private[sinks] trait ShardFile {
    def write(row: Row): Unit
    def close(): Unit
  }

  /** The shard-file sinks' (webdataset, tfrecord) shared writer: rows
    * go into `<shard>.<ext>` files, one per value of `shardCol`
    * (repartitioned by it, ordered by shard then `keyCol`), or one
    * `<partition>.<ext>` per partition without it; `open` formats the
    * rows of one file. Every file is written as `.tmp` and renamed into
    * place once complete — a rename that fails fails the task — so an
    * existing file always means a complete shard, which is what makes
    * shard-level resume ([[resumeShards]]) sound.
    *
    * The same task that writes a file yields its rows minus the payload
    * and shard columns, and the parquet sidecar `_metadata.parquet`
    * (ref `writer.py:210-218`) is written from them: files and sidecar
    * are one job over one evaluation of `df`. Under Append (resume) the
    * sidecar is anti-joined on `keyCol`, so a REDONE shard (interrupted
    * file) doesn't duplicate its rows. */
  private[sinks] def shardFiles(df: DataFrame, out: String, ext: String, keyCol: String,
                                payloadCol: String, shardCol: Option[String],
                                sidecarMode: SaveMode)(open: OutputStream => ShardFile): Unit = {
    val keyed = df.columns.contains(keyCol)
    val arranged = shardCol match {
      case Some(c) => df.repartition(col(c))
        .sortWithinPartitions((col(c) +: (if (keyed) Seq(col(keyCol)) else Nil)): _*)
      case None    => df
    }
    val fields = arranged.schema.fieldNames.toSeq
    val sIdx = shardCol.map(fields.indexOf).getOrElse(-1)
    require(shardCol.isEmpty || sIdx >= 0, s"$ext sink: missing shard column $shardCol")
    val metaIdx = fields.indices.filterNot(i => i == sIdx || fields(i) == payloadCol)
    val metaSchema = StructType(metaIdx.map(arranged.schema.fields))
    val conf = hadoopConf(df)
    // base dir on the driver: an empty DataFrame still yields the sink root
    locally { val (fs, base) = fsFor(out, conf.value); fs.mkdirs(base) }
    val meta = arranged.mapPartitions { rows: Iterator[Row] =>
      val (fs, base) = fsFor(out, conf.value)
      val pid = f"${TaskContext.getPartitionId()}%05d"
      var shard: String = null
      var tmp: Path = null
      var file: ShardFile = null
      def finish(): Unit = if (file != null) {
        file.close(); file = null
        val dst = new Path(base, s"$shard.$ext")
        fs.delete(dst, false) // a rerun's stale copy; rename won't replace it on every FS
        if (!fs.rename(tmp, dst)) throw new java.io.IOException(s"cannot rename $tmp to $dst")
      }
      // a failed task closes its stream and leaves only the .tmp behind
      TaskContext.get().addTaskCompletionListener[Unit] { _ => if (file != null) file.close() }
      rows.map { row =>
        val s = if (sIdx < 0) pid else row.getString(sIdx)
        if (s != shard) {
          finish()
          shard = s
          tmp = new Path(base, s"$s.$ext.tmp")
          file = open(new BufferedOutputStream(fs.create(tmp, true)))
        }
        file.write(row)
        Row.fromSeq(metaIdx.map(row.get))
      } ++ { finish(); Iterator.empty } // by-name: runs once the rows are exhausted
    }(Encoders.row(metaSchema))
    val sidecar = s"$out/_metadata.parquet"
    val sidecarRows = if (sidecarMode == SaveMode.Append && keyed)
      resumeAntiJoin(meta, sidecar, keyCol) else meta
    sidecarRows.write.mode(sidecarMode).parquet(sidecar)
  }

  /** stats sink (ref `logger.py:162-191`): the status histogram of
    * `tagged` ([[Metrics.statusHistogram]]) written by [[writeStats]] —
    * replaces the per-shard JSON + polling logger process.
    * [[graft.Pipeline.run]] does not call this: it writes the histogram
    * its observation already holds. */
  def stats(tagged: DataFrame, out: String): Unit = {
    val spark = tagged.sparkSession
    import spark.implicits._
    writeStats(spark, Metrics.statusHistogram(tagged, Metrics.HistogramCap)
      .as[Metrics.StatusCount].collect().toSeq, out)
  }

  /** Writes histogram buckets from the driver as one JSON-lines file,
    * `{"status":…,"error_message":…,"count":…}` per line, replacing
    * `out` — no Spark job, so a sidecar costs no pass over the data. */
  def writeStats(spark: SparkSession, counts: Seq[Metrics.StatusCount], out: String): Unit = {
    val (fs, dir) = fsFor(out, spark.sessionState.newHadoopConf())
    fs.delete(dir, true)
    fs.mkdirs(dir)
    val lines = counts.map(c => s"""{"status":${jsonVal(c.status)},""" +
      s""""error_message":${jsonVal(c.error_message)},"count":${c.count}}\n""").mkString
    writeFully(fs, new Path(dir, "part-00000.json"), lines.getBytes(StandardCharsets.UTF_8))
    writeFully(fs, new Path(dir, "_SUCCESS"), Array.emptyByteArray)
  }

  /** Incremental resume (ref `main.py:140-151` done-shards scan): drop
    * rows whose key already exists in previous output — the idiomatic
    * anti-join replacement. `format` must match what was written
    * ("parquet" | "json"): reading jsonl output as parquet silently
    * no-oped the resume. */
  def resumeAntiJoin(df: DataFrame, existingOut: String, keyCol: String = "key",
                     format: String = "parquet"): DataFrame = {
    val spark = df.sparkSession
    val pending = dropTombstoned(df, existingOut, keyCol)
    // Fail-open ONLY when there is genuinely no prior output (first run:
    // path absent, or an empty directory with no readable files →
    // AnalysisException at schema inference). Any other failure — a
    // transient FS fault, a corrupt done-scan — must FAIL the run: a
    // swallowed error here silently re-processes every key and the sink
    // double-writes (the same fail-closed rule dropTombstoned applies).
    val outPath = new Path(existingOut)
    if (!outPath.getFileSystem(spark.sessionState.newHadoopConf()).exists(outPath))
      return pending
    val done = try {
      val prior = format match {
        case "json" => spark.read.json(existingOut)
        case _      => spark.read.parquet(existingOut)
      }
      prior.select(col(keyCol)).distinct()
    } catch {
      // ONLY schema inference over a file-less directory means "no prior
      // output". Any other AnalysisException — corrupt prior rows (json
      // inferring _corrupt_record then missing keyCol), a prior output
      // without keyCol — is real prior output we cannot trust, and
      // returning `pending` there double-writes; rethrow those.
      case e: org.apache.spark.sql.AnalysisException
          if Option(e.getCondition).exists(_.startsWith("UNABLE_TO_INFER_SCHEMA")) =>
        return pending
    }
    pending.join(done, Seq(keyCol), "left_anti")
  }

  /** Exclude keys tombstoned by `WebDataset.deleteKeys` under `out`
    * (no-op without a log): a right-to-be-forgotten delete must stay
    * deleted — without this, the next incremental run's anti-join (which
    * consults only sink CONTENTS) would happily re-fetch the forgotten
    * keys. Tombstone logs are tiny (deletion lists) → broadcast anti-join. */
  private[graft] def dropTombstoned(df: DataFrame, out: String, keyCol: String): DataFrame = {
    val spark = df.sparkSession
    // `out` may be the sink root (tombstones inside) or a file/sidecar
    // path under it (tombstones alongside) — honor either location
    val candidates = Seq(s"$out/_tombstones.parquet",
      new Path(out).getParent.toString + "/_tombstones.parquet").distinct
    // "no tombstone log" is the ONLY condition that may skip the filter:
    // probe existence explicitly instead of catching read errors — a
    // transient FS fault or corrupt log must FAIL the run, not silently
    // fail-open and let resume re-fetch forgotten keys.
    val hConf = spark.sessionState.newHadoopConf()
    candidates.foldLeft(df) { (acc, p) =>
      val path = new Path(p)
      if (!path.getFileSystem(hConf).exists(path)) acc
      else {
        // the log's column is whatever deleteKeys was given (usually
        // "key"); the PROBING column may differ (e.g. page_key at the
        // pipeline sink boundary) — match by the log's own column
        val log = spark.read.parquet(p)
        val logCol = if (log.columns.contains(keyCol)) keyCol else log.columns.head
        val ts = log.select(col(logCol).as("__ts_key")).distinct()
        acc.join(broadcast(ts), acc(keyCol) === col("__ts_key"), "left_anti")
      }
    }
  }

  /** Shard-level resume for the shard-file sinks (webdataset/tfrecord):
    * drop rows whose shard's output file already exists. Output files
    * are renamed into place only when complete, so existence == done —
    * the reference's done-shards scan (`main.py:140-151`), literally.
    * An interrupted shard (only a `.tmp` file) is redone whole.
    *
    * The listing streams through `listStatusIterator` (FileStatus
    * objects are not all materialized at once — only the names are
    * kept) and the done set rides a broadcast hash anti-join only while
    * it is broadcast-sized; past `broadcastLimit` names it becomes a
    * parallelized frame and the anti-join shuffles, so executors no
    * longer each hold the full set. The NAME list itself still passes
    * through the driver heap (a filesystem listing has no distributed
    * source); at ~50 bytes/name that bounds practical use to tens of
    * millions of shards — beyond that, keep a parquet manifest of done
    * shards next to the sink and anti-join against it directly. */
  def resumeShards(df: DataFrame, existingOut: String, shard: Column,
                   ext: String, broadcastLimit: Int = 100000,
                   keyCol: String = "key"): DataFrame = {
    val spark = df.sparkSession
    val df0 = if (df.columns.contains(keyCol))
      dropTombstoned(df, existingOut, keyCol) else df
    val doneNames = try {
      val (fs, base) = fsFor(existingOut, new Configuration(
        spark.sparkContext.hadoopConfiguration))
      val it = fs.listStatusIterator(base)
      val buf = scala.collection.mutable.ArrayBuffer.empty[String]
      while (it.hasNext) {
        val n = it.next().getPath.getName
        if (n.endsWith(s".$ext")) buf += n.stripSuffix(s".$ext")
      }
      buf.toSeq
    } catch { case _: Exception => return df0 }
    if (doneNames.isEmpty) return df0
    import spark.implicits._
    val done =
      if (doneNames.size <= broadcastLimit) broadcast(doneNames.toDF("__done_shard"))
      else spark.sparkContext
        .parallelize(doneNames, math.max(1, doneNames.size / 500000))
        .toDF("__done_shard")
    df0.join(done, shard === col("__done_shard"), "left_anti")
  }

  private def jsonVal(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case n: java.lang.Number => n.toString
    case b: Boolean => b.toString
    case t: java.sql.Timestamp => "\"" + t.toString + "\""
    case other => "\"" + String.valueOf(other) + "\""
  }
}

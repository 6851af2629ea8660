package graft.sources

import java.io.BufferedInputStream
import java.nio.charset.StandardCharsets

import org.apache.commons.compress.archivers.tar.TarArchiveInputStream
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** webdataset READER — the source twin of `Sinks.webdataset`, completing
  * the round trip the tfrecord pair already has (write with the sink,
  * read back as a DataFrame). Ref layout `writer.py:88-126`: tars of
  * (`<key>.<ext>` payload, `<key>.json` metadata) entry pairs.
  *
  * Scale shape: one task per tar (read parallelism = shard count = write
  * parallelism, the tfrecord DSv2 argument), each streamed through
  * commons-compress — rows are emitted as each (payload, meta) pair
  * completes, so buffering is O(unmatched stems): one entry for
  * sink-written tars (pairs are consecutive), bounded by the genuinely
  * unpaired stems for foreign tars — never the whole shard. The reader
  * tolerates any entry order within a tar by keying on the stem. */
object WebDataset {

  val schema: StructType = StructType(Seq(
    StructField("key", StringType),
    StructField("payload", BinaryType),
    StructField("meta", StringType),
    StructField("shard", StringType)))

  def read(spark: SparkSession, dir: String, ext: String = "txt"): DataFrame =
    readCounted(spark, dir, ext)._1

  /** [[read]], plus salvage observability: a counter of tars ended early
    * by corruption (at-least-once under task retries — alert on nonzero,
    * don't bill by it). */
  def readCounted(spark: SparkSession, dir: String, ext: String = "txt",
                  maxOrphanBytes: Long = 256L * 1024 * 1024)
      : (DataFrame, org.apache.spark.util.LongAccumulator) = {
    val tornTars = spark.sparkContext.longAccumulator("webdataset.tars.torn")
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val base = new Path(dir)
    val fs = base.getFileSystem(conf.value)
    val tars = fs.listStatus(base)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".tar"))
      .map(_.getPath.toString).sorted
    val rdd = spark.sparkContext
      .parallelize(tars.toIndexedSeq, math.max(1, tars.length))
      .flatMap { tarPath =>
        val p = new Path(tarPath)
        val shard = p.getName.stripSuffix(".tar")
        val in = new TarArchiveInputStream(
          new BufferedInputStream(p.getFileSystem(conf.value).open(p)))
        // the iterator below may not be drained on task failure — tie the
        // stream's lifetime to the task, not the iterator
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => in.close()))
        // emit a row the moment an entry's (payload, meta) pair is
        // complete — the sink writes pairs consecutively, so steady-state
        // buffering is ONE unmatched stem, not the whole shard. Only
        // genuinely unpaired stems stay buffered; payloads still
        // unmatched at EOF emit with null meta (orphan metas drop).
        // Duplicate stems (a foreign tar appended to with --append; the
        // sink never writes one): the FIRST complete pair wins and later
        // occurrences are skipped via a stems-seen guard — O(#stems)
        // strings, payloads never re-buffered. (The pre-streaming reader
        // was last-wins at the cost of buffering the whole shard.)
        new Iterator[Row] {
          private val orphanPayloads = collection.mutable.LinkedHashMap.empty[String, Array[Byte]]
          private val orphanMetas = collection.mutable.LinkedHashMap.empty[String, String]
          private val seen = collection.mutable.HashSet.empty[String]
          // Unmatched-entry buffer caps: a tar that is ALL orphans (the
          // pair side never arrives — adversarial or a foreign layout)
          // would otherwise buffer the whole shard on-heap. Past the cap
          // the OLDEST orphan payload is emitted with null meta — the
          // same salvage row it would get at EOF, just early — and the
          // OLDEST orphan meta is dropped — the same fate it would get
          // at EOF (its payload, if it ever arrives, still salvages
          // with null meta). Memory is bounded and no payload is lost;
          // a meta arriving after its payload was evicted is dropped
          // like any other orphan meta.
          private val MaxOrphanBytes = maxOrphanBytes
          private var orphanBytes = 0L
          private var metaBytes = 0L
          private var drain: Iterator[Row] = null
          private var queued: Row = fetch()

          // corruption policy (mirrors Warc.parseStream): a torn or
          // garbage tar tail ends the archive and SALVAGES the pairs
          // already read — one corrupt shard byte must never fail the
          // whole task (and with it the job, after retries)
          private def endAndDrain(): Unit = {
            try in.close() catch { case _: java.io.IOException => () }
            drain = orphanPayloads.iterator.map { case (k, b) => Row(k, b, null, shard) }
          }

          private def fetch(): Row = {
            var out: Row = null
            var done = false
            while (!done) {
              if (drain != null) {
                if (drain.hasNext) out = drain.next()
                done = true
              } else {
                val e = try in.getNextEntry catch {
                  case _: java.io.IOException => tornTars.add(1L); null
                }
                if (e == null) {
                  endAndDrain()
                } else if (!e.isDirectory) {
                  try {
                    val n = e.getName
                    if (n.endsWith(".json")) {
                      val k = n.stripSuffix(".json")
                      if (!seen.contains(k)) {
                        val m = new String(in.readAllBytes(), StandardCharsets.UTF_8)
                        orphanPayloads.remove(k) match {
                          case Some(b) =>
                            orphanBytes -= b.length
                            seen += k; out = Row(k, b, m, shard); done = true
                          case None =>
                            // duplicate-stem meta: replace (last-wins
                            // pre-pairing) without drifting the counter
                            orphanMetas.remove(k).foreach(old => metaBytes -= old.length)
                            orphanMetas(k) = m
                            metaBytes += m.length
                            if (metaBytes > MaxOrphanBytes && orphanMetas.size > 1) {
                              val (ek, em) = orphanMetas.head
                              orphanMetas.remove(ek)
                              metaBytes -= em.length
                            }
                        }
                      }
                    } else if (n.endsWith(s".$ext")) {
                      val k = n.stripSuffix(s".$ext")
                      if (!seen.contains(k)) {
                        val b = in.readAllBytes()
                        orphanMetas.remove(k) match {
                          case Some(m) =>
                            metaBytes -= m.length
                            seen += k; out = Row(k, b, m, shard); done = true
                          case None =>
                            // duplicate-stem payload: replace (last-wins
                            // pre-pairing) without drifting the counter
                            orphanPayloads.remove(k).foreach(old => orphanBytes -= old.length)
                            orphanPayloads(k) = b
                            orphanBytes += b.length
                            if (orphanBytes > MaxOrphanBytes && orphanPayloads.size > 1) {
                              val (ek, eb) = orphanPayloads.head
                              orphanPayloads.remove(ek)
                              orphanBytes -= eb.length
                              seen += ek
                              out = Row(ek, eb, null, shard); done = true
                            }
                        }
                      }
                    }
                  } catch {
                    case _: java.io.IOException => // truncated entry
                      tornTars.add(1L); endAndDrain()
                  }
                }
              }
            }
            out
          }

          override def hasNext: Boolean = queued != null
          override def next(): Row = {
            val r = queued; queued = fetch(); r
          }
        }
      }
    (spark.createDataFrame(rdd, schema), tornTars)
  }

  /** Surgical key deletion (right-to-be-forgotten maintenance): rewrite
    * ONLY the tars that contain a deleted key, atomically (tmp+rename,
    * the sink's own swap discipline), leaving every other shard's bytes
    * untouched; the parquet metadata sidecar is rewritten without the
    * keys. Returns (tarsRewritten, tarsTotal).
    *
    * Scale shape: the deletion set broadcasts (deletion lists are tiny
    * by nature); a first distributed pass streams entry HEADERS to find
    * affected tars (no payload read), a second rewrites only those —
    * cost tracks |affected shards|, not the corpus. */
  def deleteKeys(spark: SparkSession, dir: String, keys: Set[String],
                 ext: String = "txt", keyCol: String = "key"): (Int, Int) = {
    require(keys.nonEmpty, "deleteKeys: empty deletion set")
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val base = new Path(dir)
    val fs = base.getFileSystem(conf.value)
    val tars = fs.listStatus(base)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".tar"))
      .map(_.getPath.toString).sorted
    val bKeys = spark.sparkContext.broadcast(keys)
    // self-guarding: a dotless entry name (foreign tar member) has no
    // stem and is never doomed — both passes call this unguarded
    val doomed = (n: String) => {
      val dot = n.lastIndexOf('.')
      dot >= 0 && bKeys.value.contains(n.substring(0, dot))
    }
    // pass 1: headers only — which tars hold a doomed entry
    val affected = spark.sparkContext
      .parallelize(tars.toIndexedSeq, math.max(1, tars.length))
      .filter { tarPath =>
        val p = new Path(tarPath)
        val in = new TarArchiveInputStream(
          new BufferedInputStream(p.getFileSystem(conf.value).open(p)))
        try {
          Iterator.continually(in.getNextEntry).takeWhile(_ != null)
            .exists(e => !e.isDirectory && e.getName.contains('.') && doomed(e.getName))
        } finally in.close()
      }.collect()
    // pass 2: rewrite only those, excluding doomed entries
    spark.sparkContext
      .parallelize(affected.toIndexedSeq, math.max(1, affected.length))
      .foreach { tarPath =>
        import org.apache.commons.compress.archivers.tar.TarArchiveOutputStream
        val p = new Path(tarPath)
        val pfs = p.getFileSystem(conf.value)
        val tmp = new Path(p.getParent, p.getName + ".del_tmp")
        val in = new TarArchiveInputStream(new BufferedInputStream(pfs.open(p)))
        val out = new TarArchiveOutputStream(
          new java.io.BufferedOutputStream(pfs.create(tmp, true)))
        out.setLongFileMode(TarArchiveOutputStream.LONGFILE_POSIX)
        try {
          var e = in.getNextEntry
          while (e != null) {
            if (!e.isDirectory && !doomed(e.getName))
              graft.sinks.Sinks.writeEntry(out, e.getName, in.readAllBytes())
            e = in.getNextEntry
          }
        } finally { in.close(); out.close() }
        // Hadoop rename refuses an existing destination: retire the live
        // tar first, swap the rewrite in, then drop the retired copy
        // (roll back if the swap fails — the shard must never vanish)
        val old = new Path(p.getParent, p.getName + ".del_old")
        pfs.delete(old, true)
        if (!pfs.rename(p, old))
          throw new java.io.IOException(s"deleteKeys: cannot retire $p")
        if (!pfs.rename(tmp, p)) {
          pfs.rename(old, p)
          throw new java.io.IOException(s"deleteKeys: cannot swap $tmp over $p")
        }
        pfs.delete(old, true)
      }
    // sidecar rewrite without the keys (tmp dir + swap, never in place)
    val sidecar = new Path(base, "_metadata.parquet")
    if (fs.exists(sidecar)) {
      val tmpSide = new Path(base, "_metadata.parquet.del_tmp")
      spark.read.parquet(sidecar.toString)
        .filter(!org.apache.spark.sql.functions.col(keyCol).isin(keys.toSeq: _*))
        .write.mode("overwrite").parquet(tmpSide.toString)
      fs.delete(sidecar, true)
      if (!fs.rename(tmpSide, sidecar))
        throw new java.io.IOException(s"deleteKeys: cannot swap sidecar")
    }
    // tombstones: a deleted key must STAY deleted — resume's anti-join
    // consults the sink contents, and a bare delete would make the next
    // incremental run re-fetch the forgotten key. Append-only log;
    // graft.Pipeline resume reads it via Sinks.tombstonedKeys.
    import spark.implicits._
    keys.toSeq.toDF(keyCol).write.mode("append")
      .parquet(new Path(base, "_tombstones.parquet").toString)
    (affected.length, tars.length)
  }
}

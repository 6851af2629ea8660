package pipebench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis
import graft.operators.Dedup

/** The curation corpus staged as page-text parquet, the dedup job over it,
  * and the brute-force truth its output is checked against. */
final class CurateData(val set: Corpus.CurationSet, dir: String) {
  val path = s"$dir/pages.parquet"
  private val warmupPath = s"$dir/warmup.parquet"
  val docs: Int = set.docs.size

  def stage(spark: SparkSession): Unit = {
    import spark.implicits._
    val pages = set.docs.map(d => (d.key, d.text)).toDF("key", "text")
    pages.repartition(4).write.mode(SaveMode.Overwrite).parquet(path)
    pages.filter(pmod(hash(col("key")), lit(4)) === 0).repartition(4)
      .write.mode(SaveMode.Overwrite).parquet(warmupPath)
  }

  def readable(spark: SparkSession): Long = {
    val n = spark.read.parquet(path).count()
    require(n == docs, "staged pages incomplete")
    n
  }

  /** The job: exact dedup, then near-duplicate dedup keeping the best
    * `qualityScore` row per group, written as parquet. `warmup` runs it
    * on a quarter of the pages. */
  def run(spark: SparkSession, out: String, warmup: Boolean = false): Unit = {
    val pages = spark.read.parquet(if (warmup) warmupPath else path)
    val exact = Dedup.exact(pages, col("text"), col("key"))
    Dedup.nearDupCorpus(exact, col("text"), col("key"), TextAnalysis.qualityScore(col("text")))
      .write.mode(SaveMode.Overwrite).parquet(out)
    Dedup.unpersistAll()
  }

  // ------------------------------------------------------------- truth

  /** Near-duplicate threshold of the truth: `nearDupCorpus`'s default
    * `minJaccard` on word 3-shingles. */
  val Threshold = 0.5
  /** Share of the truly redundant documents the job must remove. */
  val MinRecall = 0.9

  // units: a distinct text (one key) or one exact-duplicate group (its keys)
  private val units: IndexedSeq[(IndexedSeq[String], String)] = {
    val text = set.docs.map(d => d.key -> d.text).toMap
    set.distinct.map(k => (IndexedSeq(k), text(k))) ++
      set.exactGroups.map(g => (g, text(g.head))) ++
      set.nearClusters.flatten.map(k => (IndexedSeq(k), text(k)))
  }

  /** Brute-force Jaccard over word 3-shingles for every pair of units
    * that share a shingle; clusters are the connected components of the
    * pairs at or above [[Threshold]]. */
  val trueClusters: IndexedSeq[IndexedSeq[Int]] = {
    val shingles = units.map { case (_, t) =>
      val w = t.split(" ")
      (0 to math.max(0, w.length - 3)).map(i => w.slice(i, i + 3).mkString(" ")).toSet
    }
    val index = scala.collection.mutable.HashMap.empty[String, ArrayBuffer[Int]]
    shingles.zipWithIndex.foreach { case (s, u) => s.foreach(x => index.getOrElseUpdate(x, ArrayBuffer()) += u) }
    val parent = Array.tabulate(units.size)(identity)
    def find(x: Int): Int = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    shingles.indices.foreach { a =>
      val others = shingles(a).iterator.flatMap(index(_)).filter(_ > a).toSet
      others.foreach { b =>
        val inter = (shingles(a) intersect shingles(b)).size.toDouble
        if (inter / (shingles(a).size + shingles(b).size - inter) >= Threshold)
          parent(find(b)) = find(a)
      }
    }
    units.indices.groupBy(find).values.filter(_.size > 1).map(_.toIndexedSeq).toIndexedSeq
  }

  def check(spark: SparkSession, out: String): Outcome = {
    val errors = ArrayBuffer.empty[String]
    val kept = spark.read.parquet(out).select("key").collect().map(_.getString(0))
    val keptSet = kept.toSet
    if (keptSet.size != kept.length) errors += s"${kept.length - keptSet.size} duplicate output keys"
    val all = set.docs.map(_.key).toSet
    kept.filterNot(all.contains).take(3).foreach(k => errors += s"unknown key $k")
    def keptOf(u: Int) = units(u)._1.count(keptSet.contains)
    val clustered = trueClusters.flatten.toSet
    units.indices.filterNot(clustered.contains).foreach { u =>
      val n = keptOf(u)
      if (n != 1) errors += s"${units(u)._1.mkString(",")}: $n rows kept, expected 1"
    }
    var removed, redundant = 0
    trueClusters.foreach { c =>
      val n = c.map(keptOf).sum
      if (n == 0) errors += s"near-duplicate cluster ${units(c.head)._1.head} lost every row"
      removed += c.size - math.max(n, 1)
      redundant += c.size - 1
    }
    val recall = if (redundant == 0) 1.0 else removed.toDouble / redundant
    if (recall < MinRecall) errors += f"near-duplicate recall $recall%.3f < $MinRecall"
    Outcome(docs, 0, errors.toVector)
  }
}

object CurateData {

  /** Dedup layers over a (key, text) frame, each in its own span. */
  def replay(spark: SparkSession, text0: DataFrame, tr: Tracer,
             lis: EngineListener): Map[String, Double] = {
    def noop(df: DataFrame): Unit = df.write.format("noop").mode(SaveMode.Overwrite).save()
    val text = text0.cache(); text.count()
    val (exact, exactS) = tr.span("operators.dedup.exact") {
      val e = Dedup.exact(text, col("text"), col("key")).cache(); e.count(); e
    }
    val (sigs, sigS) = tr.span("operators.dedup.signatures") {
      val s = Dedup.signatures(exact, col("text"), col("key")).cache(); s.count(); s
    }
    val (verified, candS) = tr.span("operators.dedup.candidates") {
      val v = Dedup.minhashCandidates(exact, col("text"), col("key")).cache(); v.count(); v
    }
    // every banded-join candidate, before verification, counted from the
    // signatures' band hashes the same way the operator joins them
    val banded = sigs.select(col("k"), posexplode(col("mh._2")).as(Seq("band", "bucket")))
    val candidates = banded.as("a").join(banded.as("b"), Seq("band", "bucket"))
      .filter(col("a.k") < col("b.k")).select(col("a.k"), col("b.k")).distinct().count()
    val compS = tr.seconds("operators.dedup.components") {
      Dedup.connectedComponents(verified).count()
    }
    val nearS = tr.seconds("operators.dedup.near") {
      noop(Dedup.nearDupCorpus(exact, col("text"), col("key"), TextAnalysis.qualityScore(col("text"))))
    }
    org.apache.spark.PipebenchBridge.drain(spark.sparkContext)
    val ts = lis.tasksOf(_.startsWith("operators.dedup"))
    val out = Map(
      "operators.dedup.exact.s" -> exactS.seconds,
      "operators.dedup.signatures.s" -> sigS.seconds,
      "operators.dedup.candidates.s" -> candS.seconds,
      "operators.dedup.candidate_pairs" -> candidates.toDouble,
      "operators.dedup.verified_per_candidate" ->
        (if (candidates == 0) 0.0 else verified.count().toDouble / candidates),
      "operators.dedup.components.s" -> compS,
      // nearDupCorpus = candidates + components + survivor selection
      "operators.dedup.survivor.s" -> (nearS - candS.seconds - compS),
      "operators.dedup.shuffle_mb" -> ts.map(_.shuffleWrite).sum / 1e6,
      "operators.dedup.spill_mb" -> ts.map(_.spillDisk).sum / 1e6)
    Seq(text, exact, sigs, verified).foreach(_.unpersist())
    Dedup.unpersistAll()
    out
  }
}

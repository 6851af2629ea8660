package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Bloom-filter blocklist membership — the runtime-filter pattern for
  * subtracting a blocklist from a 100 TB stream without shuffling it.
  *
  * An exact anti-join shuffles BOTH sides on the key. The bloom variant
  * aggregates the blocklist into a compact sketch (size O(n·log(1/fpp))
  * bits, independent of the stream), broadcasts it, and filters map-side:
  * the big side is never shuffled at all. Bloom guarantees NO false
  * negatives — every blocklisted key is always dropped; `fpp` bounds the
  * rate of extra (false-positive) drops, asserted in CurationSpec.
  *
  * Anti-join parity rules (both asserted in specs):
  *  - null keys are KEPT — a null matches nothing in an anti-join;
  *  - the sketch is built and probed on the SAME representation: string
  *    keys stay strings, every integral key is widened to long. A
  *    type-mismatched probe would silently block nothing (bloom hashes
  *    the raw bytes, so long 123 and string "123" never collide).
  *
  * This is the same mechanism Spark's own runtime bloom-filter join
  * (`spark.sql.optimizer.runtime.bloomFilter.enabled`) injects for
  * selective joins — exposed here as an explicit operator because the
  * optimizer only triggers it on statistics local test scales don't
  * produce. Extension surface [EXT] (SURVEY §2.4 runtime filters).
  */
object Blocklist {

  /** Keep only rows of `df` whose `key` is NOT (probably) in the
    * blocklist. Result is a subset of the exact anti-join: all true
    * members are dropped, plus at most ~fpp of the non-members; null
    * keys pass through like in the exact anti-join. */
  def filterNotIn(df: DataFrame, key: Column,
                  blocklist: DataFrame, blockKey: Column,
                  expectedItems: Long, fpp: Double = 0.01): DataFrame = {
    // an empty blocklist blocks nothing — and Spark's stat.bloomFilter
    // NPEs on an empty frame (no sketch row comes back), so short-circuit
    if (blocklist.isEmpty) return df
    val keyed = blocklist.select(blockKey.as("__k"))
    keyed.schema.head.dataType match {
      case StringType =>
        val bf = keyed.stat.bloomFilter("__k", expectedItems, fpp)
        val bc = df.sparkSession.sparkContext.broadcast(bf)
        val keep = udf((k: String) => k == null || !bc.value.mightContainString(k))
        df.filter(keep(key.cast("string")))
      case ByteType | ShortType | IntegerType | LongType =>
        val bf = keyed.select(col("__k").cast("long")).stat.bloomFilter("__k", expectedItems, fpp)
        val bc = df.sparkSession.sparkContext.broadcast(bf)
        val keep = udf((k: java.lang.Long) => k == null || !bc.value.mightContainLong(k))
        df.filter(keep(key.cast("long")))
      case dt =>
        throw new IllegalArgumentException(
          s"bloom blocklist supports string and integral keys, got $dt")
    }
  }

  /** EXACT anti-join at bloom cost — the no-false-negative guarantee as
    * a correctness lever (the q115 one-sided-bound discipline): rows the
    * sketch clears are DEFINITE non-members and keep map-side with no
    * shuffle; only the ~fpp sliver of possible members pays the exact
    * anti-join that removes false positives. Result is bit-identical to
    * the plain anti-join (oracle-checked in q173).
    *
    * At 100 TB this is the shape for a blocklist too big to broadcast:
    * the stream side of the residual join shrinks from n to ~fpp·n +
    * true members, so even a shuffle anti-join on the sliver is cheap;
    * here the sliver side uses a broadcast anti-join. Null keys pass
    * through, matching anti-join semantics. */
  def exactAntiJoin(df: DataFrame, key: Column,
                    blocklist: DataFrame, blockKey: Column,
                    expectedItems: Long, fpp: Double = 0.01): DataFrame = {
    if (blocklist.isEmpty) return df
    val keyed = blocklist.select(blockKey.as("__k"))
    val mightContain: Column = keyed.schema.head.dataType match {
      case StringType =>
        val bf = keyed.stat.bloomFilter("__k", expectedItems, fpp)
        val bc = df.sparkSession.sparkContext.broadcast(bf)
        val m = udf((k: String) => k != null && bc.value.mightContainString(k))
        m(key.cast("string"))
      case ByteType | ShortType | IntegerType | LongType =>
        val bf = keyed.select(col("__k").cast("long"))
          .stat.bloomFilter("__k", expectedItems, fpp)
        val bc = df.sparkSession.sparkContext.broadcast(bf)
        val m = udf((k: java.lang.Long) => k != null && bc.value.mightContainLong(k))
        m(key.cast("long"))
      case dt =>
        throw new IllegalArgumentException(
          s"bloom blocklist supports string and integral keys, got $dt")
    }
    val flagged = df.withColumn("__might", mightContain)
    val sure = flagged.filter(!col("__might")).drop("__might")
    val sliver = flagged.filter(col("__might")).drop("__might")
      .join(broadcast(keyed.distinct()), key === col("__k"), "left_anti")
    sure.unionByName(sliver)
  }
}

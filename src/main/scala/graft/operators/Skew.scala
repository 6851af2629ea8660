package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation for hot keys (SURVEY §4 / §7.5.3 — heavy-tailed
  * document sizes are the expected 100 TB failure mode).
  *
  * AQE's skew-join handling (`spark.sql.adaptive.skewJoin`) is the first
  * line of defense and is enabled in the engine sessions; these manual
  * operators cover the cases AQE cannot re-plan: skewed aggregation
  * (one giant group) and broadcast-averse skewed joins.
  */
object Skew {

  /** Deterministic salt in [0, salts) derived from a source column —
    * never `rand()` (task retries must reproduce the same salt or
    * shuffle outputs disagree across attempts). */
  def saltColumn(source: Column, salts: Int): Column =
    pmod(xxhash64(source), lit(salts.toLong)).cast("int")

  /** Skew-safe equi-join: the skewed side is salted (`saltSrc` must be a
    * column that distributes rows of one hot key across salts, e.g. a
    * unique row id), the dim side is replicated `salts` ways. Each hot
    * key's rows land in `salts` tasks instead of one. */
  def saltedJoin(skewed: DataFrame, dim: DataFrame, key: String,
                 saltSrc: Column, salts: Int): DataFrame = {
    val s = skewed.withColumn("__salt", saltColumn(saltSrc, salts))
    val d = dim
      .withColumn("__salt", explode(sequence(lit(0), lit(salts - 1))))
      .withColumn("__salt", col("__salt").cast("int"))
    s.join(d, Seq(key, "__salt")).drop("__salt")
  }

  /** Salt count derived from OBSERVED key frequencies instead of a fixed
    * constant: estimate the hottest key's row count from a seeded sample
    * (deterministic — retries and the counts job see the same estimate)
    * and size salts so one key's rows split into ~`targetRowsPerSalt`
    * chunks. A uniform table yields 1 — i.e. ZERO dim replication when
    * there is no skew; a fixed `salts = 8` pays 8× dim traffic always.
    * The estimate only tunes parallelism: an off-by-2× sample error
    * changes task sizing, never join results.
    *
    * Caveat (and why [[saltsFromCounts]] exists): a rare-but-hot key —
    * say 0.5% of all rows — can draw zero sample rows at a 1% fraction
    * and yield 1 salt; AQE skew-join backstops the miss at runtime.
    * When an exact per-key counts frame already exists (the q153 skew
    * report computes one), derive salts from it instead of re-sampling. */
  def adaptiveSalts(skewed: DataFrame, key: String,
                    targetRowsPerSalt: Long = 1000000L,
                    sampleFraction: Double = 0.01,
                    maxSalts: Int = 64): Int = {
    val top = skewed.sample(withReplacement = false, sampleFraction, seed = 42L)
      .groupBy(col(key)).agg(count(lit(1)).as("__c"))
      .agg(max(col("__c")).as("__m")).head()
    val estMax =
      if (top.isNullAt(0)) 0L
      else math.round(top.getLong(0) / sampleFraction)
    math.max(1, math.min(maxSalts,
      math.ceil(estMax.toDouble / targetRowsPerSalt).toInt))
  }

  /** Exact tier of [[adaptiveSalts]]: size salts from an ALREADY-COMPUTED
    * per-key counts frame (e.g. the skew-report output, or the partial
    * aggregate a surrounding pipeline materialized anyway) — no sampling
    * error, no extra scan of the fact table. The counts frame is
    * key-cardinality-sized, and only its max is reduced to the driver. */
  def saltsFromCounts(keyCounts: DataFrame, countCol: String,
                      targetRowsPerSalt: Long = 1000000L,
                      maxSalts: Int = 64): Int = {
    val top = keyCounts.agg(max(col(countCol).cast("long")).as("__m")).head()
    val exactMax = if (top.isNullAt(0)) 0L else top.getLong(0)
    math.max(1, math.min(maxSalts,
      math.ceil(exactMax.toDouble / targetRowsPerSalt).toInt))
  }

  /** Skew-safe count/sum aggregation: partial aggregate on (key, salt),
    * final on key. Decomposable aggregates only — the partial pass does
    * the heavy lifting in `salts`-way parallelism. */
  def saltedSumCount(df: DataFrame, key: String, value: Column,
                     saltSrc: Column, salts: Int): DataFrame =
    df.withColumn("__salt", saltColumn(saltSrc, salts))
      .withColumn("__v", value)
      .groupBy(col(key), col("__salt"))
      .agg(count(lit(1)).as("__pc"), sum(col("__v")).as("__ps"))
      .groupBy(col(key))
      .agg(sum(col("__pc")).as("n"), sum(col("__ps")).as("total"))
}

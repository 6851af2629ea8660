package graft

import org.apache.spark.sql.functions._

/** Direct measurement of the pHash band join's candidate-volume law
  * (VERDICT r15 item 3 follow-through): at N distinct 64-bit hashes,
  * a 16-bit band has expected bucket occupancy N/65536, so candidate
  * pairs grow as 4·C(N/65536, 2)·65536 ≈ N²/32768 — quadratic in N
  * with a 2¹⁵ constant. This main synthesizes N unique md5-derived
  * hashes (2% planted ≤3-bit neighbors) straight from `spark.range`
  * (no fixture needed), runs [[graft.operators.Dedup.phashNearDups]],
  * and prints one JSON line per N: elapsed seconds, output pairs, and
  * the planted-pair recall — the numbers SCALE.md quotes.
  *
  * Usage: runMain graft.BandScale [N1,N2,...]   (default 500k,1m,2m,4m)
  */
object BandScale {
  def main(args: Array[String]): Unit = {
    val ns: Seq[Long] =
      if (args.nonEmpty) args(0).split(",").map(_.trim.toLong).toSeq
      else Seq(500000L, 1000000L, 2000000L, 4000000L)
    val spark = GraftSession.local(GraftSession.cpus)
    def h64(c: org.apache.spark.sql.Column) = {
      val m = md5(c.cast("string"))
      shiftleft(conv(substring(m, 1, 8), 16, 10).cast("long"), 32)
        .bitwiseOR(conv(substring(m, 9, 8), 16, 10).cast("long"))
    }
    val rows = ns.map { n =>
      val mask = when(expr("id div 50") % 3 === 0, lit(0x80L))
        .when(expr("id div 50") % 3 === 1, lit((1L << 7) | (1L << 33)))
        .otherwise(lit((1L << 7) | (1L << 33) | (1L << 55)))
      val hashes = spark.range(n).select(col("id").as("doc_id"),
        when(col("id") % 50 === 49, h64(col("id") - 1).bitwiseXOR(mask))
          .otherwise(h64(col("id"))).as("phash"))
      // warm once (JIT), then time
      def run(): (Double, Long, Long) = {
        val t0 = System.nanoTime()
        val agg = graft.operators.Dedup.phashNearDups(hashes)
          .agg(count(lit(1)).as("pairs"),
            sum(when(col("key_b") === col("key_a") + 1 &&
              col("key_b") % 50 === 49, 1L).otherwise(0L)).as("planted"))
          .collect()(0)
        ((System.nanoTime() - t0) / 1e9, agg.getLong(0), agg.getLong(1))
      }
      run()
      val (sec, pairs, planted) = run()
      // scoped variant (r17 — VERDICT r16 Next #4): 16 contiguous
      // blocks as the partition key; block size a multiple of 50 so
      // every planted (id−1, id) pair stays in-scope. Candidate volume
      // drops from ~N²/2¹⁵ to Σ|block|²/2¹⁵ = N²/(16·2¹⁵) — the law
      // callers buy with a shard key at 100 TB.
      val blockSize = math.max(50L, (n / 16 / 50) * 50)
      val scoped = hashes.withColumn("scope", expr(s"doc_id div $blockSize"))
      def runScoped(): (Double, Long, Long) = {
        val t0 = System.nanoTime()
        val agg = graft.operators.Dedup.phashNearDups(scoped,
            scopeCols = Seq("scope"))
          .agg(count(lit(1)).as("pairs"),
            sum(when(col("key_b") === col("key_a") + 1 &&
              col("key_b") % 50 === 49, 1L).otherwise(0L)).as("planted"))
          .collect()(0)
        ((System.nanoTime() - t0) / 1e9, agg.getLong(0), agg.getLong(1))
      }
      runScoped()
      val (sSec, sPairs, sPlanted) = runScoped()
      val line = f"""{"n":$n,"sec":$sec%.2f,"pairs":$pairs,"planted":$planted,"expected_planted":${n / 50},"scoped_sec":$sSec%.2f,"scoped_pairs":$sPairs,"scoped_planted":$sPlanted}"""
      println(line)
      line
    }
    println(s"""{"band_scale":[${rows.mkString(",")}]}""")
    spark.stop()
  }
}

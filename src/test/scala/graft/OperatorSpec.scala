package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row
import java.sql.Timestamp

import graft.functions.Vectors
import graft.operators.{AsOf, Dedup, Similarity}

class VectorsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("cosine/dot known values and null semantics") {
    val df = Seq(
      (Seq(1f, 0f), Seq(0f, 1f)),   // orthogonal -> 0
      (Seq(1f, 2f), Seq(2f, 4f)),   // parallel -> 1
      (Seq(1f, 1f), Seq(1f, 0f)),   // 45 deg -> 1/sqrt(2)
    ).toDF("a", "b")
    val got = df.select(Vectors.cosine(col("a"), col("b")).as("c"),
      Vectors.dot(col("a"), col("b")).as("d")).collect()
    assert(math.abs(got(0).getDouble(0)) < 1e-12 && got(0).getDouble(1) == 0.0)
    assert(math.abs(got(1).getDouble(0) - 1.0) < 1e-12 && got(1).getDouble(1) == 10.0)
    assert(math.abs(got(2).getDouble(0) - 1.0 / math.sqrt(2)) < 1e-12)

    val bad = Seq((Seq(1f, 0f), Seq(1f, 0f, 3f)), (Seq(0f, 0f), Seq(1f, 0f)))
      .toDF("a", "b").select(Vectors.cosine(col("a"), col("b")).as("c")).collect()
    assert(bad(0).isNullAt(0), "length mismatch -> null")
    assert(bad(1).isNullAt(0), "zero norm -> null")
  }

  test("SQL registration: cosine_sim/dot_product usable from spark.sql") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT cosine_sim(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
        |                  array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c,
        |       dot_product(array(CAST(2.0 AS FLOAT), CAST(3.0 AS FLOAT)),
        |                   array(CAST(4.0 AS FLOAT), CAST(5.0 AS FLOAT))) AS d""".stripMargin)
      .collect()(0)
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12 && r.getDouble(1) == 23.0)
  }

  test("PortableRoundRule: opted-in session rewrites SQL round to the floor form") {
    // isolated child session: experimental optimizations are
    // per-session, so the shared TestSpark session keeps stock
    // round semantics
    val s2 = spark.newSession()
    GraftExtensions.registerOptimizations(s2)
    // COLUMN data (a foldable literal would constant-fold with stock
    // semantics before any optimizer rule runs — the rule targets real
    // columns, which is where cross-engine reproducibility matters)
    s2.range(1).selectExpr("CAST(id AS DOUBLE) - 2.5 AS x",
        "CAST(id AS DOUBLE) + 0.1234567895 AS y")
      .createOrReplaceTempView("pr_t")
    // a negative exact half: HALF_UP gives -3, the portable floor form
    // (ties toward +inf, matching FLOOR(x*1e0+0.5) on any engine) -2
    val row = s2.sql("SELECT round(x, 0) AS r, round(y, 9) AS r9, bround(x, 0) AS be FROM pr_t").head
    assert(row.getDouble(0) === -2.0,
      s"portable round must break ties toward +inf: ${row.getDouble(0)}")
    // scale > 0: equal to the hand-written pround discipline
    assert(row.getDouble(1) === math.floor(0.1234567895 * 1e9 + 0.5) / 1e9)
    // bround (HALF_EVEN) is untouched by the rule
    assert(row.getDouble(2) === -2.0, "bround must keep HALF_EVEN")
    // the shared session (no opt-in) keeps Spark's stock HALF_UP
    spark.range(1).selectExpr("CAST(id AS DOUBLE) - 2.5 AS x")
      .createOrReplaceTempView("pr_stock_t")
    val stock = spark.sql("SELECT round(x, 0) AS r FROM pr_stock_t").head.getDouble(0)
    assert(stock === -3.0, "shared session must keep Spark HALF_UP semantics")
  }

  test("SQL registration: shingle kernels plan the SAME expression as the DSL") {
    GraftExtensions.register(spark)
    import spark.implicits._
    val df = Seq((1L, "The quick, BROWN fox jumps over the lazy dog"),
      (2L, "")).toDF("id", "text")
    df.createOrReplaceTempView("sql_shingle_t")
    val sql = spark.sql(
      """SELECT id, shingles(text, 3) AS sh, distinct_shingles(text, 3) AS dsh,
        |       simhash64(text, 3) AS h FROM sql_shingle_t""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getSeq[String](1), r.getSeq[String](2), r.getLong(3)))
    val dsl = df.select(col("id"),
        graft.functions.Shingles.shingles(col("text"), 3).as("sh"),
        graft.functions.Shingles.shingles(col("text"), 3, distinct = true).as("dsh"),
        graft.functions.Shingles.simhash(col("text"), 3).as("h"))
      .collect().map(r => (r.getLong(0), r.getSeq[String](1), r.getSeq[String](2), r.getLong(3)))
    assert(sql.toSeq === dsl.toSeq)
    // non-literal k must be refused, not silently mis-planned
    val e = intercept[Exception](spark.sql(
      "SELECT shingles(text, CAST(id AS INT)) FROM sql_shingle_t").collect())
    assert(e.getMessage.contains("literal INT"), e.getMessage)
  }

  test("l2_distance known values, null semantics, SQL registration") {
    val df = Seq(
      (Seq(0f, 0f), Seq(3f, 4f)),   // 3-4-5 triangle -> 5
      (Seq(1f, 2f), Seq(1f, 2f)),   // identical -> 0
    ).toDF("a", "b")
    val got = df.select(Vectors.l2Distance(col("a"), col("b")).as("d")).collect()
    assert(got(0).getDouble(0) == 5.0 && got(1).getDouble(0) == 0.0)
    val bad = Seq((Seq(1f, 0f), Seq(1f, 0f, 3f))).toDF("a", "b")
      .select(Vectors.l2Distance(col("a"), col("b")).as("d")).collect()
    assert(bad(0).isNullAt(0), "length mismatch -> null")
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT l2_distance(array(CAST(0.0 AS FLOAT), CAST(0.0 AS FLOAT)),
        |                   array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d""".stripMargin)
      .collect()(0)
    assert(r.getDouble(0) == 5.0)
    // codegen ≡ interpreted (HOF baseline)
    val emb = TestSpark.spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
    val pair = emb.filter(col("vec_id") === 0).select(col("embedding")).crossJoin(
      emb.filter(col("vec_id") === 1).select(col("embedding").as("e2")))
    val viaExpr = pair.select(Vectors.l2Distance(col("embedding"), col("e2"))).collect()(0).getDouble(0)
    val viaHof = pair.select(sqrt(aggregate(
      zip_with(col("embedding"), col("e2"),
        (x, y) => (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, x) => acc + x)).as("d")).collect()(0).getDouble(0)
    assert(math.abs(viaExpr - viaHof) < 1e-12)
  }

  test("codegen and interpreted paths agree") {
    val df = TestSpark.spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
    val a = df.filter(col("vec_id") === 0).select(col("embedding")).crossJoin(
      df.filter(col("vec_id") === 1).select(col("embedding").as("e2")))
    val viaExpr = a.select(Vectors.cosine(col("embedding"), col("e2"))).collect()(0).getDouble(0)
    val viaHof = a.select(
      (Vectors.dotHof(col("embedding"), col("e2")) /
        (sqrt(Vectors.dotHof(col("embedding"), col("embedding"))) *
          sqrt(Vectors.dotHof(col("e2"), col("e2"))))).as("c")).collect()(0).getDouble(0)
    assert(math.abs(viaExpr - viaHof) < 1e-12)
  }
}

class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  val base = "the quick brown fox jumps over the lazy dog and runs far away home tonight again"
  def docs = Seq(
    (1L, base),
    (2L, base),                                   // exact dup of 1
    (3L, base.replace("quick", "rapid")),         // near dup
    (4L, "completely different content about spark engines and columnar execution at scale"),
    (5L, base.toUpperCase),                       // normalized dup of 1
  ).toDF("doc_id", "text")

  test("exact dedup keeps smallest key per payload") {
    val kept = Dedup.exact(docs, col("text"), col("doc_id"))
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L, 4L, 5L))
    val groups = Dedup.exactGroups(docs, col("text"), col("doc_id")).collect()
    assert(groups.length == 1 && groups(0).getAs[Long]("n_dups") == 2
      && groups(0).getAs[Long]("first_key") == 1L)
  }

  test("exact dedup: null payloads form one group and keep their smallest key") {
    val withNulls = Seq((1L, "same"), (2L, "same"),
      (3L, null: String), (4L, null: String)).toDF("doc_id", "text")
    val kept = Dedup.exact(withNulls, col("text"), col("doc_id"))
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L), s"null payloads must dedup, not vanish: $kept")
  }

  test("normalized dedup catches case/punct variants") {
    val g = Dedup.normalizedGroups(docs, col("text"), col("doc_id")).collect()
    assert(g.length == 1 && g(0).getAs[Long]("n_dups") == 3) // 1, 2, 5
  }

  test("minhash LSH finds exact and near dups, skips unrelated") {
    val pairs = Dedup.minhashCandidates(docs, col("text"), col("doc_id"),
        shingleK = 2, numHashes = 32, bands = 8, minJaccard = 0.4)
      .select("key_a", "key_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), s"exact dup pair missing: $pairs")
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)), s"near dup pair missing: $pairs")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L), s"unrelated doc paired: $pairs")
  }

  test("minhash est_jaccard = 1.0 for identical docs") {
    val r = Dedup.minhashCandidates(docs, col("text"), col("doc_id"),
        shingleK = 2, numHashes = 32, bands = 8, minJaccard = 0.9)
      .filter(col("key_a") === 1 && col("key_b") === 2)
      .select("est_jaccard").as[Double].collect()
    assert(r.length == 1 && r(0) == 1.0)
  }

  test("simhash blocks + hamming verify") {
    val pairs = Dedup.simhashCandidates(docs, col("text"), col("doc_id"),
        shingleK = 2, maxHamming = 10)
      .select(col("key_a"), col("key_b"), col("hamming").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs.get((1L, 2L)).contains(0L), s"identical docs must have hamming 0: $pairs")
    assert(!pairs.keySet.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("ngram jaccard exact verification") {
    val pairs = Dedup.ngramJaccardPairs(docs, col("text"), col("doc_id"), k = 2, minJaccard = 0.5)
      .select("key_a", "key_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs((1L, 2L)) == 1.0)
    assert(pairs.get((1L, 3L)).exists(j => j > 0.5 && j < 1.0))
  }

  test("embedding near-dups brute force + dropTransitive") {
    val vecs = Seq(
      (1L, Seq(1f, 0f, 0f, 0f)),
      (2L, Seq(0.99f, 0.1f, 0f, 0f)),  // near dup of 1
      (3L, Seq(0f, 1f, 0f, 0f)),       // orthogonal
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDups(vecs, col("embedding"), col("vec_id"),
      minCosine = 0.9, bruteForce = true)
    val got = pairs.select("key_a", "key_b").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L)))
    val kept = Dedup.dropTransitive(vecs, col("vec_id"), pairs)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L))
  }

  test("embedding near-dups LSH path finds planted near-identical vectors") {
    // near-identical vectors share every hyperplane sign -> same bucket;
    // orthogonal decoys mostly land elsewhere. LSH result must equal
    // brute force for the planted pair.
    val vecs = Seq(
      (1L, Seq(1f, 0.02f, 0.01f, 0f)),
      (2L, Seq(0.99f, 0.03f, 0.01f, 0f)),   // near dup of 1
      (3L, Seq(0f, 1f, 0f, 0f)),
      (4L, Seq(0f, 0f, 1f, 0f)),
    ).toDF("vec_id", "embedding")
    val lsh = Dedup.embeddingNearDups(vecs, col("embedding"), col("vec_id"),
        minCosine = 0.95, planes = 4, bruteForce = false)
      .select("key_a", "key_b").as[(Long, Long)].collect().toSet
    assert(lsh == Set((1L, 2L)), s"LSH path: $lsh")
  }

  test("connected components: transitive chains collapse to one group") {
    // chain 1-2-3, pair 10-11, singleton via edge 20-21; star-collapse
    // would miss that 3 connects to 1 only through 2
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L))
      .toDF("key_a", "key_b")
    val cc = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc(1L) == 1L && cc(2L) == 1L && cc(3L) == 1L, s"chain: $cc")
    assert(cc(10L) == 10L && cc(11L) == 10L)
    assert(cc(20L) == 20L && cc(21L) == 20L)

    val docs = Seq(1L, 2L, 3L, 4L, 10L, 11L).toDF("doc_id")
    val kept = Dedup.dropTransitive(docs, col("doc_id"), pairs)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 4L, 10L), s"kept: $kept")
  }

  test("shingle/minhash/simhash codegen kernels match the scalar twins") {
    val samples = Seq[String](
      null, "", "   ", "ABC def!", "Füße große 123 – naïve café",
      "a b c d e f g h", "one", "Hello, WORLD!! hello world hello world",
      "dup dup dup dup")
    val df = samples.zipWithIndex.map { case (s, i) => (i, s) }.toDF("id", "t")
    def run() = df.select(col("id"),
      graft.functions.Shingles.shingles(col("t"), 2, distinct = true).as("sh"),
      graft.functions.Shingles.minhashSigBands(col("t"), 3, 32, 8).as("mh"),
      graft.functions.Shingles.simhash(col("t"), 3).as("sim"))
      .collect().map(r => r.getInt(0) -> r).toMap
    val got = run()
    samples.zipWithIndex.foreach { case (s, i) =>
      val r = got(i)
      assert(r.getSeq[String](1) == Dedup.shingleStrings(s, 2).distinct, s"shingles: '$s'")
      val (expSig, expBands) = Dedup.minhashSigBands(Dedup.shingleStrings(s, 3), 32, 8)
      val mh = r.getStruct(2)
      assert(mh.getSeq[Long](0) == expSig.toSeq, s"minhash sig: '$s'")
      assert(mh.getSeq[Long](1) == expBands.toSeq, s"band hashes: '$s'")
      assert(r.getLong(3) == Dedup.simhashOf(Dedup.shingleStrings(s, 3)), s"simhash: '$s'")
    }
    // interpreted (eval) path must agree with the codegen path
    val conf = spark.conf
    val prev = (conf.get("spark.sql.codegen.wholeStage"),
      conf.get("spark.sql.codegen.factoryMode", "FALLBACK"))
    conf.set("spark.sql.codegen.wholeStage", "false")
    conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val interp = run()
      samples.indices.foreach { i =>
        assert(interp(i).toString == got(i).toString, s"codegen vs interpreted row $i")
      }
    } finally {
      conf.set("spark.sql.codegen.wholeStage", prev._1)
      conf.set("spark.sql.codegen.factoryMode", prev._2)
    }
  }

  test("LSH hot band: AQE splits the skewed bucket join; candidates stay exact") {
    // boilerplate-heavy corpus: 600 byte-identical docs collapse into ONE
    // band bucket per band (the hot band SCALE.md flags as AQE skew-join
    // territory), 600 unique docs spread out. With the skew thresholds
    // scaled down to test size, AQE must mark the bucket join's hot
    // partition skewed and split it — and the candidate set must be
    // exactly the planted clique either way.
    val conf = spark.conf
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor")
    val prev = keys.map(k => k -> conf.getOption(k)).toMap
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1024")
    conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1024")
    conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    try {
      val boiler = "the same cookie banner boilerplate repeated on every page of the site "
      val hot = (0L until 600L).map(i => (i, boiler * 3))
      val uniq = (600L until 1200L).map(i =>
        (i, s"unique document number $i with its own words ${i * 7} ${i * 13} ${i * 31}"))
      val docs = (hot ++ uniq).toDF("doc_id", "text").repartition(16)
      // bands = 1 concentrates the clique into ONE bucket key (with the
      // default 8 bands the 8 hot keys spread across the 4 test
      // partitions and no partition is skewed relative to the median)
      val pairs = Dedup.minhashCandidates(docs, col("text"), col("doc_id"),
        bands = 1, minJaccard = 0.9)
      // collect() drives pairs' OWN queryExecution, so the adaptive plan
      // below is the one that actually ran (a derived dataset's action
      // would leave it unexecuted and skew-unannotated)
      val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(got.length === 600 * 599 / 2,
        "every planted identical pair must be a candidate")
      assert(!got.exists { case (a, b) => a >= 600 || b >= 600 },
        "no unique doc may survive the 0.9 estimated-jaccard verify")
      // the executed adaptive plan must show the skew split engaged
      val executed = pairs.queryExecution.executedPlan.toString
      assert(executed.toLowerCase.contains("skew=true"),
        "AQE did not split the hot band:\n" + executed.take(2000))
    } finally prev.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("connected components: 1000-link chain converges in O(log d) rounds") {
    // a planted worst case for plain min-label propagation (diameter 1000):
    // hash-to-min would need ~1000 rounds; pointer doubling must land in
    // ~log2(1000) ≈ 10 (+small constant for the ramp-up rounds)
    val n = 1000L
    val pairs = spark.range(1, n + 1)
      .select(col("id").as("key_a"), (col("id") + 1).as("key_b"))
    // force the distributed pointer-doubling tier (threshold 0)
    val (cc, rounds) = Dedup.connectedComponentsWithRounds(pairs, localEdgeThreshold = 0)
    assert(rounds >= 1, "distributed tier must have run")
    assert(rounds <= 14, s"expected <= ceil(log2(1000))+4 rounds, got $rounds")
    // the observe-emitted convergence telemetry: one changed-label count
    // per round, non-increasing on a chain, terminating at zero
    val series = Dedup.lastConvergenceSeries
    assert(series.size === rounds - 1,
      s"one observed metric per distributed round: $series vs $rounds rounds")
    assert(series.zip(series.tail).forall { case (a, b) => b <= a },
      s"changed-label series must be non-increasing on a chain: $series")
    assert(series.last === 0L, s"final round must observe zero changes: $series")
    assert(series.head > 0L, s"first round must observe progress: $series")
    val labels = cc.agg(
      count(lit(1)).as("n"),
      sum(when(col("component") === 1L, 0L).otherwise(1L)).as("wrong")).head()
    assert(labels.getLong(0) === n + 1)
    assert(labels.getLong(1) === 0L, "every chain node must label to 1")
    // the driver union-find tier must agree exactly with the distributed tier
    val (ccLocal, r0) = Dedup.connectedComponentsWithRounds(pairs)
    assert(r0 === 0, "default threshold must pick the local tier here")
    assert(ccLocal.exceptAll(cc).count() === 0L && cc.exceptAll(ccLocal).count() === 0L)
  }

  test("connected components: the pair lineage is evaluated once on both tiers") {
    // duplicate, reversed and self pairs; components {1,2,3}, {10,11,12}, {20}
    val raw = Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L), (3L, 3L),
      (10L, 11L), (11L, 12L), (12L, 10L), (20L, 20L))
    val want = Set((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L), (12L, 10L), (20L, 20L))
    def run(threshold: Long): (Set[(Long, Long)], Int) = {
      val evals = spark.sparkContext.longAccumulator(s"cc_pair_rows_$threshold")
      val bump = udf { (k: Long) => evals.add(1L); k }
      val pairs = spark.sparkContext.parallelize(raw, 2).toDF("a", "b")
        .select(bump(col("a")).as("key_a"), col("b").as("key_b"))
      val (cc, rounds) = Dedup.connectedComponentsWithRounds(pairs, localEdgeThreshold = threshold)
      val got = cc.as[(Long, Long)].collect().toSet
      assert(evals.value === raw.size.toLong,
        s"threshold $threshold: ${evals.value} pair-row evaluations for ${raw.size} rows")
      (got, rounds)
    }
    val (local, r0) = run(1L << 20)
    val (dist, rd) = run(0L)
    assert(r0 === 0 && local === want)
    assert(rd === 3 && Dedup.lastConvergenceSeries === Seq(1L, 0L), s"$rd rounds")
    assert(dist === local)
  }

  test("minhashCandidates == independent signature-band reference on random texts") {
    // the banding pipeline is deterministic given the hash family, so
    // the candidate set is EXACTLY checkable (unlike recall, which is
    // probabilistic): pairs sharing >= 1 band bucket, est_jaccard from
    // matching signature rows, threshold applied — recomputed
    // independently through the scalar twin and compared pair-for-pair.
    val rnd = new scala.util.Random(99L)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    val texts = (0 until 60).map { i =>
      val base = Vector.tabulate(12)(j => vocab((i / 6 + j) % vocab.size))
      val t = if (i % 3 == 0) base
              else base.updated(rnd.nextInt(12), vocab(rnd.nextInt(vocab.size)))
      (i.toLong, t.mkString(" "))
    }
    val got = Dedup.minhashCandidates(texts.toDF("doc_id", "text"),
        col("text"), col("doc_id"),
        shingleK = 2, numHashes = 16, bands = 4, minJaccard = 0.3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    import org.apache.spark.unsafe.types.UTF8String
    val sigs = texts.map { case (id, t) =>
      val row = graft.functions.ShingleKernel.minhashSigBands(UTF8String.fromString(t), 2, 16, 4)
      (id, row.getArray(0).toLongArray(), row.getArray(1).toLongArray())
    }
    val want = sigs.flatMap { case (ia, sa, ba) =>
      sigs.flatMap { case (ib, sb, bb) =>
        if (ia < ib && ba.zip(bb).exists(p => p._1 == p._2)) {
          val est = sa.zip(sb).count(p => p._1 == p._2).toDouble / 16
          if (est >= 0.3) Some((ia, ib) -> est) else None
        } else None
      }
    }.toMap
    assert(want.nonEmpty, "fixture must produce candidates")
    assert(got.keySet == want.keySet,
      s"candidate sets differ: extra=${got.keySet -- want.keySet} missing=${want.keySet -- got.keySet}")
    want.foreach { case (p, est) => assert(got(p) == est, s"pair $p: ${got(p)} != $est") }
  }

  test("connected components: random multigraphs — tiers agree exactly") {
    // differential check beyond the planted chain: irregular topologies
    // (cross-linked stars, cycles, self-loops, duplicate/reversed edges,
    // disconnected pairs) through BOTH tiers; any disagreement is a bug
    // in one of them. Seeded — deterministic across runs.
    for (seed <- Seq(7L, 1234L, 987654L)) {
      val rnd = new scala.util.Random(seed)
      val n = 300
      val edges = Seq.fill(450) {
        val a = rnd.nextInt(n).toLong
        // mix: short links, hub links, self-loops
        val b = rnd.nextInt(4) match {
          case 0 => a                         // self-loop
          case 1 => (a + 1 + rnd.nextInt(3)) % n  // local link
          case 2 => rnd.nextInt(5).toLong     // hub link
          case _ => rnd.nextInt(n).toLong     // random
        }
        if (rnd.nextBoolean()) (a, b) else (b, a) // reversed duplicates
      }
      val pairs = edges.toDF("key_a", "key_b")
      val (ccDist, rd) = Dedup.connectedComponentsWithRounds(pairs, localEdgeThreshold = 0)
      val (ccLocal, r0) = Dedup.connectedComponentsWithRounds(pairs)
      assert(rd >= 1 && r0 === 0, s"tiers must differ in mechanism (seed $seed)")
      assert(ccDist.exceptAll(ccLocal).count() === 0L &&
        ccLocal.exceptAll(ccDist).count() === 0L,
        s"tier disagreement on seed $seed")
    }
  }

  test("fnv1a64 / simhashOf deterministic") {
    assert(Dedup.fnv1a64("abc") == Dedup.fnv1a64("abc"))
    assert(Dedup.fnv1a64("abc") != Dedup.fnv1a64("abd"))
    assert(Dedup.simhashOf(Seq("a b", "b c")) == Dedup.simhashOf(Seq("a b", "b c")))
  }
}

class AsOfSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  def ts(s: Long) = new Timestamp(s * 1000)

  test("as-of join: latest right with ts <= left ts, per key, left outer") {
    val left = Seq(
      (100L, 1L, ts(10)), (101L, 1L, ts(20)), (102L, 1L, ts(30)),
      (103L, 2L, ts(25)),
    ).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (900L, 1L, ts(15), 5.0), (901L, 1L, ts(20), 7.0),
      (902L, 3L, ts(1), 9.0),
    ).toDF("purchase_id", "user_id", "ts", "pval")
      .select(col("user_id"), col("ts"), col("purchase_id"), col("pval"))
    val got = AsOf.join(left, right, "user_id", "ts", Seq("purchase_id", "pval"))
      .select("event_id", "right_purchase_id").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(got(100L) == -1L, "no right row at or before ts=10")
    assert(got(101L) == 901L, "equal ts must match (>= semantics)")
    assert(got(102L) == 901L, "latest right carried forward")
    assert(got(103L) == -1L, "key isolation: user 2 sees nothing")
  }

  test("wide-schema pushdown path equals the carry path (dup (key,ts) rows too)") {
    val left = Seq(
      (100L, 1L, ts(10)), (101L, 1L, ts(20)), (102L, 1L, ts(30)),
      (110L, 1L, ts(20)), // duplicate (key, ts): both rows must match 901
      (103L, 2L, ts(25)),
    ).toDF("event_id", "user_id", "ts")
      .withColumn("w1", col("event_id") * 2).withColumn("w2", lit("pad"))
    val right = Seq(
      (900L, 1L, ts(15), 5.0), (901L, 1L, ts(20), 7.0),
      (902L, 3L, ts(1), 9.0),
    ).toDF("purchase_id", "user_id", "ts", "pval")
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .select("event_id", "w1", "w2", "right_purchase_id", "right_pval")
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq
    val carry = AsOf.join(left, right, "user_id", "ts",
      Seq("purchase_id", "pval"), carryThreshold = 100)
    val slim = AsOf.join(left, right, "user_id", "ts",
      Seq("purchase_id", "pval"), carryThreshold = 0)
    assert(norm(carry) == norm(slim))
    assert(norm(slim).count(r => r(3) != null) == 3, "101,110,102 match 901")
    // tolerance flows through the pushdown path too
    val slimTol = AsOf.join(left, right, "user_id", "ts",
      Seq("purchase_id", "pval"), tolerance = Some("5 seconds"), carryThreshold = 0)
    val carryTol = AsOf.join(left, right, "user_id", "ts",
      Seq("purchase_id", "pval"), tolerance = Some("5 seconds"), carryThreshold = 100)
    assert(norm(slimTol) == norm(carryTol))
  }

  test("row-atomic attachment: a matched row's NULL payload value stays NULL") {
    // regression for the per-column-carry bug: the newer matched row has
    // pval = NULL; the old per-column last(ignoreNulls) resurrected the
    // OLDER row's 5.0 for pval while attaching the newer purchase_id —
    // a payload mixed from two rows. Attachment must be row-atomic.
    val left = Seq((100L, 1L, ts(30))).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (900L, 1L, ts(10), java.lang.Double.valueOf(5.0)),
      (901L, 1L, ts(20), null.asInstanceOf[java.lang.Double]),
    ).toDF("purchase_id", "user_id", "ts", "pval")
      .select(col("user_id"), col("ts"), col("purchase_id"), col("pval"))
    for (th <- Seq(0, 100)) {
      val r = AsOf.join(left, right, "user_id", "ts", Seq("purchase_id", "pval"),
        carryThreshold = th).select("right_purchase_id", "right_pval").head()
      assert(r.getLong(0) == 901L, s"latest row must match (threshold $th)")
      assert(r.isNullAt(1), s"matched row's NULL pval must come through NULL (threshold $th)")
    }
  }

  test("as-of join: randomized differential vs naive reference (dup ties + null payloads)") {
    // semantics pinned: per left row, the max-ts right row with ts <= left
    // ts (within tolerance); among equal-ts ties the greatest payload
    // tuple wins deterministically; attachment is row-atomic.
    for (seed <- Seq(11L, 4242L)) {
      val rnd = new scala.util.Random(seed)
      val leftRows = (0 until 200).map(i =>
        (i.toLong, rnd.nextInt(8).toLong, ts(rnd.nextInt(50).toLong)))
      val rightRows = (0 until 150).map { j =>
        val v: java.lang.Double =
          if (rnd.nextInt(4) == 0) null else java.lang.Double.valueOf(rnd.nextInt(100).toDouble)
        (rnd.nextInt(8).toLong, ts(rnd.nextInt(50).toLong), (j % 40).toLong, v)
      }
      val left = leftRows.toDF("event_id", "user_id", "ts")
      val right = rightRows.toDF("user_id", "ts", "purchase_id", "pval")
      def pick(k: Long, t: Timestamp, tolSec: Option[Long]): Option[(Long, Option[Double])] = {
        val cands = rightRows.filter(r => r._1 == k && !r._2.after(t) &&
          tolSec.forall(sec => r._2.getTime >= t.getTime - sec * 1000))
        if (cands.isEmpty) None
        else {
          val maxTs = cands.map(_._2.getTime).max
          val best = cands.filter(_._2.getTime == maxTs)
            .maxBy(r => (r._3, Option(r._4).fold(Double.NegativeInfinity)(_.doubleValue)))
          Some((best._3, Option(best._4).map(_.doubleValue)))
        }
      }
      for (tolSec <- Seq[Option[Long]](None, Some(10L)); th <- Seq(0, 100)) {
        val got = AsOf.join(left, right, "user_id", "ts", Seq("purchase_id", "pval"),
          tolerance = tolSec.map(s => s"$s seconds"), carryThreshold = th)
          .select("event_id", "right_purchase_id", "right_pval").collect()
          .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None
            else Some((r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))))).toMap
        for ((eid, k, t) <- leftRows)
          assert(got(eid) == pick(k, t, tolSec), s"event $eid seed $seed tol $tolSec th $th")
      }
    }
  }
}

class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("brute-force top-k exact ranking") {
    val corpus = Seq(
      (1L, Seq(1f, 0f)), (2L, Seq(0.9f, 0.1f)), (3L, Seq(0f, 1f)), (4L, Seq(-1f, 0f)),
    ).toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") === 1)
    val got = Similarity.bruteForceTopK(corpus, col("vec_id"), col("embedding"),
        queries, col("vec_id"), col("embedding"), k = 2)
      .orderBy("rank").select("neighbor_id").as[Long].collect().toSeq
    assert(got == Seq(2L, 3L), s"expected [2,3], got $got")
  }

  test("quantized-ANN rerank recovers brute-force top-10 (recall on real embeddings)") {
    val got = SparkEntry.queries("q170_quantized_ann")(spark, TestSpark.sf0001)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    val brute = Similarity.bruteForceTopK(emb, col("vec_id"), col("embedding"),
        emb.filter(col("vec_id") < 5), col("vec_id"), col("embedding"), k = 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (got intersect brute).size.toDouble / brute.size
    // 100 coarse candidates over 500 vectors (the hardest regime: near-
    // random 64-d vectors, where int8 distances blur the most) measures
    // 0.86 — and the whole pipeline is deterministic, so this is a
    // regression bound, not a flaky sample
    assert(recall >= 0.8, s"quantized rerank recall $recall")
  }

  test("LSH top-k is a high-recall subset of brute force on real embeddings") {
    val emb = spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(emb, col("vec_id"), col("embedding"),
        q, col("vec_id"), col("embedding"), k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // 2 planes + single-bit probes covers 3 of 4 buckets: recall must be
    // high even on near-uniform random vectors (where sign-LSH is weakest)
    val lsh = Similarity.lshTopK(emb, col("vec_id"), col("embedding"),
        q, col("vec_id"), col("embedding"), k = 5, planes = 2, probeBits = 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute & lsh).size.toDouble / brute.size
    assert(recall >= 0.5, s"LSH recall too low: $recall (got ${lsh.size} pairs)")
    // every LSH result must carry a correct exact cosine (verified subset)
    assert(lsh.forall { case (qid, nid) => qid != nid })
  }

  test("MMR selection equals an independent quadratic reference + invariants") {
    // deterministic pseudo-random pool: 24 candidates in 8 dims; SIGNED
    // components so pairwise cosines go negative (the regime where a
    // zero-initialized max-sim would silently clamp the penalty)
    def vec(i: Int): Array[Double] =
      Array.tabulate(8)(d => math.sin(i * 31 + d * 7))
    def cosRef(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val cands = (0 until 24).map(i => (i.toLong, vec(i), math.cos(i * 0.37).abs))
    val lambda = 0.7
    // independent reference: recompute the full argmax from scratch each step
    var sel = Vector.empty[Long]
    val byId = cands.map(c => c._1 -> c).toMap
    (1 to 10).foreach { _ =>
      val best = cands.filterNot(c => sel.contains(c._1)).map { c =>
        val div = if (sel.isEmpty) 0.0
          else sel.map(s => cosRef(c._2, byId(s)._2)).max
        (c._1, lambda * c._3 - (1 - lambda) * div)
      }.minBy { case (id, sc) => (-sc, id) }
      sel = sel :+ best._1
    }
    val got = Similarity.mmrSelect(cands, k = 10, lambda = lambda)
    assert(got.map(_._1) == sel, s"selection order diverged: ${got.map(_._1)} vs $sel")
    // invariants: rank 1 is the pure-relevance argmax; ranks are 1..k; distinct
    val topRel = cands.maxBy(c => (c._3, -c._1))._1
    assert(got.head._1 == topRel)
    assert(got.map(_._3) == (1 to 10))
    assert(got.map(_._1).distinct.size == 10)
  }
}

class PavSpec extends AnyFunSuite {
  import graft.operators.Optim

  // independent O(n^2) reference: repeatedly merge the first adjacent
  // violating pair until the weighted block means are non-decreasing
  private def pavRef(ys: IndexedSeq[Double], ws: IndexedSeq[Long]): IndexedSeq[Double] = {
    var blocks = ys.indices.map(i => (ws(i).toDouble, ws(i) * ys(i), 1)).toVector
    var changed = true
    while (changed) {
      changed = false
      val i = blocks.indices.dropRight(1).find(j =>
        blocks(j)._2 / blocks(j)._1 > blocks(j + 1)._2 / blocks(j + 1)._1)
      i.foreach { j =>
        val (w1, y1, c1) = blocks(j); val (w2, y2, c2) = blocks(j + 1)
        blocks = (blocks.take(j) :+ ((w1 + w2, y1 + y2, c1 + c2))) ++ blocks.drop(j + 2)
        changed = true
      }
    }
    blocks.flatMap { case (w, wy, c) => Seq.fill(c)(wy / w) }.toIndexedSeq
  }

  test("PAV equals the O(n^2) reference; monotone; preserves weighted mass") {
    val rng = new scala.util.Random(42)
    for (_ <- 1 to 20) {
      val n = 2 + rng.nextInt(12)
      val ys = IndexedSeq.fill(n)(rng.nextDouble())
      val ws = IndexedSeq.fill(n)(1L + rng.nextInt(50))
      val got = Optim.pav(ys, ws)
      val ref = pavRef(ys, ws)
      got.zip(ref).foreach { case (a, b) =>
        assert(math.abs(a - b) < 1e-12, s"fit diverged: $got vs $ref")
      }
      // monotone non-decreasing
      got.sliding(2).foreach {
        case Seq(a, b) => assert(a <= b + 1e-12)
        case _ =>
      }
      // total weighted mass preserved
      val m1 = ys.zip(ws).map { case (y, w) => y * w }.sum
      val m2 = got.zip(ws).map { case (y, w) => y * w }.sum
      assert(math.abs(m1 - m2) < 1e-9)
    }
  }

  test("minimax identity: isotonicMinimax ≡ PAV on random weighted inputs") {
    // fit_i = max_{j≤i} min_{k≥i} wavg(y_j..y_k) — the closed form the
    // q254 oracle computes in SQL; must agree with the sequential PAV
    val rng = new scala.util.Random(1234)
    for (_ <- 1 to 30) {
      val n = 1 + rng.nextInt(12)
      // 9-decimal quantized, per the minimax form's parity contract
      val ys = IndexedSeq.fill(n)(math.floor(rng.nextDouble() * 1e9 + 0.5) / 1e9)
      val ws = IndexedSeq.fill(n)(1L + rng.nextInt(50))
      val a = Optim.pav(ys, ws)
      val b = Optim.isotonicMinimax(ys, ws)
      a.zip(b).foreach { case (x, y) =>
        assert(math.abs(x - y) < 1e-9, s"pav $a vs minimax $b for ys=$ys ws=$ws")
      }
      // monotone by construction
      b.sliding(2).foreach {
        case Seq(p, q) => assert(p <= q + 1e-12)
        case _ =>
      }
    }
  }

  test("PAV is identity on already-monotone input") {
    // each value round-trips through (w*y)/w — compare to tolerance,
    // not bitwise (5*0.2/5 != 0.2 in IEEE)
    val ys = IndexedSeq(0.1, 0.2, 0.2, 0.7)
    val got = Optim.pav(ys, IndexedSeq(3L, 1L, 5L, 2L))
    got.zip(ys).foreach { case (a, b) => assert(math.abs(a - b) < 1e-15) }
  }
}

class MisraGriesSpec extends AnyFunSuite {
  import graft.functions.Sketch

  test("MG guarantee: est within [true - n/k, true]; heavy items always present") {
    val k = 10
    val agg = new Sketch.MgAgg(k)
    // skewed stream: item "h0" 400x, "h1" 200x, tail of 100 singletons x4
    val stream = scala.util.Random.shuffle(
      (Seq.fill(400)("h0") ++ Seq.fill(200)("h1") ++
        (0 until 100).flatMap(i => Seq.fill(4)(s"t$i"))).toVector)
    val n = stream.size
    val truth = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
    // simulate Spark's partial aggregation: 7 partitions, reduce then merge
    val parts = stream.grouped(math.ceil(n / 7.0).toInt).toSeq
    val summary = parts.map(_.foldLeft(agg.zero)(agg.reduce)).reduce(agg.merge)
    assert(summary.size <= k - 1, s"summary overflow: ${summary.size}")
    summary.foreach { case (w, est) =>
      val t = truth(w)
      assert(est <= t, s"$w: est $est > true $t")
      assert(est >= t - n / k, s"$w: est $est below true - n/k = ${t - n / k}")
    }
    // every item with true count > n/k must be present
    truth.filter(_._2 > n / k).keys.foreach { w =>
      assert(summary.contains(w), s"heavy item $w missing from summary")
    }
  }

  test("MG merge order does not break the superset guarantee") {
    val k = 5
    val agg = new Sketch.MgAgg(k)
    val stream = (Seq.fill(50)("big") ++ (0 until 40).map(i => s"x$i")).toVector
    val n = stream.size
    // try several partitionings/merge orders
    Seq(2, 3, 5, 9).foreach { p =>
      val parts = stream.grouped(math.ceil(n.toDouble / p).toInt).toSeq
      val s1 = parts.map(_.foldLeft(agg.zero)(agg.reduce)).reduce(agg.merge)
      val s2 = parts.reverse.map(_.foldLeft(agg.zero)(agg.reduce)).reduce(agg.merge)
      Seq(s1, s2).foreach { s =>
        assert(s.contains("big"), s"p=$p: heavy item evicted")
        assert(s.size <= k - 1)
      }
    }
  }
}

/** DTW axioms on the q309 driver DP. */
class DtwSpec extends AnyFunSuite {
  // the q309 DP, verbatim (integer costs)
  private def dtw(a: Array[Long], b: Array[Long]): Long = {
    val n = a.length; val m = b.length
    val INF = Long.MaxValue / 4
    var prev = Array.fill(m + 1)(INF); prev(0) = 0L
    for (i <- 1 to n) {
      val cur = Array.fill(m + 1)(INF)
      for (j <- 1 to m) {
        val cost = math.abs(a(i - 1) - b(j - 1))
        cur(j) = cost + math.min(prev(j), math.min(cur(j - 1), prev(j - 1)))
      }
      prev = cur
    }
    prev(m)
  }

  test("DTW: identity, symmetry, hand-computed alignment, lag invariance") {
    val a = Array(1L, 3L, 4L, 9L, 8L, 2L)
    val b = Array(1L, 1L, 3L, 4L, 9L, 8L, 2L)  // a delayed by one step
    assert(dtw(a, a) === 0L)
    assert(dtw(a, b) === dtw(b, a))
    // elastic alignment absorbs the pure lag: distance stays 0
    assert(dtw(a, b) === 0L)
    // hand case: [0,0] vs [1,1] — every cell costs 1, path length 2
    assert(dtw(Array(0L, 0L), Array(1L, 1L)) === 2L)
    // uniform +5 shift: warping can pair off-diagonal cells whose
    // |a_i − a_j − 5| beats 5, so the cost is ≤ 5·pathlen, not =5n
    val shifted = a.map(_ + 5L)
    val d = dtw(a, shifted)
    assert(d > 0L && d <= 5L * (2 * a.length - 1))
    assert(d === 26L) // pinned regression value for this series
  }
}

/** Power iteration (q312) recovering a planted principal direction. */
class PcaSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("Pca.topComponent recovers a planted principal direction") {
    // points along (0.6, 0.8) with a small orthogonal wiggle — the top
    // component must align with the planted axis after 3 iterations
    val pts = (-20 to 20).map { t =>
      val wig = (t % 3 - 1) * 0.05
      (t.toLong + 21L,
        Seq((0.6 * t + 0.8 * wig).toFloat, (0.8 * t - 0.6 * wig).toFloat))
    }
    val df = pts.toDF("vec_id", "embedding")
    val v = graft.operators.Pca.topComponent(df, "embedding", "vec_id", 3)
      .orderBy(col("i")).collect()
    assert(v.length === 2)
    val (v0, v1) = (v(0).getAs[Double]("v"), v(1).getAs[Double]("v"))
    assert(math.abs(v0 * v0 + v1 * v1 - 1.0) < 1e-6, s"not unit: $v0,$v1")
    val cosToPlanted = math.abs(v0 * 0.6 + v1 * 0.8)
    assert(cosToPlanted > 0.999, s"misaligned: $v0,$v1 cos=$cosToPlanted")
    // eigenvalue ≈ full variance share: wiggle is tiny
    val tv = graft.operators.Pca.varianceStats(df, "embedding").head
    val lambda = v(0).getAs[Double]("nrm") / tv.getAs[Long]("n")
    assert(lambda / tv.getAs[Double]("totvar") > 0.99)
  }
}

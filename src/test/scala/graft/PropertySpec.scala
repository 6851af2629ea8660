package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.functions._

import graft.functions.Extraction
import graft.operators.Dedup

/** Property tests (SURVEY §5 item 4) over the pure cores. Raw ScalaCheck
  * generators with a fixed seed (scalatestplus isn't in the offline
  * cache); each property batches all sampled inputs into ONE Spark job.
  */
class PropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private val words = Gen.listOf(Gen.oneOf(
    "alpha", "бета", "gamma", "دلتا", "x1", "<b>", "a,b"))
  private val texts: Gen[String] = words.map(_.mkString(" "))

  test("word count is non-negative and monotone under concatenation") {
    val pairs = samples(Gen.zip(texts, texts), 60)
    val rows = pairs.toDF("a", "b").select(
      col("a"), col("b"),
      Extraction.wordCount(col("a")).as("ca"),
      Extraction.wordCount(col("b")).as("cb"),
      Extraction.wordCount(concat(col("a"), lit(" "), col("b"))).as("cab"))
      .collect()
    rows.foreach { r =>
      val (ca, cb, cab) = (r.getInt(2), r.getInt(3), r.getInt(4))
      assert(ca >= 0 && cb >= 0)
      assert(cab >= math.max(ca, cb) && cab <= ca + cb,
        s"'${r.getString(0)}' + '${r.getString(1)}': $ca + $cb vs $cab")
    }
  }

  test("strip-tags and digit-removal are idempotent; digits all removed") {
    val ts = samples(texts, 60).map(t => s"<div><p>$t 12.5</p></div>")
    val once = ts.toDF("s").select(
      Extraction.stripTags(col("s")).as("st"),
      Extraction.removeDigits(col("s")).as("rd")).collect()
    val twice = once.map(r => (r.getString(0), r.getString(1))).toSeq.toDF("st", "rd")
      .select(Extraction.stripTags(col("st")).as("st2"),
        Extraction.removeDigits(col("rd")).as("rd2")).collect()
    once.zip(twice).foreach { case (o, t) =>
      assert(o.getString(0) == t.getString(0), "stripTags idempotent")
      assert(o.getString(1) == t.getString(1), "removeDigits idempotent")
      assert(!o.getString(1).exists(_.isDigit), "no digits survive")
    }
  }

  test("computeKey round-trips (shard, index) for in-range inputs") {
    val pairs = samples(Gen.zip(Gen.chooseNum(0L, 9999L), Gen.chooseNum(0L, 9999L)), 80)
    val keys = pairs.toDF("s", "i")
      .select(col("s"), col("i"), Extraction.computeKey(col("s"), col("i"), 4, 5).as("k"))
      .collect()
    keys.foreach { r =>
      val (shard, idx, key) = (r.getLong(0), r.getLong(1), r.getString(2))
      assert(key.length == 9, s"key $key")
      assert(key.toLong / 10000 == shard && key.toLong % 10000 == idx, s"$key vs ($shard,$idx)")
    }
  }

  test("shingle scalar twin equals the declarative column variant") {
    val inputs = samples(Gen.zip(texts.suchThat(_.trim.nonEmpty), Gen.chooseNum(1, 4)), 40)
    val viaCol = inputs.map { case (t, k) =>
      (t, k, Dedup.shingleStrings(t, k))
    }.toDF("t", "k", "scalar")
    // evaluate each k group in one pass
    inputs.map(_._2).distinct.foreach { k =>
      val rows = viaCol.filter(col("k") === k)
        .select(col("t"), col("scalar"), Dedup.shingles(col("t"), k).as("col"))
        .collect()
      rows.foreach { r =>
        assert(r.getSeq[String](1) == r.getSeq[String](2), s"k=$k t='${r.getString(0)}'")
      }
    }
  }

  test("simhash determinism + hamming symmetry on samples") {
    samples(Gen.zip(texts, texts), 40).foreach { case (a, b) =>
      val ha = Dedup.simhashOf(Dedup.shingleStrings(a, 2))
      val hb = Dedup.simhashOf(Dedup.shingleStrings(b, 2))
      assert(ha == Dedup.simhashOf(Dedup.shingleStrings(a, 2)))
      assert(java.lang.Long.bitCount(ha ^ hb) == java.lang.Long.bitCount(hb ^ ha))
      if (a == b) assert(ha == hb)
    }
  }

  test("lineDedup is idempotent (deduped corpus passes through unchanged)") {
    val lineGen = Gen.zip(Gen.choose(0L, 9L), Gen.choose(0L, 9L),
      Gen.oneOf("l1", "l2", "l3", "l4", "l5", "l6"))
    val lines = samples(lineGen, 80).distinct.toDF("key", "line_no", "line")
    val once = Dedup.lineDedup(lines)
    val twice = Dedup.lineDedup(once)
    val a = once.collect().map(_.toSeq).toSet
    val b = twice.collect().map(_.toSeq).toSet
    assert(a === b && a.nonEmpty)
  }

  test("redactPii is idempotent and never grows PII counts") {
    import graft.functions.TextAnalysis
    val piiGen = Gen.oneOf(
      "x@y.com", "10.0.0.1", "555-1234", "plain words", "a@b.io 1.2.3.4")
    val rows = samples(Gen.listOfN(3, piiGen).map(_.mkString(" ")), 40).toDF("t")
    val out = rows.select(
      TextAnalysis.redactPii(col("t")).as("r1"),
      TextAnalysis.redactPii(TextAnalysis.redactPii(col("t"))).as("r2"))
      .collect()
    out.foreach { r => assert(r.getString(0) === r.getString(1)) }
  }

  test("bucketized range join equals the naive theta join on random intervals") {
    import graft.operators.RangeJoin
    val base = java.sql.Timestamp.valueOf("2024-06-01 00:00:00").getTime
    val ptGen = Gen.choose(0L, 100000L)
    val ivGen = Gen.zip(Gen.choose(0L, 100000L), Gen.choose(1L, 20000L))
    val pts = samples(ptGen, 120).zipWithIndex
      .map { case (off, i) => (i.toLong, new java.sql.Timestamp(base + off * 1000)) }
      .toDF("pid", "pts")
    val ivs = samples(ivGen, 30).zipWithIndex
      .map { case ((off, len), i) =>
        (i.toLong, new java.sql.Timestamp(base + off * 1000),
          new java.sql.Timestamp(base + (off + len) * 1000)) }
      .toDF("iid", "ist", "ien")
    val fast = RangeJoin.pointInInterval(pts, col("pts"), ivs, col("ist"), col("ien"), 900L)
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val naive = pts.join(ivs, col("pts") >= col("ist") && col("pts") <= col("ien"))
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fast === naive && naive.nonEmpty)
  }

  test("decontaminate against itself flags every doc with full containment") {
    val docs = Seq((1L, "one two three four five"), (2L, "six seven eight nine ten"))
      .toDF("doc_id", "text")
    val out = Dedup.decontaminate(docs, col("text"), col("doc_id"),
        docs, col("text"), k = 3, minRatio = 0.0)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(out === Map(1L -> 1.0, 2L -> 1.0))
  }

  test("classifierScore stays in (0,1); single-feature head bounded by its sigmoid range") {
    import graft.functions.TextAnalysis
    val base = samples(texts, 40).filter(_.trim.nonEmpty)
    val rows = base.toDF("t").select(col("t"),
      TextAnalysis.classifierScore(col("t"), 1.2, 2.0, 1.5, -3.0, -1.0).as("s"),
      // appending stopwords raises the (positively-weighted) stopword
      // ratio features' contribution for fixed other features only when
      // the text is already stopword-free is NOT guaranteed — so assert
      // the robust property: scores are probabilities
      TextAnalysis.classifierScore(col("t"), 0.0, 2.0, 0.0, 0.0, 0.0).as("stopOnly"))
      .collect()
    rows.foreach { r =>
      assert(r.getDouble(1) > 0.0 && r.getDouble(1) < 1.0, s"score out of (0,1): $r")
      // with only the stopword feature active, sigmoid(2*ratio) ∈ [0.5, sigmoid(2)]
      assert(r.getDouble(2) >= 0.5 - 1e-9 && r.getDouble(2) <= 0.880797078 + 1e-9, s"$r")
    }
  }

  test("split assignment is deterministic and lands near 80/10/10 at scale") {
    val splits = SparkEntry.queries("q109_split_assign")(spark, TestSpark.sf0001)
      .groupBy("split").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = splits.values.sum.toDouble
    assert(math.abs(splits("train") / total - 0.8) < 0.06, splits.toString)
    assert(math.abs(splits.getOrElse("val", 0L) / total - 0.1) < 0.05, splits.toString)
    assert(math.abs(splits.getOrElse("test", 0L) / total - 0.1) < 0.05, splits.toString)
    // determinism: a second evaluation is identical
    val again = SparkEntry.queries("q109_split_assign")(spark, TestSpark.sf0001)
      .groupBy("split").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again === splits)
  }

  // ------------------------------------------------- round-8 invariants

  test("sequence packing summary matches a naive sequential packer on random corpora") {
    val wcs = samples(Gen.chooseNum(1L, 600L), 200)
    val df = wcs.zipWithIndex.map { case (wc, i) => (i.toLong, wc) }.toDF("doc_id", "wc")
    val row = graft.operators.CumSum
      .withRunningTotal(df, Seq(col("doc_id")), col("wc"), "cum")
      .withColumn("fc", expr("(cum - wc) div 256"))
      .withColumn("lc", expr("(cum - 1) div 256"))
      .agg(count(lit(1)), sum(col("wc")), max(col("lc")) + 1,
        sum((col("lc") > col("fc")).cast("long")),
        max(col("lc") - col("fc") + 1)).head()
    // naive driver-side packer over the same order
    var off = 0L; var boundary = 0L; var maxSpan = 0L
    wcs.foreach { wc =>
      val fc = off / 256; val lc = (off + wc - 1) / 256
      if (lc > fc) boundary += 1
      maxSpan = math.max(maxSpan, lc - fc + 1)
      off += wc
    }
    assert(row.getLong(0) === wcs.length.toLong)
    assert(row.getLong(1) === wcs.sum)
    assert(row.getLong(2) === (wcs.sum - 1) / 256 + 1)
    assert(row.getLong(3) === boundary)
    assert(row.getLong(4) === maxSpan)
  }

  test("funnel stages are monotone: view ⊇ click-after ⊇ purchase-after") {
    val r = SparkEntry.queries("q182_funnel_3stage")(spark, TestSpark.sf0001).head()
    val (v, c, p) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(v >= c && c >= p, s"funnel not monotone: $v / $c / $p")
    assert(p == 0 || !r.isNullAt(3))
  }

  test("association-rule lift is symmetric across the two rule directions") {
    val rules = SparkEntry.queries("q183_assoc_rules")(spark, TestSpark.sf0001)
      .select("ante", "cons", "lift").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    rules.foreach { case ((a, b), l) =>
      rules.get((b, a)).foreach(l2 => assert(l === l2, s"lift($a->$b)=$l vs $l2"))
    }
  }

  test("vocab coverage: size monotone in target, attained coverage meets the target") {
    val rows = SparkEntry.queries("q186_vocab_coverage")(spark, TestSpark.sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.map(_._1).toSeq === Seq(50L, 90L, 99L))
    assert(rows.sortBy(_._1).map(_._2).sliding(2).forall(s => s.head <= s.last))
    rows.foreach { case (pct, _, cov) => assert(cov >= pct / 100.0 - 1e-9, s"$pct: $cov") }
  }

  test("mixture weights renormalize to 1 and expected tokens to the budget") {
    val rows = SparkEntry.queries("q189_mixture_weights")(spark, TestSpark.sf0001)
      .select("weight", "expected_tokens").collect()
    val wSum = rows.map(_.getDouble(0)).sum
    val tSum = rows.map(_.getDouble(1)).sum
    assert(math.abs(wSum - 1.0) < 1e-6, s"weights sum $wSum")
    assert(math.abs(tSum - 100000.0) < 1.0, s"expected tokens sum $tSum")
  }

  test("ECDF transform is bounded in (0,1] and monotone in the value") {
    val rows = SparkEntry.queries("q195_ecdf_transform")(spark, TestSpark.sf0001)
      .select("n_chars", "ecdf").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    assert(rows.nonEmpty)
    rows.foreach { case (_, e) => assert(e > 0.0 && e <= 1.0, s"ecdf out of range: $e") }
    rows.sliding(2).foreach {
      case Array((v1, e1), (v2, e2)) =>
        if (v1 < v2) assert(e1 < e2, s"ECDF not strictly monotone: $v1->$e1, $v2->$e2")
        else assert(e1 === e2)
      case _ => ()
    }
  }

  test("Wasserstein drift is non-negative and finite for every event type") {
    val rows = SparkEntry.queries("q194_wasserstein_drift")(spark, TestSpark.sf0001)
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(rows.length === 5)
    rows.foreach { case (t, w) =>
      assert(w >= 0.0 && !w.isNaN && !w.isInfinite, s"$t: $w") }
  }

  test("NFC normalization: idempotent, composes the planted accent, codegen ≡ interpreted") {
    val inputs = Seq("plain ascii", "café", "café", "", "é́x",
      "é already composed", "mix café and café")
    def run(): Array[(String, String)] = inputs.toDF("t")
      .select(col("t"), Extraction.nfc(col("t")).as("n"),
        Extraction.nfc(Extraction.nfc(col("t"))).as("nn"))
      .collect().map(r => (r.getString(1), r.getString(2)))
    val got = run()
    // idempotence: nfc(nfc(x)) == nfc(x)
    got.foreach { case (n, nn) => assert(n === nn) }
    // the decomposed and precomposed spellings converge
    assert(got(1)._1 === got(2)._1)
    val conf = spark.conf
    val prev = (conf.get("spark.sql.codegen.wholeStage"),
      conf.get("spark.sql.codegen.factoryMode", "FALLBACK"))
    conf.set("spark.sql.codegen.wholeStage", "false")
    conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assert(run().toSeq === got.toSeq, "codegen vs interpreted NFC")
    finally {
      conf.set("spark.sql.codegen.wholeStage", prev._1)
      conf.set("spark.sql.codegen.factoryMode", prev._2)
    }
  }

  test("every hand-rolled expression: codegen ≡ interpreted on a random battery") {
    // doGenCode and eval are two implementations of the same semantics —
    // the classic divergence source for custom Catalyst expressions. One
    // battery of seeded random inputs (unicode strings incl. astral
    // chars, float vectors incl. zeros/negatives) through JW, the vector
    // kernels, shingle/minhash/simhash, and the CMS probe, in both
    // factory modes, compared exactly.
    val rnd = new scala.util.Random(20260815L)
    val alphabets = Seq("abcdef ", "αβγδ θε", "日本語テキスト ", "áé x", "ab🙂cd ")
    val texts = (0 until 40).map { i =>
      val alpha = alphabets(i % alphabets.size)
      (0 until rnd.nextInt(30)).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    } :+ "" :+ "one"
    val vecs = (0 until 40).map { _ =>
      Array.fill(8)(rnd.nextInt(5) match {
        case 0 => 0.0f
        case _ => (rnd.nextDouble() * 2 - 1).toFloat
      })
    }
    val df = texts.zipAll(texts.reverse, "", "").zip(vecs.zipAll(vecs.reverse, Array.empty[Float], Array.empty[Float]))
      .map { case ((s1, s2), (v1, v2)) => (s1, s2, v1, v2) }
      .toDF("s1", "s2", "v1", "v2")
    val cms = Array.fill(graft.functions.Sketch.Depth * graft.functions.Sketch.Width)(
      rnd.nextInt(1000).toLong)
    def run(): Seq[Seq[Any]] = df.select(
        graft.functions.Strings.jaroWinkler(col("s1"), col("s2")),
        graft.functions.Vectors.cosine(col("v1"), col("v2")),
        graft.functions.Vectors.dot(col("v1"), col("v2")),
        graft.functions.Vectors.l2Distance(col("v1"), col("v2")),
        graft.functions.Shingles.shingles(col("s1"), 3),
        graft.functions.Shingles.minhashSigBands(col("s1"), 3, 16, 4),
        graft.functions.Shingles.simhash(col("s1"), 3),
        graft.functions.Sketch.probe(cms, col("s1")),
        Extraction.nfc(col("s1")))
      .collect().toSeq.map(_.toSeq)
    val conf = spark.conf
    val gotCodegen = run()
    val prev = (conf.get("spark.sql.codegen.wholeStage"),
      conf.get("spark.sql.codegen.factoryMode", "FALLBACK"))
    conf.set("spark.sql.codegen.wholeStage", "false")
    conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val gotInterp = run()
      gotCodegen.zip(gotInterp).zipWithIndex.foreach { case ((cg, in), i) =>
        assert(cg === in, s"row $i codegen vs interpreted: $cg vs $in")
      }
    } finally {
      conf.set("spark.sql.codegen.wholeStage", prev._1)
      conf.set("spark.sql.codegen.factoryMode", prev._2)
    }
  }

  test("proportional stratified sample takes exactly ceil(n/10) per stratum") {
    val got = SparkEntry.queries("q185_stratified_sample")(spark, TestSpark.sf0001)
      .groupBy("lang").agg(max("stratum_n").as("n"), count(lit(1)).as("k"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.nonEmpty)
    got.foreach { case (lang, n, k) =>
      assert(k === (n + 9) / 10, s"$lang: n=$n k=$k") }
  }

  test("portableSqlRounds: rewrites every round() form, leaves identifiers alone") {
    val f = catalog.Parity.portableSqlRounds _
    // simple two-arg
    assert(f("SELECT round(x, 9) FROM t") ===
      "SELECT FLOOR((x) * 1e9 + 0.5) / 1e9 FROM t")
    // nested call in the expr, comma inside nested parens
    assert(f("round(sum(CAST(a, b)), 12)") ===
      "FLOOR((sum(CAST(a, b))) * 1e12 + 0.5) / 1e12")
    // nested round-inside-round rewrites recursively
    assert(f("round(SUM(round(t, 12)), 9)") ===
      "FLOOR((SUM(FLOOR((t) * 1e12 + 0.5) / 1e12)) * 1e9 + 0.5) / 1e9")
    // single-arg round = scale 0
    assert(f("round(x)") === "FLOOR((x) * 1e0 + 0.5) / 1e0")
    // case-insensitive
    assert(f("ROUND(x, 3)") === "FLOOR((x) * 1e3 + 0.5) / 1e3")
    // identifiers containing 'round' are untouched
    assert(f("SELECT bround(x, 2), my_round(y) FROM t") ===
      "SELECT bround(x, 2), my_round(y) FROM t")
    // multiple occurrences on one line
    assert(f("round(a, 1) + round(b, 2)") ===
      "FLOOR((a) * 1e1 + 0.5) / 1e1 + FLOOR((b) * 1e2 + 0.5) / 1e2")
    // every shipped oracle must survive the rewrite with no round( left
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      assert(!sql.toLowerCase.matches("(?s).*(^|[^a-z0-9_])round\\(.*"),
        s"$name still contains a bare round( after rewrite")
    }
  }
}

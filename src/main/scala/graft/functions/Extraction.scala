package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge.{toColumn => column, toExpression => expression}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block.BlockHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The reference's page-extraction semantics re-expressed as pure
  * `Column => Column` functions (whole-stage-codegen'd Catalyst
  * expressions — no UDFs on the hot path).
  *
  * Reference provenance (marianna13/doc2dataset, /root/reference):
  *  - tag strip / word count / img handling / digit removal regexes:
  *    `doc2dataset/extractor.py:13-17`
  *  - hash compute: `doc2dataset/downloader.py:423-425`
  *  - key synthesis: `doc2dataset/downloader.py:69-75`
  *  - empty-page filter: `doc2dataset/downloader.py:194-195`
  *  - page/image threshold filters: `doc2dataset/extractor.py:146-162`
  */
object Extraction {

  /** Strip every markup tag, replacing with newline (DOTALL `<.*?>` → "\n";
    * ref `extractor.py:13,47-48`). */
  def stripTags(c: Column): Column =
    regexp_replace(c, "(?s)<.*?>", "\n")

  /** Reference word-count: number of `[^][\s,<>]+` matches
    * (ref `extractor.py:15,28-31` — counts words across scripts, treating
    * brackets/commas/angle-brackets as separators). `wordPattern` is that
    * regex, kept as the documented reference; `wordCount` evaluates it as
    * the native [[WordCount]], which counts in one pass over the UTF-8
    * bytes and allocates nothing. Spark's `regexp_count` is not that: it
    * is replaced at runtime by `size(regexp_extract_all(...))`, which
    * builds a string per word only to take the array's size. */
  val wordPattern = "[^\\]\\[\\s,<>]+"
  def wordCount(c: Column): Column = column(WordCount(expression(c)))

  /** Strip every markup tag EXCEPT `<img ...>` tags (ref
    * `extractor.py:51-60` rewrites the DOM keeping canonical img tags; we
    * keep the source img tag verbatim via negative lookahead — no DOM
    * dependency, same keep-images semantics). */
  def stripTagsExceptImg(c: Column): Column =
    regexp_replace(c, "(?s)<(?!img\\b).*?>", "\n")

  /** All `<img ...>` tags in document order (DOTALL — data-URI images span
    * lines; ref `extractor.py:16,34-35`). */
  def imgTags(c: Column): Column =
    regexp_extract_all(c, lit("(?s)<img.*?>"), lit(0))

  /** Parse one dimension attribute (`width`/`height`) out of an img tag
    * as a double; missing → 0 (ref `extractor.py:38-44`). `regexp_extract`
    * yields "" on no-match and ANSI cast would throw — nullif first. A
    * double, not an int: every digit string parses (the reference's int
    * is unbounded), so `width="99999999999"` cannot fail a job; the ratio
    * in [[imgKeep]] is taken in doubles anyway. */
  def imgDim(img: Column, attr: String): Column =
    coalesce(
      nullif(regexp_extract(img, attr + "=\"(\\d+)\"", 1), lit("")).cast("double"),
      lit(0.0))

  /** Remove one img tag occurrence, treating the tag as a literal (the
    * reference re-compiles the tag as a regex — a latent escaping bug,
    * `extractor.py:63-64`; we implement the intended literal semantics). */
  def removeImgTag(c: Column, tag: Column): Column =
    replace(c, tag, lit(""))

  /** Digit removal: `[.\d]+` → "" (so "34-89" → "-", "34.67" → "";
    * ref `extractor.py:17,67-68`). */
  def removeDigits(c: Column): Column =
    regexp_replace(c, "[.\\d]+", "")

  /** True when the page still has visible content after whitespace removal
    * (ref `downloader.py:194-195`). `rlike '\S'` — same predicate as
    * `length(regexp_replace(c, "\s", "")) > 0` but stops at the first
    * non-whitespace char instead of rebuilding the whole string. */
  def nonEmptyPage(c: Column): Column =
    c.rlike("\\S")

  /** Payload hash column for `compute_hash`/`verify_hash`
    * (ref `downloader.py:423-425`): md5 | sha256 | sha512. */
  def contentHash(c: Column, algo: String): Column = algo match {
    case "md5"    => md5(c)
    case "sha256" => sha2(c, 256)
    case "sha512" => sha2(c, 512)
    case other    => throw new IllegalArgumentException(s"unsupported hash: $other")
  }

  /** Zero-padded deterministic key from a (shard, index-in-shard) pair —
    * `10^oom_sample_per_shard * shard + i`, rendered fixed-width
    * (ref `downloader.py:69-75`). Both inputs must be deterministic
    * (e.g. `row_number` over a stable sort), never partition-dependent ids. */
  def computeKey(shard: Column, indexInShard: Column,
                 oomSampleCount: Int, oomShardCount: Int): Column = {
    val trueKey = shard * math.pow(10, oomSampleCount).toLong + indexInShard
    format_string(s"%0${oomSampleCount + oomShardCount}d", trueKey)
  }

  /** Page-level key: document key + zero-based page number
    * (ref `downloader.py:212`: `str_key + str(page_no)`). */
  def pageKey(docKey: Column, pageNo: Column): Column =
    concat(docKey, pageNo.cast("string"))

  /** Image filter predicate: keep an img tag only if both dimensions are
    * >= minSize and aspect ratio (long/short side) <= maxRatio
    * (ref `extractor.py:121-126,157-162`; the reference reads width/height
    * crossed — we implement the documented drop-small-or-stretched intent).
    * A missing or zero dimension has no ratio: the ratio test passes and
    * only the size gate applies, so a dimensionless `<img/>` never divides
    * by zero (the division sits in a CASE branch, evaluated only when the
    * short side is positive). `maxRatio = Double.MaxValue` is no ratio
    * limit: the test is left out, so a dimension too long for a double
    * (an infinite ratio) passes it too. */
  def imgKeep(img: Column, minSize: Int, maxRatio: Double): Column = {
    val w = imgDim(img, "width")
    val h = imgDim(img, "height")
    val short = least(w, h)
    val ratioOk =
      if (maxRatio < Double.MaxValue)
        when(short > 0, greatest(w, h) / short <= maxRatio).otherwise(lit(true))
      else lit(true)
    w >= minSize && h >= minSize && ratioOk
  }

  /** Filter an img-tag array down to the tags passing [[imgKeep]] —
    * higher-order `filter`, no UDF. */
  def filterImgs(imgs: Column, minSize: Int, maxRatio: Double): Column =
    filter(imgs, img => imgKeep(img, minSize, maxRatio))

  /** Unicode NFC canonicalization — the normalization step every
    * multilingual pipeline runs BEFORE hashing/dedup (a decomposed
    * e+U+0301 and a precomposed é must land in the same dedup bucket;
    * raw md5 over un-normalized text silently splits them). Native
    * codegen [[NfcNormalize]] over the JDK normalizer (standard Unicode
    * NFC — bit-compatible with DuckDB's utf8proc `nfc_normalize`),
    * never a UDF. [EXT] */
  def nfc(c: Column): Column = column(NfcNormalize(expression(c)))
}

/** Shared static kernel for [[NfcNormalize]] — interpreted eval and
  * generated code call the same method (the Shingles.scala discipline). */
object NfcKernel {
  def nfc(s: UTF8String): UTF8String =
    if (s == null) null
    else UTF8String.fromString(
      java.text.Normalizer.normalize(s.toString, java.text.Normalizer.Form.NFC))
}

/** NFC normalization with codegen; null in, null out. */
case class NfcNormalize(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    NfcKernel.nfc(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NfcKernel.nfc($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Shared static kernel for [[WordCount]]. */
object WordCountKernel {
  // The separators of `Extraction.wordPattern`: `[`, `]`, `,`, `<`, `>`
  // and Java's (non-Unicode) `\s` — space, \t, \n, \u000B, \f, \r.
  private val separator: Array[Boolean] = {
    val t = new Array[Boolean](128)
    "[],<> \t\n\u000B\f\r".foreach(ch => t(ch) = true)
    t
  }

  /** Maximal runs of non-separator bytes. Every separator is ASCII, and
    * no byte of a multi-byte UTF-8 sequence (nor a malformed byte, which
    * decodes to U+FFFD) is below 0x80, so this equals the number of
    * pattern matches over the decoded string. */
  def count(s: UTF8String): Int = {
    val base = s.getBaseObject
    val end = s.getBaseOffset + s.numBytes
    var i = s.getBaseOffset
    var words = 0
    var inWord = false
    while (i < end) {
      val b = Platform.getByte(base, i)
      val sep = b >= 0 && separator(b)
      if (!sep && !inWord) words += 1
      inWord = !sep
      i += 1
    }
    words
  }
}

/** `Extraction.wordCount` with codegen; null in, null out. */
case class WordCount(child: Expression) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    WordCountKernel.count(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WordCountKernel.count($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

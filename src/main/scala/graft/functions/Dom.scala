package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** Real DOM-based HTML extraction over the JDK's built-in lenient SGML
  * parser (`javax.swing.text.html.parser.ParserDelegator`) — the
  * round-11 promotion of the DOM-parse row: the reference extracts text
  * and images through a real HTML tree (resiliparse `HTMLTree`,
  * `/root/reference/doc2dataset/extractor.py:138-139`); this repo's
  * regex twins ([[Extraction]]) pass all 7 ported extractor tests but a
  * real parser additionally gets right what no regex can:
  *
  *   - attribute values containing `>` (`<p title="a>b">` — the regex
  *     strip cuts mid-tag)
  *   - character entities (`&amp;lt;` is TEXT, not markup)
  *   - `<script>`/`<style>` payloads (content, not text)
  *   - unclosed/misnested tags (the SGML parser recovers)
  *
  * No external dependency: `java.desktop` ships the parser. It is not
  * resiliparse-grade on HTML5 edge cases (its DTD is HTML 3.2-era), so
  * the regex twins remain the default for byte-parity with the ported
  * reference tests; `DomSpec` pins where the two agree and where the
  * DOM version is strictly more correct.
  *
  * Used via UDFs — justified: a streaming SAX-style parse with
  * stateful skip-depth has no Catalyst-expression equivalent.
  */
object Dom {

  case class DomImg(src: String, width: Int, height: Int) // -1 = absent

  /** Charset detection for raw HTML bytes (ref `extractor.py:138-139`:
    * resiliparse `detect_encoding` + `parse_from_bytes` — pages are
    * fetched as BYTES and the charset must be inferred before parsing,
    * or a windows-1251 / Shift-JIS page mis-decodes silently).
    * Cascade, all from public algorithms:
    *
    *   1. BOM: UTF-8 / UTF-16BE / UTF-16LE
    *   2. `<meta charset=…>` / `<meta http-equiv Content-Type
    *      …charset=…>` in the first 2048 bytes (the HTML5 pre-scan
    *      window), case-insensitive; unknown labels fall through
    *   3. strict UTF-8 validation of the full payload (ASCII-only
    *      passes here too)
    *   4. legacy heuristic: Shift-JIS lead bytes 0x81–0x9F with valid
    *      trails ⇒ Shift_JIS — but 0x91–0x97 is ALSO the windows-125x
    *      typographic band (curly quotes/dashes: ’ in "don’t" is 0x92
    *      followed by an ASCII letter, a perfectly valid SJIS pair), so
    *      a 0x91–0x97 lead with an ASCII trail counts as latin
    *      evidence, not SJIS, unless "strong" pairs (lead outside the
    *      band, or a ≥0x80 trail) dominate; else a high-byte population
    *      dominated by 0xC0–0xFF (+Ё/ё at 0xA8/0xB8) ⇒ windows-1251;
    *      else windows-1252 (the web's de-facto latin fallback)
    */
  def detectEncoding(bytes: Array[Byte]): java.nio.charset.Charset = {
    import java.nio.charset.{Charset, StandardCharsets}
    if (bytes == null || bytes.length == 0) return StandardCharsets.UTF_8
    val n = bytes.length
    def b(i: Int) = bytes(i) & 0xff
    if (n >= 3 && b(0) == 0xEF && b(1) == 0xBB && b(2) == 0xBF) return StandardCharsets.UTF_8
    if (n >= 2 && b(0) == 0xFE && b(1) == 0xFF) return StandardCharsets.UTF_16BE
    if (n >= 2 && b(0) == 0xFF && b(1) == 0xFE) return StandardCharsets.UTF_16LE
    val head = new String(bytes, 0, math.min(2048, n), StandardCharsets.ISO_8859_1)
    val MetaCharset =
      """(?i)<meta[^>]*charset\s*=\s*["']?\s*([A-Za-z0-9_\-]+)""".r
    val XmlDecl = // XHTML: <?xml version="1.0" encoding="…"?>
      """(?i)<\?xml[^>]*encoding\s*=\s*["']\s*([A-Za-z0-9_\-]+)""".r
    for (m <- MetaCharset.findFirstMatchIn(head)
           .orElse(XmlDecl.findFirstMatchIn(head))) {
      try return Charset.forName(m.group(1))
      catch { case _: Exception => } // unknown label: fall through
    }
    if (isValidUtf8(bytes)) return StandardCharsets.UTF_8
    // legacy 8-bit / multibyte heuristic. 1251-vs-1252 is byte-wise
    // ambiguous (é in 1252 is щ in 1251); the discriminator is DENSITY:
    // Cyrillic text is runs of consecutive high bytes (whole words),
    // latin text has isolated accents inside ASCII words.
    var i = 0
    var hi = 0; var cyr = 0; var sjisLead = 0; var sjisBad = 0
    var sjisStrong = 0; var sjisPunct = 0
    var hiPairs = 0; var prevHi = false
    while (i < n) {
      val c = b(i)
      if (c < 0x80) { prevHi = false; i += 1 }
      else {
        hi += 1
        if (prevHi) hiPairs += 1
        prevHi = true
        if (c >= 0xC0 || c == 0xA8 || c == 0xB8) cyr += 1
        if (c >= 0x81 && c <= 0x9F) {
          if (i + 1 < n) {
            val t = b(i + 1)
            if (t >= 0x40 && t <= 0xFC && t != 0x7F) {
              sjisLead += 1
              // 0x91-0x97 + ASCII trail is the windows-125x curly-
              // quote/dash-before-a-letter shape — latin evidence
              if (c >= 0x91 && c <= 0x97 && t < 0x80) sjisPunct += 1
              else sjisStrong += 1
              prevHi = false; i += 2
            }
            else { sjisBad += 1; i += 1 }
          } else i += 1
        } else i += 1
      }
    }
    // strong pairs must dominate the 0x91–0x97+ASCII-trail band, but a
    // strict majority is too strict for REAL Shift_JIS (r16, ADVICE):
    // kanji with 0x91–0x97 leads and 0x40–0x7E trails are a legal,
    // common SJIS shape, so a kanji-heavy page can legitimately accrue
    // more band/ASCII pairs than strong ones. windows-125x pages have
    // essentially ZERO strong pairs (0x81–0x90/0x98–0x9F are the rare
    // †‡ˆ‰Š‹ŒŽ™š›œž code points), so strong ≥ punct/2 (with the
    // absolute ≥3 floor) separates the classes: curly-quote latin text
    // stays latin, mixed kanji text detects as SJIS.
    if (sjisStrong >= 3 && sjisLead > 4 * sjisBad && sjisStrong * 2 >= sjisPunct)
      Charset.forName("Shift_JIS")
    else if (hi > 0 && cyr * 10 >= hi * 6 && hiPairs * 2 >= hi)
      Charset.forName("windows-1251")
    else Charset.forName("windows-1252")
  }

  /** Strict UTF-8 validation (RFC 3629: no overlongs, no surrogates,
    * max U+10FFFF). */
  private[graft] def isValidUtf8(bytes: Array[Byte]): Boolean = {
    var i = 0
    val n = bytes.length
    while (i < n) {
      val c = bytes(i) & 0xff
      if (c < 0x80) i += 1
      else {
        val (len, min) =
          if (c >= 0xC2 && c <= 0xDF) (2, 0x80)
          else if (c >= 0xE0 && c <= 0xEF) (3, 0x800)
          else if (c >= 0xF0 && c <= 0xF4) (4, 0x10000)
          else return false
        if (i + len > n) return false
        var cp = c & (0x7f >> len)
        var k = 1
        while (k < len) {
          val t = bytes(i + k) & 0xff
          if ((t & 0xc0) != 0x80) return false
          cp = (cp << 6) | (t & 0x3f)
          k += 1
        }
        if (cp < min || cp > 0x10FFFF || (cp >= 0xD800 && cp <= 0xDFFF)) return false
        i += len
      }
    }
    true
  }

  /** Bytes → text through the detected charset, BOM stripped — the
    * `parse_from_bytes` twin. */
  def decodeHtml(bytes: Array[Byte]): String = {
    if (bytes == null || bytes.length == 0) return ""
    val s = new String(bytes, detectEncoding(bytes))
    if (s.nonEmpty && s.charAt(0) == '\uFEFF') s.substring(1) else s
  }

  /** Detected charset name for a binary column (diagnostics/routing). */
  def detectedCharset(c: Column): Column =
    udf((b: Array[Byte]) => detectEncoding(b).name()).apply(c)

  /** Visible text parsed from RAW BYTES: charset detection + decode +
    * DOM parse in one pass (the reference's extract path shape). */
  def domTextBytes(c: Column): Column =
    udf((b: Array[Byte]) => parse(decodeHtml(b))._1).apply(c)

  /** In-document robots policy: `<meta name="robots" content="…">`
    * (either attribute order, any quoting) — the HTML twin of the
    * `X-Robots-Tag` header opt-out the reference honors
    * (`downloader.py:20-34`); a crawler that respects one must respect
    * both. Returns true when the directives include `noindex` or
    * `none` (RFC 9309-adjacent convention). */
  private[graft] def robotsNoindex(html: String): Boolean = {
    if (html == null || html.isEmpty) return false
    val metas = """(?is)<meta\b[^>]*>""".r.findAllIn(html)
    val Name = """(?i)name\s*=\s*["']?\s*robots\b""".r
    val Content = """(?i)content\s*=\s*("([^"]*)"|'([^']*)'|([^\s>]+))""".r
    metas.exists { m =>
      Name.findFirstIn(m).isDefined && Content.findFirstMatchIn(m).exists { c =>
        val v = Option(c.group(2)).orElse(Option(c.group(3)))
          .getOrElse(c.group(4)).toLowerCase(java.util.Locale.ROOT)
        v.split("[,\\s]+").exists(d => d == "noindex" || d == "none")
      }
    }
  }

  /** noindex flag over a BYTES column (charset-detected decode first). */
  def metaRobotsNoindex(c: Column): Column =
    udf((b: Array[Byte]) => robotsNoindex(decodeHtml(b))).apply(c)

  /** SAX-style parse: returns (visible text, img descriptors). Text is
    * whitespace-normalized (single spaces); script/style content is
    * dropped; entities are decoded by the parser. Null/empty html →
    * ("", Nil). */
  def parse(html0: String): (String, Seq[DomImg]) = {
    if (html0 == null || html0.isEmpty) return ("", Nil)
    // script/style payloads are CDATA — no nested markup — so the
    // delimited strip is exact there (unlike general tags); the swing
    // parser doesn't deliver STYLE through start/end callbacks
    // consistently enough to depth-track it
    val html = html0.replaceAll("(?is)<(script|style)\\b[^>]*>.*?</\\1\\s*>", " ")
    import javax.swing.text.html.HTML
    import javax.swing.text.MutableAttributeSet
    val sb = new StringBuilder
    val imgs = scala.collection.mutable.ArrayBuffer[DomImg]()
    def addImg(a: MutableAttributeSet): Unit = {
      val src = Option(a.getAttribute(HTML.Attribute.SRC)).map(_.toString).getOrElse("")
      def dim(at: HTML.Attribute): Int =
        Option(a.getAttribute(at)).map(_.toString.trim)
          .flatMap(s => scala.util.Try(s.toInt).toOption).getOrElse(-1)
      imgs += DomImg(src, dim(HTML.Attribute.WIDTH), dim(HTML.Attribute.HEIGHT))
    }
    val cb = new javax.swing.text.html.HTMLEditorKit.ParserCallback {
      private var skip = 0 // <script>/<style> nesting depth
      override def handleText(data: Array[Char], pos: Int): Unit =
        if (skip == 0 && data.nonEmpty) {
          if (sb.nonEmpty) sb.append(' ')
          sb.appendAll(data)
        }
      override def handleStartTag(t: HTML.Tag, a: MutableAttributeSet, pos: Int): Unit = {
        if (t == HTML.Tag.SCRIPT || t == HTML.Tag.STYLE) skip += 1
        if (t == HTML.Tag.IMG) addImg(a) // some parsers route img here
      }
      override def handleEndTag(t: HTML.Tag, pos: Int): Unit =
        if (t == HTML.Tag.SCRIPT || t == HTML.Tag.STYLE) skip = math.max(0, skip - 1)
      override def handleSimpleTag(t: HTML.Tag, a: MutableAttributeSet, pos: Int): Unit =
        if (t == HTML.Tag.IMG) addImg(a)
    }
    new javax.swing.text.html.parser.ParserDelegator()
      .parse(new java.io.StringReader(html), cb, true)
    (sb.toString.replaceAll("\\s+", " ").trim, imgs.toSeq)
  }

  /** Visible text via the real parser (whitespace-normalized). */
  def domText(c: Column): Column = udf((s: String) => parse(s)._1).apply(c)

  /** img src attributes via the real parser. */
  def domImgSrcs(c: Column): Column =
    udf((s: String) => parse(s)._2.map(_.src)).apply(c)
}

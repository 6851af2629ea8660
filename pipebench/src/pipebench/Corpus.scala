package pipebench

import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}

import graft.PdfFixtures

/** Seeded corpus synthesis with planted truth. Everything here runs in the
  * benchmark's JVM before any timed window; the program under test only
  * ever sees the staged bytes.
  *
  * Truth is planted, never read back from the program: a decodable
  * document carries the word count of each of its pages, a document that
  * must fail carries the reason class the stats sidecar has to account it
  * under.
  */
object Corpus {

  /** One staged document.
    * @param route  decoder route `AutoPdfDecoder` takes for these bytes
    * @param pages  planted word count per page (decodable documents)
    * @param fail   planted failure class: "empty_page" (decodes to a page
    *               without text) or "error" (cannot be opened)
    */
  final case class Doc(name: String, url: String, route: String,
                       bytes: Array[Byte], pages: IndexedSeq[Int],
                       fail: Option[String])

  /** One page-text row of the curation corpus. */
  final case class TextDoc(key: String, text: String)

  /** Curation corpus with its planted groups (keys). */
  final case class CurationSet(docs: IndexedSeq[TextDoc],
                               exactGroups: IndexedSeq[IndexedSeq[String]],
                               nearClusters: IndexedSeq[IndexedSeq[String]],
                               distinct: IndexedSeq[String])

  /** `AutoPdfDecoder`'s routes, with PDFs split into plain, encrypted and
    * image-only ones. */
  val Routes: Seq[String] = Seq("pdf", "pdf_encrypted", "pdf_image", "zipdoc",
    "ebook", "svg", "txt", "raster", "fallback")

  // a fixed vocabulary: lowercase ASCII words, so every word counter
  // (whitespace split, the reference's `[^][\s,<>]+`) agrees on them
  private val vocab: IndexedSeq[String] = {
    val r = new java.util.SplittableRandom(0x5eedL)
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < 6000) {
      val n = 3 + r.nextInt(7)
      seen += new String(Array.fill(n)(('a' + r.nextInt(26)).toChar))
    }
    seen.toIndexedSeq
  }

  private def words(r: java.util.SplittableRandom, n: Int): IndexedSeq[String] =
    IndexedSeq.fill(n)(vocab(r.nextInt(vocab.size)))

  // ------------------------------------------------------------ PDF text

  private def deflate(b: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.DeflaterOutputStream(bos)
    z.write(b); z.close()
    bos.toByteArray
  }

  /** A multi-page PDF with one Flate-compressed content stream per page
    * and a real xref table. Each page shows its words as lines of text
    * runs; every run ends in a space so no two words can merge. */
  def textPdf(pages: Seq[Seq[String]]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val offsets = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    def wr(s: String): Unit = bos.write(s.getBytes(ISO_8859_1))
    def obj(num: Int, dict: String, stream: Option[Array[Byte]] = None): Unit = {
      offsets += ((num, bos.size()))
      wr(s"$num 0 obj\n$dict\n")
      stream.foreach { st => wr("stream\n"); bos.write(st); wr("\nendstream\n") }
      wr("endobj\n")
    }
    wr("%PDF-1.7\n%âãÏÓ\n")
    val kids = pages.indices.map(p => s"${10 + 2 * p} 0 R").mkString(" ")
    obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    obj(2, s"<< /Type /Pages /Kids [ $kids ] /Count ${pages.size} >>")
    obj(3, "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    pages.zipWithIndex.foreach { case (ws, p) =>
      val lines = ws.grouped(12).map(l => s"(${l.mkString(" ")} ) Tj T*").mkString("\n")
      val content = deflate(s"BT\n/F1 10 Tf\n12 TL\n56 780 Td\n$lines\nET\n".getBytes(ISO_8859_1))
      obj(10 + 2 * p, "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        s"/Resources << /Font << /F1 3 0 R >> >> /Contents ${11 + 2 * p} 0 R >>")
      obj(11 + 2 * p, s"<< /Length ${content.length} /Filter /FlateDecode >>", Some(content))
    }
    val xref = bos.size()
    val size = 12 + 2 * pages.size
    val byNum = offsets.toMap
    wr(s"xref\n0 $size\n0000000000 65535 f \n")
    (1 until size).foreach { n =>
      byNum.get(n) match {
        case Some(off) => wr(f"$off%010d 00000 n \n")
        case None      => wr("0000000000 65535 f \n")
      }
    }
    wr(s"trailer\n<< /Size $size /Root 1 0 R >>\nstartxref\n$xref\n%%EOF\n")
    bos.toByteArray
  }

  // --------------------------------------------------- text-heavy formats

  /** Plain text under the decoder's 66-lines-per-page contract: every
    * page but the last is padded to 66 lines with empty ones. */
  def txtDoc(pages: Seq[Seq[String]]): Array[Byte] = {
    val lines = pages.zipWithIndex.flatMap { case (ws, p) =>
      val ls = ws.grouped(math.max(1, (ws.size + 65) / 66)).map(_.mkString(" ")).toSeq
      if (p == pages.size - 1) ls else ls ++ Seq.fill(66 - ls.size)("")
    }
    lines.mkString("\n").getBytes(UTF_8)
  }

  /** FictionBook: one top-level section per page. */
  def fb2Doc(pages: Seq[Seq[String]]): Array[Byte] = {
    val sections = pages.map { ws =>
      ws.grouped(40).map(l => s"<p>${l.mkString(" ")}</p>").mkString("<section>", "", "</section>")
    }.mkString
    ("""<?xml version="1.0" encoding="utf-8"?>""" +
      """<FictionBook xmlns="http://www.gribuser.ru/xml/fictionbook/2.0">""" +
      """<description><title-info/></description>""" +
      s"<body>$sections</body></FictionBook>").getBytes(UTF_8)
  }

  /** EPUB (container.xml → OPF spine → one XHTML chapter per page). */
  def epubDoc(pages: Seq[Seq[String]]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val zos = new java.util.zip.ZipOutputStream(bos)
    def entry(name: String, body: String): Unit = {
      zos.putNextEntry(new java.util.zip.ZipEntry(name))
      zos.write(body.getBytes(UTF_8))
      zos.closeEntry()
    }
    entry("mimetype", "application/epub+zip")
    entry("META-INF/container.xml",
      """<?xml version="1.0"?><container version="1.0"><rootfiles>""" +
        """<rootfile full-path="OEBPS/content.opf" media-type="application/oebps-package+xml"/>""" +
        "</rootfiles></container>")
    val items = pages.indices.map(c =>
      s"""<item id="ch$c" href="ch$c.xhtml" media-type="application/xhtml+xml"/>""").mkString
    val spine = pages.indices.map(c => s"""<itemref idref="ch$c"/>""").mkString
    entry("OEBPS/content.opf",
      s"""<?xml version="1.0"?><package version="3.0"><manifest>$items</manifest>""" +
        s"<spine>$spine</spine></package>")
    pages.zipWithIndex.foreach { case (ws, c) =>
      val body = ws.grouped(40).map(l => s"<p>${l.mkString(" ")}</p>").mkString
      entry(s"OEBPS/ch$c.xhtml", s"<html><body>$body</body></html>")
    }
    zos.close()
    bos.toByteArray
  }

  // ------------------------------------------------------------- corpora

  private def url(r: java.util.SplittableRandom, name: String): String =
    f"https://corpus.invalid/${r.nextInt(1 << 20)}%05x/$name"

  /** Planted truth of the `PdfFixtures` text generators (their documented
    * page and word laws). */
  private def fixturePages(kind: String, id: Long): IndexedSeq[Int] = kind match {
    case "encrypted" => (0 until 1 + (id % 3).toInt).map(p => 1 + ((id + p) % 8).toInt)
    case "svg"       => IndexedSeq(2 + (id % 7).toInt)
    case _           => (0 until 1 + (id % 3).toInt).map(g => 2 + ((id + g) % 7).toInt)
  }

  /** Documents that must fail the same way on every seed: locked PDFs,
    * text-less image documents, and hostile payloads (random bytes, torn
    * PDF, torn ZIP). Their bytes do not depend on the seed. */
  def plantedFailing: IndexedSeq[(String, String, Array[Byte], String)] = {
    val r = new java.util.Random(20261018L)
    def randomBytes(n: Int): Array[Byte] = {
      val b = new Array[Byte](n); r.nextBytes(b)
      b(0) = 0x7f.toByte // never a PDF/ZIP/image magic
      b
    }
    val pdf = textPdf(Seq(Seq("torn", "document", "body")))
    val zip = epubDoc(Seq(Seq("torn", "archive")))
    IndexedSeq(
      ("locked-5.pdf", "pdf_encrypted", PdfFixtures.encryptedDoc(5), "error"),
      ("locked-10.pdf", "pdf_encrypted", PdfFixtures.encryptedDoc(10), "error"),
      ("ccitt-3.pdf", "pdf_image", PdfFixtures.ccittG4Doc(3), "empty_page"),
      ("jbig2-7.pdf", "pdf_image", PdfFixtures.jbig2Doc(7), "empty_page"),
      ("raster-2.img", "raster", PdfFixtures.imageDoc(2), "empty_page"),
      ("raster-5.img", "raster", PdfFixtures.imageDoc(5), "empty_page"),
      ("random-0.bin", "fallback", randomBytes(4096), "error"),
      ("random-1.bin", "fallback", randomBytes(1500), "error"),
      ("random-2.bin", "fallback", randomBytes(9000), "error"),
      ("torn-0.pdf", "pdf", pdf.take(40), "error"),
      ("torn-1.pdf", "pdf", "%PDF-1.4\n1 0 obj\n<< /Type /Catalog /Pages".getBytes(ISO_8859_1), "error"),
      ("torn-0.zip", "fallback", zip.take(zip.length / 3), "error"),
      ("torn-1.zip", "fallback", Array[Byte](0x50, 0x4b, 0x03, 0x04) ++ randomBytes(200), "error"))
  }

  /** `ingest_pdf`: mostly multi-page Flate text PDFs with a spread of page
    * counts, a seeded slice of every other decoder route, and the
    * [[plantedFailing]] documents. */
  def ingestPdf(seed: Long, nPdf: Int): IndexedSeq[Doc] = {
    val r = new java.util.SplittableRandom(seed)
    val pdfs = (0 until nPdf).map { i =>
      // page counts cycle 2..24 so every seed carries the same spread
      val n = 2 + (i % 23)
      val pages = IndexedSeq.fill(n)(words(r, 150 + r.nextInt(501)))
      val name = f"doc-$i%05d.pdf"
      Doc(name, url(r, name), "pdf", textPdf(pages), pages.map(_.size), None)
    }
    def ids(n: Int): IndexedSeq[Long] = IndexedSeq.fill(n)(1L + r.nextInt(1 << 20))
    def fixture(kind: String, route: String, ext: String, n: Int, gen: Long => Array[Byte]) =
      ids(n).zipWithIndex.map { case (id, k) =>
        val name = s"$kind-$k-$id.$ext"
        Doc(name, url(r, name), route, gen(id), fixturePages(kind, id), None)
      }
    // unlocked encrypted docs: one of each RC4/AESV2/AES-256 leg per 3
    val enc = ids(9).zipWithIndex.map { case (id0, k) =>
      val id = id0 - id0 % 15 + Seq(1L, 2L, 3L)(k % 3) // id % 5 != 0, leg = id % 3
      val name = s"encrypted-$k-$id.pdf"
      Doc(name, url(r, name), "pdf_encrypted", PdfFixtures.encryptedDoc(id),
        fixturePages("encrypted", id), None)
    }
    val routes = enc ++
      fixture("epub", "zipdoc", "epub", 8, PdfFixtures.epubDoc) ++
      fixture("fb2", "ebook", "fb2", 6, PdfFixtures.fb2Doc) ++
      fixture("mobi", "ebook", "mobi", 6, PdfFixtures.mobiDoc) ++
      fixture("svg", "svg", "svg", 6, PdfFixtures.svgDoc) ++
      fixture("txt", "txt", "txt", 6, PdfFixtures.txtDoc)
    val failing = plantedFailing.map { case (name, route, bytes, cls) =>
      Doc(name, s"https://corpus.invalid/planted/$name", route, bytes, IndexedSeq.empty, Some(cls))
    }
    pdfs ++ routes ++ failing
  }

  /** `ingest_shards`: text-heavy TXT / FB2 / EPUB documents with many long
    * pages; nothing hostile. */
  def ingestShards(seed: Long, nDocs: Int): IndexedSeq[Doc] = {
    val r = new java.util.SplittableRandom(seed)
    (0 until nDocs).map { i =>
      val n = 4 + (i % 13)
      val pages = IndexedSeq.fill(n)(words(r, 150 + r.nextInt(301)))
      i % 3 match {
        case 0 =>
          val name = f"book-$i%05d.txt"
          Doc(name, url(r, name), "txt", txtDoc(pages), pages.map(_.size), None)
        case 1 =>
          val name = f"book-$i%05d.fb2"
          Doc(name, url(r, name), "ebook", fb2Doc(pages), pages.map(_.size), None)
        case _ =>
          val name = f"book-$i%05d.epub"
          Doc(name, url(r, name), "zipdoc", epubDoc(pages), pages.map(_.size), None)
      }
    }
  }

  /** Side corpus for timing each decoder route directly: a few documents
    * per route, built by the same generators. */
  def routeProbe(seed: Long): IndexedSeq[Doc] = {
    val r = new java.util.SplittableRandom(seed ^ 0x7e57L)
    val imgs = (0 until 4).flatMap { _ =>
      val id = 1L + r.nextInt(1 << 16)
      Seq(Doc(s"ccitt-$id.pdf", "", "pdf_image", PdfFixtures.ccittG4Doc(id), IndexedSeq.empty, Some("empty_page")),
        Doc(s"jbig2-$id.pdf", "", "pdf_image", PdfFixtures.jbig2Doc(id), IndexedSeq.empty, Some("empty_page")),
        Doc(s"raster-$id.img", "", "raster", PdfFixtures.imageDoc(id), IndexedSeq.empty, Some("empty_page")))
    }
    ingestPdf(seed ^ 0x7e57L, 8) ++ imgs ++ ingestShards(seed ^ 0x7e57L, 6)
  }

  /** `curate_dedup` page text: distinct documents, exact-duplicate groups
    * (identical text under distinct keys) and near-duplicate clusters (a
    * base text plus variants with 2-4% of their words substituted, i.e.
    * a 3-shingle Jaccard near 0.8-0.9 to the base). */
  def curation(seed: Long, nDistinct: Int, nExact: Int, nNear: Int): CurationSet = {
    val r = new java.util.SplittableRandom(seed)
    def text(): IndexedSeq[String] = words(r, 120 + r.nextInt(131))
    val distinct = IndexedSeq.fill(nDistinct)(text())
    val exact = (0 until nExact).map(g => (text(), 2 + g % 3))
    val near = (0 until nNear).map { c =>
      val base = text()
      val rate = Seq(0.02, 0.03, 0.04)(c % 3)
      val variants = (1 until 2 + c % 4).map { _ =>
        base.map(w => if (r.nextDouble() < rate) vocab(r.nextInt(vocab.size)) else w)
      }
      base +: variants
    }
    // keys are shuffled so survivors are not simply the first rows
    val total = nDistinct + exact.map(_._2).sum + near.map(_.size).sum
    val perm = (0 until total).toArray
    for (i <- perm.indices.reverse) {
      val j = r.nextInt(i + 1); val t = perm(i); perm(i) = perm(j); perm(j) = t
    }
    val keys = perm.map(i => f"p$i%07d")
    var next = 0
    def key(): String = { next += 1; keys(next - 1) }
    val docs = scala.collection.mutable.ArrayBuffer.empty[TextDoc]
    val distinctKeys = distinct.map { t => val k = key(); docs += TextDoc(k, t.mkString(" ")); k }
    val exactKeys = exact.map { case (t, n) =>
      IndexedSeq.fill(n) { val k = key(); docs += TextDoc(k, t.mkString(" ")); k }
    }
    val nearKeys = near.map(_.map { t => val k = key(); docs += TextDoc(k, t.mkString(" ")); k })
    CurationSet(docs.toIndexedSeq, exactKeys, nearKeys, distinctKeys)
  }
}

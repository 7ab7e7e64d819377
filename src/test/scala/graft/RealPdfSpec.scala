package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.ISO_8859_1
import graft.model.Page
import graft.pdf.{PdfParser, RealPdf}

/** Parser-level contract for the real `%PDF-1.x` reader: genuine byte
  * streams parse into the shared page model; unparseable input ERRORS
  * (never silent empty text) — the graceful-degradation analogue of the
  * reference's load_pdf_from_byte_slice error path
  * (/root/reference/src/bin/server/pdf.rs:69-152).
  */
class RealPdfSpec extends AnyFunSuite {

  private val ts = new java.sql.Timestamp(0L)

  private def minimalPdf(content: String, withTrailer: Boolean = true,
      filter: String = "", length: Option[Int] = None): Array[Byte] = {
    val sb = new java.lang.StringBuilder
    sb.append("%PDF-1.4\n")
    sb.append("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    sb.append("2 0 obj\n<< /Type /Pages /Count 1 /Kids [3 0 R] /MediaBox [0 0 612 792] >>\nendobj\n")
    sb.append("3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n")
    sb.append(s"4 0 obj\n<< /Length ${length.getOrElse(content.length)}")
    if (filter.nonEmpty) sb.append(s" /Filter /$filter")
    sb.append(" >>\nstream\n").append(content).append("\nendstream\nendobj\n")
    if (withTrailer) sb.append("trailer\n<< /Size 5 /Root 1 0 R >>\n")
    sb.append("%%EOF\n")
    sb.toString.getBytes(ISO_8859_1)
  }

  test("isReal: every %PDF payload goes to the real parser; unreadable is an error row") {
    assert(RealPdf.isReal("%PDF-1.7\nstuff".getBytes(ISO_8859_1)))
    assert(!RealPdf.isReal("<html></html>".getBytes(ISO_8859_1)))
    // the retired positioned-box dialect is not a PDF the parser can read
    val dialect = "%PDF-GRAFT 1\nP 600".getBytes(ISO_8859_1)
    assert(RealPdf.isReal(dialect))
    val got = Extractor.extract(Page("t://dialect", ts, dialect, "", "en"))
    assert(got.error.contains("PdfParseException"), got.error)
    assert(got.text == "")
  }

  test("indirect-array /Contents (spec 7.7.3.3) extracts both chained streams") {
    val c1 = "BT /F1 12 Tf 1 0 0 1 50 700 Tm (first stream words) Tj ET\n"
    val c2 = "BT /F1 12 Tf 1 0 0 1 50 600 Tm (second stream words) Tj ET\n"
    val body =
      "%PDF-1.4\n" +
        "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n" +
        "2 0 obj\n<< /Type /Pages /Count 1 /Kids [3 0 R] /MediaBox [0 0 612 792] >>\nendobj\n" +
        "3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 5 0 R >>\nendobj\n" +
        "5 0 obj\n[6 0 R 7 0 R]\nendobj\n" +
        s"6 0 obj\n<< /Length ${c1.length} >>\nstream\n$c1\nendstream\nendobj\n" +
        s"7 0 obj\n<< /Length ${c2.length} >>\nstream\n$c2\nendstream\nendobj\n" +
        "trailer\n<< /Size 8 /Root 1 0 R >>\n%%EOF\n"
    val got = Extractor.extract(Page("t://indarr", ts, body.getBytes(ISO_8859_1), "", "en"))
    assert(got.error == "", got.error)
    assert(got.text.contains("first stream words") &&
      got.text.contains("second stream words"), got.text)
  }

  test("/Contents chain with a missing element errors (never silently partial)") {
    val c1 = "BT /F1 12 Tf 1 0 0 1 50 700 Tm (only half the page) Tj ET\n"
    val body =
      "%PDF-1.4\n" +
        "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n" +
        "2 0 obj\n<< /Type /Pages /Count 1 /Kids [3 0 R] /MediaBox [0 0 612 792] >>\nendobj\n" +
        "3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents [6 0 R 9 0 R] >>\nendobj\n" +
        s"6 0 obj\n<< /Length ${c1.length} >>\nstream\n$c1\nendstream\nendobj\n" +
        "trailer\n<< /Size 7 /Root 1 0 R >>\n%%EOF\n"
    val got = Extractor.extract(Page("t://missing-chain", ts, body.getBytes(ISO_8859_1), "", "en"))
    assert(got.error.contains("silently missing"), got.error)
    assert(got.text.isEmpty)
  }

  test("corrupt token mid-content-stream is an ERROR row, not silent-partial text") {
    // the malformed number after the first Tj used to silently discard the
    // rest of the stream ('lost' vanished with error="")
    val bytes = minimalPdf("BT /F1 12 Tf 1 0 0 1 50 700 Tm (seen) Tj 1.2.3 (lost) Tj ET\n")
    val got = Extractor.extract(Page("t://tokerr", ts, bytes, "", "en"))
    assert(got.error.contains("token error"), got.error)
    assert(got.text.isEmpty)
  }

  test("unresolved font resource errors instead of blind Latin-1 decode") {
    val content = "BT /F9 12 Tf 1 0 0 1 50 700 Tm (could be CID bytes) Tj ET\n"
    val sb = new java.lang.StringBuilder
    sb.append("%PDF-1.4\n")
    sb.append("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    sb.append("2 0 obj\n<< /Type /Pages /Count 1 /Kids [3 0 R] /MediaBox [0 0 612 792] >>\nendobj\n")
    // /F9 -> 7 0 R which does NOT exist: the name resolves to nothing
    sb.append("3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R /Resources << /Font << /F9 7 0 R >> >> >>\nendobj\n")
    sb.append(s"4 0 obj\n<< /Length ${content.length} >>\nstream\n").append(content).append("\nendstream\nendobj\n")
    sb.append("trailer\n<< /Size 9 /Root 1 0 R >>\n%%EOF\n")
    val got = Extractor.extract(Page("t://lostfont", ts, sb.toString.getBytes(ISO_8859_1), "", "en"))
    assert(got.error.contains("cannot be resolved"), got.error)
    assert(got.text.isEmpty)
  }

  test("codes mapped to empty text still advance the pen (layout geometry)") {
    // 'a' maps to EMPTY, 'b' to 'b'; all widths 1000 (1 em = 12pt).
    // Line 1: (aa) Tj (bb) Tj — with the advance, 'bb' spans [74, 98] and
    // ends flush with the container's right edge (line 2 ends at 98) ->
    // right-gap 0 -> SOFT wrap "bb cccc". Without the advance 'bb' ends at
    // 74 -> gap 24 of width 48 (50% > 30%) -> hard break "bb\n\ncccc".
    val cmap =
      """/CIDInit /ProcSet findresource begin
        |12 dict begin
        |begincmap
        |1 begincodespacerange
        |<00> <FF>
        |endcodespacerange
        |2 beginbfchar
        |<61> <>
        |<62> <0062>
        |endbfchar
        |endcmap
        |""".stripMargin
    val content =
      "BT /F9 12 Tf 1 0 0 1 50 700 Tm (aa) Tj (bb) Tj ET\n" +
        "BT /F9 12 Tf 1 0 0 1 50 678 Tm (cccc) Tj ET\n"
    val fd = "<< /Type /Font /Subtype /TrueType /BaseFont /Fake /FirstChar 97 " +
      "/Widths [1000 1000 1000] /ToUnicode 8 0 R >>"
    val got = Extractor.extract(Page("t://emptyadv", ts,
      fontPdf(content, fd, Some(cmap)), "", "en"))
    assert(got.error == "", got.error)
    assert(got.text == "bb cccc", got.text)
  }

  test("minimal one-page Tj text extracts through the full pipeline") {
    val bytes = minimalPdf("BT /F1 12 Tf 1 0 0 1 50 700 Tm (Hello real pdf world) Tj ET\n")
    val got = Extractor.extract(Page("t://real1", ts, bytes, "", "en"))
    assert(got.error == "", got.error)
    assert(got.isPdf)
    assert(got.text == "Hello real pdf world")
    // span carries the exact file byte range of the literal's content
    assert(got.spans.length == 1)
    val s = got.spans(0)
    val lit = new String(bytes, s.beginByte.toInt, (s.endByte - s.beginByte).toInt, ISO_8859_1)
    assert(lit == "Hello real pdf world")
  }

  test("TJ array with kerning joins fragments; ' and \" advance lines") {
    val ops =
      "BT /F1 12 Tf 22 TL 1 0 0 1 50 700 Tm [(Frag) -120 (mented) -80 ( run)] TJ " +
        "(second line here) ' ET\n"
    val got = Extractor.extract(Page("t://real2", ts, minimalPdf(ops), "", "en"))
    assert(got.error == "", got.error)
    assert(got.text.startsWith("Fragmented run"))
    assert(got.text.contains("second line here"))
  }

  test("FlateDecode content stream inflates and extracts") {
    val ops = "BT /F1 12 Tf 1 0 0 1 50 700 Tm (compressed words inside) Tj ET\n"
    val d = new java.util.zip.Deflater()
    val raw = ops.getBytes(ISO_8859_1)
    d.setInput(raw); d.finish()
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](256)
    while (!d.finished()) { val k = d.deflate(buf); out.write(buf, 0, k) }
    d.end()
    val comp = new String(out.toByteArray, ISO_8859_1)
    val got = Extractor.extract(Page("t://real3", ts,
      minimalPdf(comp, filter = "FlateDecode", length = Some(comp.length)), "", "en"))
    assert(got.error == "", got.error)
    assert(got.text == "compressed words inside")
  }

  test("UTF-16BE hex string decodes (CJK text)") {
    val t = "中文标题测试"
    val hex = "FEFF" + t.map(c => f"${c.toInt}%04X").mkString
    val got = Extractor.extract(Page("t://real4", ts,
      minimalPdf(s"BT /F1 12 Tf 1 0 0 1 50 700 Tm <$hex> Tj ET\n"), "", "zh"))
    assert(got.error == "", got.error)
    assert(got.text == t)
  }

  test("font-size-promoted titles render as markdown headings") {
    val ops =
      "BT /F1 24 Tf 1 0 0 1 50 742 Tm (Document Title) Tj ET\n" +
        "BT /F1 12 Tf 1 0 0 1 50 700 Tm (body text one) Tj ET\n" +
        "BT /F1 12 Tf 1 0 0 1 50 678 Tm (body text two) Tj ET\n" +
        "BT /F1 12 Tf 1 0 0 1 50 656 Tm (body text three) Tj ET\n"
    val got = Extractor.extract(Page("t://real5", ts, minimalPdf(ops), "", "en"))
    assert(got.error == "", got.error)
    assert(got.text.startsWith("# Document Title"), got.text)
  }

  test("truncated real PDF is an ERROR row, not silent empty text") {
    val got = Extractor.extract(Page("t://realerr1", ts,
      "%PDF-1.4\n1 0 obj\n<< /Type /Cat".getBytes(ISO_8859_1), "", "en"))
    assert(got.error.nonEmpty)
    assert(got.text == "")
  }

  test("image-only page (unsupported filter, no text ops) is an ERROR row") {
    val got = Extractor.extract(Page("t://realerr2", ts,
      minimalPdf("\u00FF\u00D8imagebytes", filter = "DCTDecode"), "", "en"))
    assert(got.error.nonEmpty)
    assert(got.text == "")
  }

  test("orphan fallback: text-bearing streams without a page tree still parse") {
    val bytes =
      ("%PDF-1.4\n" +
        "7 0 obj\n<< /Length 57 >>\nstream\n" +
        "BT /F1 12 Tf 1 0 0 1 50 700 Tm (orphan stream text) Tj ET\n" +
        "endstream\nendobj\n%%EOF\n").getBytes(ISO_8859_1)
    val got = Extractor.extract(Page("t://real6", ts, bytes, "", "en"))
    assert(got.error == "", got.error)
    assert(got.text == "orphan stream text")
  }

  test("object-scan resync: xref junk and a damaged object do not derail parsing") {
    val base = new String(minimalPdf("BT /F1 12 Tf 1 0 0 1 50 700 Tm (resync works) Tj ET\n"), ISO_8859_1)
    val junked = base.replace("%%EOF\n",
      "xref\n0 6\n0000000000 65535 f \n0000000017 00000 n \nbroken 9 obj <<\n%%EOF\n")
    val got = Extractor.extract(Page("t://real7", ts, junked.getBytes(ISO_8859_1), "", "en"))
    assert(got.error == "", got.error)
    assert(got.text == "resync works")
  }

  test("wrong /Length falls back to endstream scan") {
    val got = Extractor.extract(Page("t://real8", ts,
      minimalPdf("BT /F1 12 Tf 1 0 0 1 50 700 Tm (length lied) Tj ET\n",
        length = Some(999999)), "", "en"))
    assert(got.error == "", got.error)
    assert(got.text == "length lied")
  }

  test("zero-length stream (no /Length) parses as empty, not a bad slice") {
    // fuzz-found: `stream\nendstream` with no /Length made trimEol walk back
    // over the stream-start EOL, so rawEnd < rawStart → copyOfRange IAE
    val base = new String(minimalPdf("BT /F1 12 Tf 1 0 0 1 50 700 Tm (after empty) Tj ET\n"), ISO_8859_1)
    val withEmpty = base.replace("trailer\n",
      "5 0 obj\n<< >>\nstream\nendstream\nendobj\ntrailer\n")
    val got = Extractor.extract(Page("t://real9", ts, withEmpty.getBytes(ISO_8859_1), "", "en"))
    assert(got.error == "", got.error)
    assert(got.text == "after empty")
  }

  test("ruling-line grid becomes a table: cells detected geometrically from painted re rects") {
    // 2x2 grid at (50, 600)..(250, 648) in PDF space: 3 horizontal + 3
    // vertical hairline rects, stroked; one 12pt run centered in each cell
    val ops = new java.lang.StringBuilder
    for (i <- 0 to 2) ops.append(s"50 ${600 + i * 24} 200 1 re ")
    for (j <- 0 to 2) ops.append(s"${50 + j * 100} 600 1 48 re ")
    ops.append("S\n")
    val texts = Vector("alpha", "beta", "gamma", "delta")
    var k = 0
    for (rj <- 0 until 2; ci <- 0 until 2) {
      val x = 52 + ci * 100
      val yb = 608 + (1 - rj) * 24
      ops.append(s"BT /F1 12 Tf 1 0 0 1 $x $yb Tm (${texts(k)}) Tj ET\n")
      k += 1
    }
    // body text elsewhere so the page has non-table content too
    ops.append("BT /F1 12 Tf 1 0 0 1 50 700 Tm (body above the table) Tj ET\n")
    val got = Extractor.extract(Page("t://realtable", ts, minimalPdf(ops.toString), "", "en"))
    assert(got.error == "", got.error)
    assert(got.text.contains("<table><tr><td>alpha</td><td>beta</td></tr>" +
      "<tr><td>gamma</td><td>delta</td></tr></table>"), got.text)
    assert(got.text.contains("body above the table"))
  }

  test("clip-path re (W n) and short/thick rects do not produce tables") {
    val ops =
      "0 0 612 792 re W n " + // page clip: discarded by n
        "50 600 200 20 re 50 560 200 20 re f " + // thick fills: not rulings
        "BT /F1 12 Tf 1 0 0 1 50 700 Tm (no table on this page) Tj ET\n"
    val got = Extractor.extract(Page("t://realnotable", ts, minimalPdf(ops), "", "en"))
    assert(got.error == "", got.error)
    assert(!got.text.contains("<table>"), got.text)
    assert(got.text == "no table on this page")
  }

  test("large-font run inside a table grid stays a cell, not a heading") {
    val ops = new java.lang.StringBuilder
    for (i <- 0 to 2) ops.append(s"50 ${600 + i * 24} 200 1 re ")
    for (j <- 0 to 2) ops.append(s"${50 + j * 100} 600 1 48 re ")
    ops.append("S\n")
    // 18pt header-row runs inside the grid + 12pt data row + body context
    ops.append("BT /F1 18 Tf 1 0 0 1 52 630 Tm (Name) Tj ET\n")
    ops.append("BT /F1 18 Tf 1 0 0 1 152 630 Tm (Qty) Tj ET\n")
    ops.append("BT /F1 12 Tf 1 0 0 1 52 608 Tm (bolt) Tj ET\n")
    ops.append("BT /F1 12 Tf 1 0 0 1 152 608 Tm (nine) Tj ET\n")
    ops.append("BT /F1 12 Tf 1 0 0 1 50 700 Tm (intro words) Tj ET\n")
    ops.append("BT /F1 12 Tf 1 0 0 1 50 680 Tm (more body here) Tj ET\n")
    ops.append("BT /F1 12 Tf 1 0 0 1 50 660 Tm (and more body) Tj ET\n")
    val got = Extractor.extract(Page("t://realtable2", ts, minimalPdf(ops.toString), "", "en"))
    assert(got.error == "", got.error)
    assert(!got.text.contains("## Name"), got.text)
    assert(got.text.contains("<td>Name</td><td>Qty</td>"), got.text)
    assert(got.text.contains("<td>bolt</td><td>nine</td>"), got.text)
  }

  test("two pages join with the page break in tree order") {
    val sb = new java.lang.StringBuilder
    sb.append("%PDF-1.4\n")
    sb.append("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    sb.append("2 0 obj\n<< /Type /Pages /Count 2 /Kids [3 0 R 5 0 R] /MediaBox [0 0 612 792] >>\nendobj\n")
    // kids emitted in REVERSE file order: tree order must win
    val c2 = "BT /F1 12 Tf 1 0 0 1 50 700 Tm (page two) Tj ET\n"
    val c1 = "BT /F1 12 Tf 1 0 0 1 50 700 Tm (page one) Tj ET\n"
    sb.append("5 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 6 0 R >>\nendobj\n")
    sb.append(s"6 0 obj\n<< /Length ${c2.length} >>\nstream\n").append(c2).append("\nendstream\nendobj\n")
    sb.append("3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n")
    sb.append(s"4 0 obj\n<< /Length ${c1.length} >>\nstream\n").append(c1).append("\nendstream\nendobj\n")
    sb.append("trailer\n<< /Size 7 /Root 1 0 R >>\n%%EOF\n")
    val got = Extractor.extract(Page("t://real9", ts, sb.toString.getBytes(ISO_8859_1), "", "en"))
    assert(got.error == "", got.error)
    assert(got.text == "page one" + PdfParser.PageBreak + "page two")
  }

  // ---- round 4: ObjStm / xref streams / fonts / filters / CTM --------------

  private def deflateBytes(raw: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    try {
      d.setInput(raw); d.finish()
      val out = new java.io.ByteArrayOutputStream(raw.length)
      val buf = new Array[Byte](4096)
      while (!d.finished()) { val k = d.deflate(buf); out.write(buf, 0, k) }
      out.toByteArray
    } finally d.end()
  }

  private def ascii85Encode(raw: Array[Byte]): String = {
    val sb = new java.lang.StringBuilder(raw.length * 5 / 4 + 4)
    var i = 0
    while (i < raw.length) {
      val n = math.min(4, raw.length - i)
      var v = 0L
      var k = 0
      while (k < 4) { v = (v << 8) | (if (k < n) raw(i + k) & 0xFF else 0); k += 1 }
      val cs = new Array[Char](5)
      var m = 4
      while (m >= 0) { cs(m) = ('!' + (v % 85).toInt).toChar; v /= 85; m -= 1 }
      sb.append(cs, 0, n + 1)
      i += 4
    }
    sb.append("~>").toString
  }

  test("ObjStm + xref-stream trailer: page tree inside an object stream, no trailer keyword") {
    // catalog/pages/page dicts live compressed inside a /Type /ObjStm; the
    // trailer dict is the /Type /XRef stream dict (PDF 1.5+ layout)
    val inner1 = "<< /Type /Catalog /Pages 2 0 R >>"
    val inner2 = "<< /Type /Pages /Count 1 /Kids [3 0 R] /MediaBox [0 0 612 792] >>"
    val inner3 = "<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>"
    val hdr = s"1 0 2 ${inner1.length + 1} 3 ${inner1.length + inner2.length + 2} "
    val stm = hdr + inner1 + " " + inner2 + " " + inner3
    val comp = new String(deflateBytes(stm.getBytes(ISO_8859_1)), ISO_8859_1)
    val content = "BT /F1 12 Tf 1 0 0 1 50 700 Tm (modern objstm text) Tj ET\n"
    val sb = new java.lang.StringBuilder
    sb.append("%PDF-1.5\n")
    sb.append(s"5 0 obj\n<< /Type /ObjStm /N 3 /First ${hdr.length} /Length ${comp.length} /Filter /FlateDecode >>\nstream\n")
    sb.append(comp).append("\nendstream\nendobj\n")
    sb.append(s"4 0 obj\n<< /Length ${content.length} >>\nstream\n").append(content).append("\nendstream\nendobj\n")
    sb.append("6 0 obj\n<< /Type /XRef /Root 1 0 R /Size 7 /Length 0 >>\nstream\nendstream\nendobj\n")
    sb.append("startxref\n0\n%%EOF\n")
    val got = Extractor.extract(Page("t://objstm", ts, sb.toString.getBytes(ISO_8859_1), "", "en"))
    assert(got.error == "", got.error)
    assert(got.text == "modern objstm text")
  }

  test("incremental update: twice-defined page object emits once, last definition wins") {
    val cOld = "BT /F1 12 Tf 1 0 0 1 50 700 Tm (stale content) Tj ET\n"
    val cNew = "BT /F1 12 Tf 1 0 0 1 50 700 Tm (fresh content) Tj ET\n"
    val sb = new java.lang.StringBuilder
    sb.append("%PDF-1.4\n")
    // original file: page 3 -> content 4; no catalog/trailer (file-order path)
    sb.append("3 0 obj\n<< /Type /Page /Contents 4 0 R >>\nendobj\n")
    sb.append(s"4 0 obj\n<< /Length ${cOld.length} >>\nstream\n").append(cOld).append("\nendstream\nendobj\n")
    // incremental update: page 3 redefined -> content 5
    sb.append("3 0 obj\n<< /Type /Page /Contents 5 0 R >>\nendobj\n")
    sb.append(s"5 0 obj\n<< /Length ${cNew.length} >>\nstream\n").append(cNew).append("\nendstream\nendobj\n")
    sb.append("%%EOF\n")
    val got = Extractor.extract(Page("t://incr", ts, sb.toString.getBytes(ISO_8859_1), "", "en"))
    assert(got.error == "", got.error)
    assert(got.text == "fresh content", got.text)
  }

  test("incremental update in orphan mode: twice-defined stream emits one page") {
    val cOld = "BT /F1 12 Tf 1 0 0 1 50 700 Tm (orphan stale) Tj ET\n"
    val cNew = "BT /F1 12 Tf 1 0 0 1 50 700 Tm (orphan fresh) Tj ET\n"
    val sb = new java.lang.StringBuilder
    sb.append("%PDF-1.4\n")
    // no catalog, no /Type /Page anywhere: BT-bearing streams ARE the pages
    sb.append(s"4 0 obj\n<< /Length ${cOld.length} >>\nstream\n").append(cOld).append("\nendstream\nendobj\n")
    // incremental update redefines the same stream object
    sb.append(s"4 0 obj\n<< /Length ${cNew.length} >>\nstream\n").append(cNew).append("\nendstream\nendobj\n")
    sb.append("%%EOF\n")
    val got = Extractor.extract(Page("t://orphan-incr", ts, sb.toString.getBytes(ISO_8859_1), "", "en"))
    assert(got.error == "", got.error)
    assert(got.text == "orphan fresh", got.text)
  }

  /** Page with /Resources /Font; font obj 7, optional ToUnicode obj 8. */
  private def fontPdf(content: String, fontDict: String, toUnicode: Option[String]): Array[Byte] = {
    val sb = new java.lang.StringBuilder
    sb.append("%PDF-1.4\n")
    sb.append("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    sb.append("2 0 obj\n<< /Type /Pages /Count 1 /Kids [3 0 R] /MediaBox [0 0 612 792] >>\nendobj\n")
    sb.append("3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R /Resources << /Font << /F9 7 0 R >> >> >>\nendobj\n")
    sb.append(s"4 0 obj\n<< /Length ${content.length} >>\nstream\n").append(content).append("\nendstream\nendobj\n")
    sb.append(s"7 0 obj\n$fontDict\nendobj\n")
    for (tu <- toUnicode)
      sb.append(s"8 0 obj\n<< /Length ${tu.length} >>\nstream\n").append(tu).append("\nendstream\nendobj\n")
    sb.append("trailer\n<< /Size 9 /Root 1 0 R >>\n%%EOF\n")
    sb.toString.getBytes(ISO_8859_1)
  }

  private val HelloCMap =
    """/CIDInit /ProcSet findresource begin
      |12 dict begin
      |begincmap
      |1 begincodespacerange
      |<0000> <FFFF>
      |endcodespacerange
      |3 beginbfchar
      |<0001> <0048>
      |<0002> <0065>
      |<0003> <006F>
      |endbfchar
      |1 beginbfrange
      |<0010> <0012> <006C>
      |endbfrange
      |endcmap
      |CMapName currentdict /CMap defineresource pop
      |end
      |end""".stripMargin

  test("CID font with /ToUnicode decodes glyph indices to text exactly") {
    // codes: 0001=H 0002=e 0003=o (bfchar); 0010..0012 = l,m,n (bfrange)
    val content = "BT /F9 12 Tf 1 0 0 1 50 700 Tm <00010002001000100003> Tj ET\n"
    val font = "<< /Type /Font /Subtype /Type0 /BaseFont /Fake /Encoding /Identity-H /ToUnicode 8 0 R >>"
    val got = Extractor.extract(Page("t://cid1", ts, fontPdf(content, font, Some(HelloCMap)), "", "en"))
    assert(got.error == "", got.error)
    assert(got.text == "Hello", got.text)
  }

  test("CID font without /ToUnicode is an ERROR row, never silent mojibake") {
    val content = "BT /F9 12 Tf 1 0 0 1 50 700 Tm <00480065006C006C006F> Tj ET\n"
    val font = "<< /Type /Font /Subtype /Type0 /BaseFont /Fake /Encoding /Identity-H >>"
    val got = Extractor.extract(Page("t://cid2", ts, fontPdf(content, font, None), "", "en"))
    assert(got.error.contains("Type0"), got.error)
    assert(got.text == "")
  }

  test("simple font with /ToUnicode remaps 1-byte codes; without it, Latin-1 default") {
    // a subsetted simple font mapping code 0x41 -> 'Z'
    val cmap =
      """begincmap
        |1 beginbfchar
        |<41> <005A>
        |endbfchar
        |endcmap""".stripMargin
    val content = "BT /F9 12 Tf 1 0 0 1 50 700 Tm (A) Tj ET\n"
    val font = "<< /Type /Font /Subtype /TrueType /BaseFont /Fake /ToUnicode 8 0 R >>"
    val got = Extractor.extract(Page("t://simplecmap", ts, fontPdf(content, font, Some(cmap)), "", "en"))
    assert(got.error == "", got.error)
    assert(got.text == "Z", got.text)
    // same font, no cmap: bytes stay Latin-1
    val font2 = "<< /Type /Font /Subtype /TrueType /BaseFont /Fake >>"
    val got2 = Extractor.extract(Page("t://simpleplain", ts, fontPdf(content, font2, None), "", "en"))
    assert(got2.error == "" && got2.text == "A")
  }

  test("ASCIIHexDecode and ASCII85Decode content streams decode; 85+Flate chains") {
    val ops = "BT /F1 12 Tf 1 0 0 1 50 700 Tm (filter chain works) Tj ET\n"
    val hex = ops.getBytes(ISO_8859_1).map(b => f"${b & 0xFF}%02X").mkString + ">"
    val gotHex = Extractor.extract(Page("t://hexf", ts,
      minimalPdf(hex, filter = "ASCIIHexDecode", length = Some(hex.length)), "", "en"))
    assert(gotHex.error == "", gotHex.error)
    assert(gotHex.text == "filter chain works")
    val a85 = ascii85Encode(ops.getBytes(ISO_8859_1))
    val got85 = Extractor.extract(Page("t://a85", ts,
      minimalPdf(a85, filter = "ASCII85Decode", length = Some(a85.length)), "", "en"))
    assert(got85.error == "", got85.error)
    assert(got85.text == "filter chain works")
    // chained: stored bytes are ascii85(deflate(ops)); decode order 85 then flate
    val chained = ascii85Encode(deflateBytes(ops.getBytes(ISO_8859_1)))
    val body = new String(minimalPdf(chained, length = Some(chained.length)), ISO_8859_1)
      .replace(s"<< /Length ${chained.length}",
        s"<< /Length ${chained.length} /Filter [/ASCII85Decode /FlateDecode]")
    val gotChain = Extractor.extract(Page("t://chain", ts, body.getBytes(ISO_8859_1), "", "en"))
    assert(gotChain.error == "", gotChain.error)
    assert(gotChain.text == "filter chain works")
  }

  test("RunLengthDecode content streams decode; RL+Flate chains; truncation honesty") {
    // test-local encoder: literal runs only (L = n-1, then n bytes), EOD 128
    def rlEncode(raw: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      var i = 0
      while (i < raw.length) {
        val n = math.min(128, raw.length - i)
        out.write(n - 1); out.write(raw, i, n); i += n
      }
      out.write(128)
      out.toByteArray
    }
    val ops = "BT /F1 12 Tf 1 0 0 1 50 700 Tm (run length works) Tj ET\n"
    val rl = new String(rlEncode(ops.getBytes(ISO_8859_1)), ISO_8859_1)
    val got = Extractor.extract(Page("t://rl", ts,
      minimalPdf(rl, filter = "RunLengthDecode", length = Some(rl.length)), "", "en"))
    assert(got.error == "", got.error)
    assert(got.text == "run length works")
    // chained: stored = rl(deflate(ops)); decode order RunLength then Flate
    val chained = new String(rlEncode(deflateBytes(ops.getBytes(ISO_8859_1))), ISO_8859_1)
    val body = new String(minimalPdf(chained, length = Some(chained.length)), ISO_8859_1)
      .replace(s"<< /Length ${chained.length}",
        s"<< /Length ${chained.length} /Filter [/RunLengthDecode /FlateDecode]")
    val gotChain = Extractor.extract(Page("t://rlchain", ts, body.getBytes(ISO_8859_1), "", "en"))
    assert(gotChain.error == "", gotChain.error)
    assert(gotChain.text == "run length works")
    // unit vectors: repeat run (257-254=3 copies), literal run, EOD honesty
    assert(RealPdf.runLengthDecode(Array[Byte](254.toByte, 'x', 128.toByte))
      .sameElements("xxx".getBytes(ISO_8859_1)))
    assert(RealPdf.runLengthDecode(Array[Byte](2, 'a', 'b', 'c', 128.toByte))
      .sameElements("abc".getBytes(ISO_8859_1)))
    intercept[RealPdf.PdfParseException]( // no EOD
      RealPdf.runLengthDecode(Array[Byte](0, 'a')))
    intercept[RealPdf.PdfParseException]( // literal run past end-of-input
      RealPdf.runLengthDecode(Array[Byte](5, 'a', 'b')))
    intercept[RealPdf.PdfParseException]( // repeat run missing its byte
      RealPdf.runLengthDecode(Array[Byte](200.toByte)))
  }

  test("cm translate/scale: offset content places correctly; q/Q restores; scaled run is a title") {
    val ops =
      // title: 12pt scaled x2 by the CTM -> 24pt effective, at device (50, 742)
      "q 2 0 0 2 50 742 cm BT /F1 12 Tf 0 0 Td (big title here) Tj ET Q " +
        // body line 1 untranslated at (50, 700)
        "BT /F1 12 Tf 1 0 0 1 50 700 Tm (first line words) Tj ET " +
        // body line 2 placed via a translated CTM: device y = 722 - 44 = 678
        "q 1 0 0 1 0 -44 cm BT /F1 12 Tf 1 0 0 1 50 722 Tm (second line words) Tj ET Q\n"
    val got = Extractor.extract(Page("t://ctm", ts, minimalPdf(ops), "", "en"))
    assert(got.error == "", got.error)
    assert(got.text.contains("# big title here"), got.text)
    assert(got.text.contains("first line words second line words"), got.text)
  }

  test("filter decoder unit vectors: asciiHex odd pad, ascii85 z-shortcut and partial group") {
    assert(RealPdf.asciiHexDecode("48656C6C6F>".getBytes(ISO_8859_1)).sameElements("Hello".getBytes(ISO_8859_1)))
    assert(RealPdf.asciiHexDecode("4 8 65 6C6C6F7>".getBytes(ISO_8859_1))
      .sameElements("Hellop".getBytes(ISO_8859_1))) // odd digit 7 -> 0x70
    assert(RealPdf.ascii85Decode("z~>".getBytes(ISO_8859_1)).sameElements(Array[Byte](0, 0, 0, 0)))
    val roundTrip = "sample text for 85!"
    assert(RealPdf.ascii85Decode(ascii85Encode(roundTrip.getBytes(ISO_8859_1)).getBytes(ISO_8859_1))
      .sameElements(roundTrip.getBytes(ISO_8859_1)))
    // truncation honesty: missing EOD markers throw, never a silent prefix
    intercept[RealPdf.PdfParseException](RealPdf.asciiHexDecode("48656C6C6F".getBytes(ISO_8859_1)))
    intercept[RealPdf.PdfParseException](RealPdf.ascii85Decode("FCfN8".getBytes(ISO_8859_1)))
  }

  /** Test-local LZW encoder (PDF variant, EarlyChange=1): clear, 9..12-bit
    * MSB-first codes, table capped at 4096 (re-clear), EOD. */
  private def lzwEncode(raw: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var bitBuf = 0L; var bitCnt = 0; var width = 9
    def put(code: Int): Unit = {
      bitBuf = (bitBuf << width) | code; bitCnt += width
      while (bitCnt >= 8) { out.write(((bitBuf >> (bitCnt - 8)) & 0xFF).toInt); bitCnt -= 8 }
    }
    val dict = scala.collection.mutable.HashMap.empty[String, Int]
    var next = 258
    def codeOf(s: String): Option[Int] =
      if (s.length == 1) Some(s.charAt(0) & 0xFF) else dict.get(s)
    put(256)
    var cur = ""
    for (b <- raw) {
      val c = ((b & 0xFF).toChar).toString
      val cand = cur + c
      if (codeOf(cand).isDefined) cur = cand
      else {
        put(codeOf(cur).get)
        if (next < 4096) {
          dict(cand) = next; next += 1
          // the decoder's table lags one entry behind `next`, so with
          // EarlyChange=1 the encoder widens at 2^width, the decoder at 2^width-1
          while (width < 12 && next >= (1 << width)) width += 1
        } else { put(256); dict.clear(); next = 258; width = 9 }
        cur = c
      }
    }
    if (cur.nonEmpty) {
      put(codeOf(cur).get)
      // the decoder adds a table entry for the final code too — widen with
      // it when that entry lands on the early-change boundary, else EOD is
      // written one bit narrow (the fixture-id-511476 bug)
      if (next < 4096) {
        next += 1
        while (width < 12 && next >= (1 << width)) width += 1
      }
    }
    put(257)
    if (bitCnt > 0) out.write(((bitBuf << (8 - bitCnt)) & 0xFF).toInt)
    out.toByteArray
  }

  test("LZWDecode: spec vector, KwKwK, width growth round-trip") {
    // PDF 32000-1 §7.4.4.2 worked example
    val specEnc = Array(0x80, 0x0B, 0x60, 0x50, 0x22, 0x0C, 0x0C, 0x85, 0x01).map(_.toByte)
    val specDec = Array(45, 45, 45, 45, 45, 65, 45, 45, 45, 66).map(_.toByte)
    assert(RealPdf.lzwDecode(specEnc).sameElements(specDec))
    // KwKwK: a code consumed one step after the decoder creates it
    val kwk = "abababababab".getBytes(ISO_8859_1)
    assert(RealPdf.lzwDecode(lzwEncode(kwk)).sameElements(kwk))
    // width growth past 511 entries: deterministic pseudo-random bytes build
    // hundreds of dictionary entries, crossing the 9->10 bit boundary
    var seed = 12345L
    val big = Array.fill(4000) { seed = seed * 6364136223846793005L + 1442695040888963407L; (seed >>> 33).toByte }
    assert(RealPdf.lzwDecode(lzwEncode(big)).sameElements(big))
  }

  test("LZW tail-at-boundary: every input length round-trips (EOD width)") {
    // The decoder builds a table entry for the FINAL data code and widens
    // before reading EOD when that entry lands exactly on 2^w - 1. An
    // encoder that skips the implied increment on its tail emit writes EOD
    // one bit narrow — the decoder then reports a truncated stream. A dense
    // length sweep over incompressible bytes drives the tail code across
    // every table size spanning the 511 and 1023 boundaries.
    var seed = 98765L
    def lcg(): Byte = { seed = seed * 6364136223846793005L + 1442695040888963407L; (seed >>> 33).toByte }
    val pool = Array.fill(1700)(lcg())
    for (len <- 200 to 1700 by 1) {
      val raw = java.util.Arrays.copyOf(pool, len)
      val dec = RealPdf.lzwDecode(lzwEncode(raw))
      assert(dec.sameElements(raw), s"LZW round-trip failed at len=$len")
    }
  }

  test("fixture 511476 (LZW variant whose tail code lands on the boundary) extracts") {
    // regression pin: this exact corpus row decoded as "truncated LZW" when
    // the fixture encoder skipped the tail-implied width change — found by
    // the 600k-row fleet bench, invisible at 150k
    val got = Extractor.extract(graft.fixtures.FixtureGen.fixture(511476L).page)
    assert(got.error == "", got.error)
    assert(got.text.nonEmpty)
  }

  test("LZWDecode content stream extracts end-to-end") {
    val ops = "BT /F1 12 Tf 1 0 0 1 50 700 Tm (lzw stream text) Tj ET\n"
    val enc = new String(lzwEncode(ops.getBytes(ISO_8859_1)), ISO_8859_1)
    val got = Extractor.extract(Page("t://lzw", ts,
      minimalPdf(enc, filter = "LZWDecode", length = Some(enc.length)), "", "en"))
    assert(got.error == "", got.error)
    assert(got.text == "lzw stream text", got.text)
  }

  // ---- round 5: predictors / encrypt / widths / decoded spans / hardening --

  /** Test-local PNG row filter (bpp = 1 byte): raw must be full rows. */
  private def pngPredict(raw: Array[Byte], columns: Int, tag: Int): Array[Byte] = {
    val nRows = raw.length / columns
    val out = new Array[Byte]((columns + 1) * nRows)
    val prior = new Array[Byte](columns)
    for (r <- 0 until nRows) {
      out(r * (columns + 1)) = tag.toByte
      for (i <- 0 until columns) {
        val x = raw(r * columns + i) & 0xFF
        val left = if (i >= 1) raw(r * columns + i - 1) & 0xFF else 0
        val above = prior(i) & 0xFF
        val upLeft = if (i >= 1) prior(i - 1) & 0xFF else 0
        val pred = tag match {
          case 0 => 0
          case 1 => left
          case 2 => above
          case 3 => (left + above) >> 1
          case _ =>
            val p = left + above - upLeft
            val pa = math.abs(p - left); val pb = math.abs(p - above); val pc = math.abs(p - upLeft)
            if (pa <= pb && pa <= pc) left else if (pb <= pc) above else upLeft
        }
        out(r * (columns + 1) + 1 + i) = ((x - pred) & 0xFF).toByte
      }
      System.arraycopy(raw, r * columns, prior, 0, columns)
    }
    out
  }

  test("applyPredictor: PNG None/Sub/Up/Average/Paeth round-trip; TIFF 2; bad shapes throw") {
    var seed = 777L
    val data = Array.fill(24 * 10) { seed = seed * 6364136223846793005L + 1442695040888963407L; (seed >>> 33).toByte }
    for (tag <- 0 to 4)
      assert(RealPdf.applyPredictor(pngPredict(data, 24, tag), 10 + tag, 1, 8, 24).sameElements(data),
        s"PNG tag $tag")
    // TIFF predictor 2: horizontal differencing, colors=3
    val tiff = data.clone()
    val rowLen = 3 * 8 // colors=3, columns=8
    for (row <- 0 until tiff.length / rowLen; i <- (row * rowLen + rowLen - 1) to (row * rowLen + 3) by -1)
      tiff(i) = ((tiff(i) - tiff(i - 3)) & 0xFF).toByte
    assert(RealPdf.applyPredictor(tiff, 2, 3, 8, 8).sameElements(data))
    intercept[RealPdf.PdfParseException](RealPdf.applyPredictor(data, 2, 3, 4, 8)) // TIFF bpc!=8
    intercept[RealPdf.PdfParseException](RealPdf.applyPredictor(data, 7, 1, 8, 24)) // unknown predictor
  }

  test("Flate + PNG Predictor 12 ObjStm: page tree decodes, tree page order wins") {
    // the modern real-PDF norm: catalog/pages/pages packed in a predictor-12
    // Flate ObjStm, kids in REVERSE file order so only the decoded tree can
    // order the pages correctly
    val inner1 = "<< /Type /Catalog /Pages 2 0 R >>"
    val inner2 = "<< /Type /Pages /Count 2 /Kids [3 0 R 7 0 R] /MediaBox [0 0 612 792] >>"
    val inner3 = "<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>"
    val inner7 = "<< /Type /Page /Parent 2 0 R /Contents 8 0 R >>"
    val hdr = s"1 0 2 ${inner1.length + 1} 3 ${inner1.length + inner2.length + 2} " +
      s"7 ${inner1.length + inner2.length + inner3.length + 3} "
    val cols = 24
    val stm0 = hdr + inner1 + " " + inner2 + " " + inner3 + " " + inner7
    val stm = stm0 + " " * ((cols - stm0.length % cols) % cols) // full rows
    val comp = new String(deflateBytes(pngPredict(stm.getBytes(ISO_8859_1), cols, 2)), ISO_8859_1)
    val c1 = "BT /F1 12 Tf 1 0 0 1 50 700 Tm (predictor page one) Tj ET\n"
    val c2 = "BT /F1 12 Tf 1 0 0 1 50 700 Tm (predictor page two) Tj ET\n"
    val sb = new java.lang.StringBuilder
    sb.append("%PDF-1.5\n")
    sb.append(s"8 0 obj\n<< /Length ${c2.length} >>\nstream\n").append(c2).append("\nendstream\nendobj\n")
    sb.append(s"4 0 obj\n<< /Length ${c1.length} >>\nstream\n").append(c1).append("\nendstream\nendobj\n")
    sb.append(s"5 0 obj\n<< /Type /ObjStm /N 4 /First ${hdr.length} /Length ${comp.length} " +
      s"/Filter /FlateDecode /DecodeParms << /Predictor 12 /Columns $cols >> >>\nstream\n")
    sb.append(comp).append("\nendstream\nendobj\n")
    sb.append("6 0 obj\n<< /Type /XRef /Root 1 0 R /Size 9 /Length 0 >>\nstream\nendstream\nendobj\n")
    sb.append("startxref\n0\n%%EOF\n")
    val got = Extractor.extract(Page("t://pred12", ts, sb.toString.getBytes(ISO_8859_1), "", "en"))
    assert(got.error == "", got.error)
    assert(got.text == "predictor page one" + PdfParser.PageBreak + "predictor page two", got.text)
  }

  test("unsupported predictor shape and INDIRECT DecodeParms skip as metadata-only, never mis-decode") {
    // TIFF predictor at 4 bpc: honest skip -> stream metadata-only -> no text
    // operators -> clean ERROR row (never silently-corrupt text)
    val ops = "BT /F1 12 Tf 1 0 0 1 50 700 Tm (should not surface) Tj ET\n"
    val comp = new String(deflateBytes(ops.getBytes(ISO_8859_1)), ISO_8859_1)
    val base = new String(minimalPdf(comp, length = Some(comp.length)), ISO_8859_1)
    val badShape = base.replace(s"<< /Length ${comp.length}",
      s"<< /Length ${comp.length} /Filter /FlateDecode /DecodeParms << /Predictor 2 /BitsPerComponent 4 >>")
    val got1 = Extractor.extract(Page("t://badpred", ts, badShape.getBytes(ISO_8859_1), "", "en"))
    assert(got1.error.nonEmpty && got1.text == "", s"'${got1.text}' / ${got1.error}")
    // indirect /DecodeParms (ADVICE): a ref cannot be dereferenced during the
    // scan — the stream must NOT be Flate-decoded without its predictor
    val indirect = base.replace(s"<< /Length ${comp.length}",
      s"<< /Length ${comp.length} /Filter /FlateDecode /DecodeParms 9 0 R")
    val got2 = Extractor.extract(Page("t://indirectparms", ts, indirect.getBytes(ISO_8859_1), "", "en"))
    assert(got2.error.nonEmpty && got2.text == "", s"'${got2.text}' / ${got2.error}")
  }

  test("/Encrypt in the trailer is a clean 'encrypted PDF' error row") {
    val base = new String(minimalPdf("BT /F1 12 Tf 1 0 0 1 50 700 Tm (cipher) Tj ET\n"), ISO_8859_1)
    val enc = base.replace("<< /Size 5 /Root 1 0 R >>", "<< /Size 5 /Root 1 0 R /Encrypt 9 0 R >>")
    val got = Extractor.extract(Page("t://encrypted", ts, enc.getBytes(ISO_8859_1), "", "en"))
    assert(got.error.contains("encrypted"), got.error)
    assert(got.text == "")
  }

  test("partial /ToUnicode on a SIMPLE font falls back per-code to the default decode") {
    // subsetted TrueType whose CMap remaps only 0x41 -> 'Z'; the uncovered
    // codes keep their Latin-1 identity instead of becoming U+FFFD
    val cmap =
      """begincmap
        |1 beginbfchar
        |<41> <005A>
        |endbfchar
        |endcmap""".stripMargin
    val content = "BT /F9 12 Tf 1 0 0 1 50 700 Tm (Arcade) Tj ET\n"
    val font = "<< /Type /Font /Subtype /TrueType /BaseFont /Fake /ToUnicode 8 0 R >>"
    val got = Extractor.extract(Page("t://partialcmap", ts, fontPdf(content, font, Some(cmap)), "", "en"))
    assert(got.error == "", got.error)
    assert(got.text == "Zrcade", got.text)
  }

  test("partial CMap on a Type0 font still yields U+FFFD for unmapped CIDs (no byte identity)") {
    val cmap =
      """begincmap
        |1 beginbfchar
        |<0001> <0048>
        |endbfchar
        |endcmap""".stripMargin
    val content = "BT /F9 12 Tf 1 0 0 1 50 700 Tm <00010002> Tj ET\n"
    val font = "<< /Type /Font /Subtype /Type0 /BaseFont /Fake /Encoding /Identity-H /ToUnicode 8 0 R >>"
    val got = Extractor.extract(Page("t://cidpartial", ts, fontPdf(content, font, Some(cmap)), "", "en"))
    assert(got.error == "", got.error)
    assert(got.text == "H\uFFFD", got.text)
  }

  test("bfrange with a non-BMP target increments the code point, not the low surrogate") {
    val cmap =
      """begincmap
        |1 beginbfrange
        |<01> <03> <D83DDE00>
        |endbfrange
        |endcmap""".stripMargin.getBytes(ISO_8859_1)
    val (m, len) = RealPdf.parseToUnicode(cmap)
    assert(len == 1)
    assert(m(1) == "\uD83D\uDE00") // U+1F600
    assert(m(2) == "\uD83D\uDE01")
    assert(m(3) == "\uD83D\uDE02")
    // an increment that would land in the surrogate range keeps the base
    val cmap2 =
      """begincmap
        |1 beginbfrange
        |<01> <03> <D7FF>
        |endbfrange
        |endcmap""".stripMargin.getBytes(ISO_8859_1)
    val (m2, _) = RealPdf.parseToUnicode(cmap2)
    assert(m2(1) == "\uD7FF" && m2(2) == "\uD7FF" && m2(3) == "\uD7FF")
  }

  test("/FirstChar+/Widths metrics size the run box; indirect /Widths array derefs") {
    // a=0.2em, b=1.0em at 12pt -> "ab" box width 14.4
    val content = "BT /F9 12 Tf 1 0 0 1 50 700 Tm (ab) Tj ET\n"
    val font = "<< /Type /Font /Subtype /TrueType /BaseFont /Fake /FirstChar 97 /Widths [200 1000] >>"
    val pages = RealPdf.parse(fontPdf(content, font, None))
    assert(pages.length == 1 && pages(0).boxes.length == 1)
    assert(math.abs(pages(0).boxes(0).box.w - 14.4) < 1e-9, pages(0).boxes(0).box.w.toString)
    // same metrics through an indirect /Widths array object
    val sb = new java.lang.StringBuilder
    sb.append("%PDF-1.4\n")
    sb.append("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    sb.append("2 0 obj\n<< /Type /Pages /Count 1 /Kids [3 0 R] /MediaBox [0 0 612 792] >>\nendobj\n")
    sb.append("3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R /Resources << /Font << /F9 7 0 R >> >> >>\nendobj\n")
    sb.append(s"4 0 obj\n<< /Length ${content.length} >>\nstream\n").append(content).append("\nendstream\nendobj\n")
    sb.append("7 0 obj\n<< /Type /Font /Subtype /TrueType /BaseFont /Fake /FirstChar 97 /Widths 9 0 R >>\nendobj\n")
    sb.append("9 0 obj\n[200 1000]\nendobj\n")
    sb.append("trailer\n<< /Size 10 /Root 1 0 R >>\n%%EOF\n")
    val pages2 = RealPdf.parse(sb.toString.getBytes(ISO_8859_1))
    assert(math.abs(pages2(0).boxes(0).box.w - 14.4) < 1e-9, pages2(0).boxes(0).box.w.toString)
  }

  test("CID /W + /DW metrics size the run box") {
    val cmap =
      """begincmap
        |2 beginbfchar
        |<0001> <0041>
        |<0002> <0042>
        |endbfchar
        |endcmap""".stripMargin
    val content = "BT /F9 12 Tf 1 0 0 1 50 700 Tm <00010002> Tj ET\n"
    val font = "<< /Type /Font /Subtype /Type0 /BaseFont /Fake /Encoding /Identity-H /ToUnicode 8 0 R " +
      "/DescendantFonts [ << /Subtype /CIDFontType2 /W [1 [600 800]] /DW 1000 >> ] >>"
    val pages = RealPdf.parse(fontPdf(content, font, Some(cmap)))
    assert(pages(0).boxes.length == 1 && pages(0).boxes(0).text == "AB")
    assert(math.abs(pages(0).boxes(0).box.w - 16.8) < 1e-9, pages(0).boxes(0).box.w.toString)
  }

  test("width metrics change the soft-wrap/hard-break layout decision correctly") {
    // two stacked lines: narrow 'a' glyphs (0.2em) + wide 'b' glyphs (1.0em).
    // With metrics the first line ends 24pt short of the 48pt-wide container
    // (> 30%) -> hard paragraph break; with the flat 0.5em estimate the first
    // line IS the right edge -> soft wrap with a space.
    val content =
      "BT /F9 12 Tf 1 0 0 1 50 700 Tm (aaaaaaaaaa) Tj ET\n" +
        "BT /F9 12 Tf 1 0 0 1 50 678 Tm (bbbb) Tj ET\n"
    val withW = "<< /Type /Font /Subtype /TrueType /BaseFont /Fake /FirstChar 97 /Widths [200 1000] >>"
    val noW = "<< /Type /Font /Subtype /TrueType /BaseFont /Fake >>"
    val gotW = Extractor.extract(Page("t://widths1", ts, fontPdf(content, withW, None), "", "en"))
    assert(gotW.error == "", gotW.error)
    assert(gotW.text == "aaaaaaaaaa\n\nbbbb", gotW.text)
    val gotN = Extractor.extract(Page("t://widths2", ts, fontPdf(content, noW, None), "", "en"))
    assert(gotN.error == "", gotN.error)
    assert(gotN.text == "aaaaaaaaaa bbbb", gotN.text)
  }

  test("compressed-stream spans carry DECODED-space offsets (kind pdf_fragment_dec) that slice back") {
    val ops = "BT /F1 12 Tf 1 0 0 1 50 700 Tm (compressed words inside) Tj ET\n"
    val comp = new String(deflateBytes(ops.getBytes(ISO_8859_1)), ISO_8859_1)
    val got = Extractor.extract(Page("t://decspan", ts,
      minimalPdf(comp, filter = "FlateDecode", length = Some(comp.length)), "", "en"))
    assert(got.error == "", got.error)
    assert(got.text == "compressed words inside")
    assert(got.spans.length == 1)
    val s = got.spans(0)
    assert(s.kind == "pdf_fragment_dec", s.kind)
    // re-decoding the stream and slicing reproduces the literal's content
    val decoded = ops.getBytes(ISO_8859_1)
    val lit = new String(decoded, s.beginByte.toInt, (s.endByte - s.beginByte).toInt, ISO_8859_1)
    assert(lit == "compressed words inside", lit)
    // uncompressed streams keep exact FILE offsets (kind without _dec)
    val plain = Extractor.extract(Page("t://rawspan", ts, minimalPdf(ops), "", "en"))
    assert(plain.spans.length == 1 && plain.spans(0).kind == "pdf_fragment")
  }

  test("PDF rows surface charset=pdf; oversize PDFs are a clean error row") {
    val ok = Extractor.extract(Page("t://cs", ts,
      minimalPdf("BT /F1 12 Tf 1 0 0 1 50 700 Tm (tiny) Tj ET\n"), "", "en"))
    assert(ok.charset == "pdf", ok.charset)
    val big = new Array[Byte](Extractor.MaxPdfBytes + 1)
    System.arraycopy("%PDF-1.4\n".getBytes(ISO_8859_1), 0, big, 0, 9)
    val over = Extractor.extract(Page("t://oversize", ts, big, "", "en"))
    assert(over.error.contains("MaxPdfBytes"), over.error)
    assert(over.text == "")
  }

  test("/Encoding /WinAnsiEncoding decodes the 0x80-0x9F typographic range correctly") {
    // bytes 93 48 69 94 = “Hi” in windows-1252; Latin-1 would yield C1 controls
    val content = "BT /F9 12 Tf 1 0 0 1 50 700 Tm (\u0093Hi\u0094 \u0097 dash) Tj ET\n"
    val font = "<< /Type /Font /Subtype /TrueType /BaseFont /Fake /Encoding /WinAnsiEncoding >>"
    val got = Extractor.extract(Page("t://winansi", ts, fontPdf(content, font, None), "", "en"))
    assert(got.error == "", got.error)
    assert(got.text == "\u201CHi\u201D \u2014 dash", got.text)
    // same bytes with NO declared encoding keep the Latin-1 default (collapse
    // of C1 bytes is whatever the default path does — here identity chars)
    val plainFont = "<< /Type /Font /Subtype /TrueType /BaseFont /Fake >>"
    val got2 = Extractor.extract(Page("t://noenc", ts, fontPdf(content, plainFont, None), "", "en"))
    assert(got2.error == "" && got2.text != got.text)
  }

  test("/Encoding /Differences remaps codes by glyph name; unknown names mark U+FFFD") {
    val content = "BT /F9 12 Tf 1 0 0 1 50 700 Tm (AB C D) Tj ET\n"
    val font = "<< /Type /Font /Subtype /Type1 /BaseFont /Fake " +
      "/Encoding << /BaseEncoding /WinAnsiEncoding " +
      "/Differences [65 /quoteright /uni20AC 67 /emdash 68 /nosuchglyphname] >> >>"
    val got = Extractor.extract(Page("t://diffs", ts, fontPdf(content, font, None), "", "en"))
    assert(got.error == "", got.error)
    // A->’  B->€ (consecutive code after 65)  C->—  D->U+FFFD; space untouched
    assert(got.text == "\u2019\u20AC \u2014 \uFFFD", got.text)
  }

  test("Glyphs.resolve: single-char, uniXXXX, uXXXXX and named forms") {
    assert(graft.pdf.Glyphs.resolve("a").contains("a"))
    assert(graft.pdf.Glyphs.resolve("uni20AC").contains("€"))
    assert(graft.pdf.Glyphs.resolve("u1F600").contains(new String(Character.toChars(0x1F600))))
    assert(graft.pdf.Glyphs.resolve("eacute").contains("é"))
    assert(graft.pdf.Glyphs.resolve("quotedblleft").contains("“"))
    assert(graft.pdf.Glyphs.resolve("bogusname").isEmpty)
    assert(graft.pdf.Glyphs.resolve("uniD800").isEmpty) // surrogate guard
    // AGL names that MATCH the uXXXX hex shape by prefix/length but whose
    // suffix is not hex must fall back to the named table, not U+FFFD
    assert(graft.pdf.Glyphs.resolve("uacute").contains("ú"))
    assert(graft.pdf.Glyphs.resolve("ugrave").contains("ù"))
    assert(graft.pdf.Glyphs.resolve("udieresis").contains("ü"))
    assert(graft.pdf.Glyphs.resolve("ucircumflex").contains("û"))
  }

  /** Page whose /Contents invokes a /Subtype /Form XObject (obj 7) via Do. */
  private def formPdf(pageOps: String, formOps: String, formDict: String = ""): Array[Byte] = {
    val sb = new java.lang.StringBuilder
    sb.append("%PDF-1.4\n")
    sb.append("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    sb.append("2 0 obj\n<< /Type /Pages /Count 1 /Kids [3 0 R] /MediaBox [0 0 612 792] >>\nendobj\n")
    sb.append("3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R " +
      "/Resources << /XObject << /Fm1 7 0 R >> >> >>\nendobj\n")
    sb.append(s"4 0 obj\n<< /Length ${pageOps.length} >>\nstream\n").append(pageOps).append("\nendstream\nendobj\n")
    sb.append(s"7 0 obj\n<< /Type /XObject /Subtype /Form$formDict /Length ${formOps.length} >>\nstream\n")
      .append(formOps).append("\nendstream\nendobj\n")
    sb.append("trailer\n<< /Size 8 /Root 1 0 R >>\n%%EOF\n")
    sb.toString.getBytes(ISO_8859_1)
  }

  test("Form XObject content executes via Do and places under the current CTM") {
    // body text in the page stream; a headline drawn by a form invoked ABOVE
    // it — reading order must interleave the form's runs with the page's
    val pageOps =
      "BT /F1 12 Tf 1 0 0 1 50 700 Tm (body from the page stream) Tj ET " +
        "q 1 0 0 1 0 40 cm /Fm1 Do Q\n"
    val formOps = "BT /F1 12 Tf 1 0 0 1 50 702 Tm (form headline text) Tj ET\n"
    val got = Extractor.extract(Page("t://xobj1", ts, formPdf(pageOps, formOps), "", "en"))
    assert(got.error == "", got.error)
    // form run lands at y=742 (702+40) above the body at 700: reads first
    assert(got.text == "form headline text\n\nbody from the page stream", got.text)
    // both streams uncompressed -> spans carry exact FILE offsets
    val bytes = formPdf(pageOps, formOps)
    assert(got.spans.length == 2)
    for (s <- got.spans) {
      val lit = new String(bytes, s.beginByte.toInt, (s.endByte - s.beginByte).toInt, ISO_8859_1)
      assert(lit == "form headline text" || lit == "body from the page stream", lit)
    }
  }

  test("Form /Matrix composes with the CTM; form fonts and nested depth are bounded") {
    // /Matrix scales 2x: a 12pt run inside the form renders at 24pt and
    // becomes a title over the 12pt body runs
    val pageOps =
      "/Fm1 Do " +
        "BT /F1 12 Tf 1 0 0 1 50 700 Tm (body line one here) Tj ET " +
        "BT /F1 12 Tf 1 0 0 1 50 678 Tm (body line two here) Tj ET " +
        "BT /F1 12 Tf 1 0 0 1 50 656 Tm (body line three here) Tj ET\n"
    val formOps = "BT /F1 12 Tf 0 0 Td (Scaled Form Title) Tj ET\n"
    val got = Extractor.extract(Page("t://xobj2", ts,
      formPdf(pageOps, formOps, formDict = " /Matrix [2 0 0 2 25 730]"), "", "en"))
    assert(got.error == "", got.error)
    assert(got.text.startsWith("# Scaled Form Title"), got.text)
    // self-referencing form: depth cap must terminate, not recurse forever
    val cyc = formPdf("/Fm1 Do BT /F1 12 Tf 1 0 0 1 50 700 Tm (page text stays) Tj ET\n",
      "/Fm1 Do BT /F1 12 Tf 1 0 0 1 50 600 Tm (cycle) Tj ET\n")
    // the cyclic form has no own /Resources: it inherits the caller's map
    // (which contains itself) — MaxFormDepth bounds the recursion
    val gotCyc = Extractor.extract(Page("t://xobjcycle", ts, cyc, "", "en"))
    assert(gotCyc.error == "", gotCyc.error)
    assert(gotCyc.text.contains("page text stays"))
  }

  test("an EXECUTED form with an undecodable stream is an ERROR row, never silent text loss") {
    // headline in a /DCTDecode form (no raster path -> data == null), body in
    // the page stream: extracting just the body with error="" would be the
    // silently-partial-text outcome the contract forbids
    val pageOps = "/Fm1 Do BT /F1 12 Tf 1 0 0 1 50 700 Tm (body text here) Tj ET\n"
    val base = new String(formPdf(pageOps, "opaquejpegbytes"), ISO_8859_1)
    val patched = base.replace("/Subtype /Form /Length",
      "/Subtype /Form /Filter /DCTDecode /Length")
    val got = Extractor.extract(Page("t://xobjundecodable", ts, patched.getBytes(ISO_8859_1), "", "en"))
    assert(got.error.contains("cannot be decoded"), got.error)
    assert(got.text == "")
  }

  test("breadth x depth form amplification hits the per-page execution budget and errors") {
    // ACYCLIC bomb: a chain of DISTINCT forms within the depth cap, each
    // invoking the next 10x -> 10 + 100 + 1000 executions without a global
    // budget. Cycle detection cannot collapse it (no form re-enters itself);
    // MaxFormExecs caps the page at an error row in bounded time. (The old
    // SELF-inheriting bomb now collapses via cycle detection to <=10 execs —
    // asserted below: bounded output, no budget error.)
    val sb = new java.lang.StringBuilder
    sb.append("%PDF-1.4\n")
    sb.append("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    sb.append("2 0 obj\n<< /Type /Pages /Count 1 /Kids [3 0 R] /MediaBox [0 0 612 792] >>\nendobj\n")
    sb.append("3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R " +
      "/Resources << /XObject << /Fm1 10 0 R >> >> >>\nendobj\n")
    val pageOps = ("/Fm1 Do " * 10) + "BT /F1 12 Tf 1 0 0 1 50 700 Tm (page body) Tj ET\n"
    sb.append(s"4 0 obj\n<< /Length ${pageOps.length} >>\nstream\n").append(pageOps).append("\nendstream\nendobj\n")
    for (k <- 1 to 3) {
      val ops =
        if (k < 3) (s"/Fm${k + 1} Do " * 10) + "\n"
        else "BT /F1 12 Tf 1 0 0 1 50 600 Tm (leaf) Tj ET\n"
      val res = if (k < 3) s" /Resources << /XObject << /Fm${k + 1} ${10 + k} 0 R >> >>" else ""
      sb.append(s"${9 + k} 0 obj\n<< /Type /XObject /Subtype /Form$res /Length ${ops.length} >>\nstream\n")
        .append(ops).append("\nendstream\nendobj\n")
    }
    sb.append("trailer\n<< /Size 20 /Root 1 0 R >>\n%%EOF\n")
    val t0 = System.nanoTime()
    val got = Extractor.extract(Page("t://xobjbomb", ts, sb.toString.getBytes(ISO_8859_1), "", "en"))
    val ms = (System.nanoTime() - t0) / 1e6
    assert(got.error.contains("execution budget"), got.error)
    assert(got.text == "")
    assert(ms < 5000, s"form bomb took ${ms}ms")
    // self-inheriting bomb: collapses to one pass per top-level Do (cycle
    // fixpoint), extracting cleanly instead of burning breadth^depth
    val manyDo = "/Fm1 Do " * 10
    val selfBomb = formPdf(manyDo + "BT /F1 12 Tf 1 0 0 1 50 700 Tm (page body) Tj ET\n",
      manyDo + "BT /F1 12 Tf 1 0 0 1 50 600 Tm (form text) Tj ET\n")
    val gotSelf = Extractor.extract(Page("t://xobjselfbomb", ts, selfBomb, "", "en"))
    assert(gotSelf.error == "", gotSelf.error)
    assert(gotSelf.text.contains("page body"), gotSelf.text)
  }

  test("Resync anchor cache matches the stateless scan at every monotone position") {
    // junk with fake headers, a real header, and no trailer — the stateful
    // index must return exactly what a fresh scan returns as `from` advances
    val junk = ("garbage endobj 12 obj nope " + ("x" * 503) + "\n7 0 obj\n<< >>\nendobj\n" +
      ("y" * 251) + " 9 1 obj << >> endobj trailerless tail").getBytes(ISO_8859_1)
    val idx = new graft.pdf.RealPdf.Resync(junk)
    var from = 0
    while (from < junk.length) {
      assert(idx.target(from) == graft.pdf.RealPdf.resyncTarget(junk, from), s"at $from")
      from += 37
    }
  }

  test("compressed Form XObject runs carry decoded-space offsets that slice back") {
    val formOps = "BT /F1 12 Tf 1 0 0 1 50 700 Tm (deflated form words) Tj ET\n"
    val comp = new String(deflateBytes(formOps.getBytes(ISO_8859_1)), ISO_8859_1)
    val pageOps = "/Fm1 Do\n"
    val base = new String(formPdf(pageOps, comp), ISO_8859_1)
    val patched = base.replace(s"/Subtype /Form /Length ${comp.length}",
      s"/Subtype /Form /Filter /FlateDecode /Length ${comp.length}")
    val got = Extractor.extract(Page("t://xobjflate", ts, patched.getBytes(ISO_8859_1), "", "en"))
    assert(got.error == "", got.error)
    assert(got.text == "deflated form words", got.text)
    assert(got.spans.length == 1 && got.spans(0).kind == "pdf_fragment_dec")
    val s = got.spans(0)
    // decoded space: page stream is exact (claims nothing); the form's
    // decoded bytes start at offset 0 of the page's decoded space
    val lit = new String(formOps.getBytes(ISO_8859_1), s.beginByte.toInt,
      (s.endByte - s.beginByte).toInt, ISO_8859_1)
    assert(lit == "deflated form words", lit)
  }

  test("MediaBox origin offsets normalize away (cropped/offset pages)") {
    val base = new String(minimalPdf(
      // baked at (150, 750): normalized (50, 700) under origin (100, 50)
      "BT /F1 12 Tf 1 0 0 1 150 750 Tm (origin shifted body) Tj ET\n"), ISO_8859_1)
    val shifted = base.replace("/MediaBox [0 0 612 792]", "/MediaBox [100 50 712 842]")
    val got = Extractor.extract(Page("t://mbox", ts, shifted.getBytes(ISO_8859_1), "", "en"))
    assert(got.error == "", got.error)
    assert(got.text == "origin shifted body", got.text)
    val pages = RealPdf.parse(shifted.getBytes(ISO_8859_1))
    assert(pages(0).width == 612.0 && pages(0).height == 792.0)
    assert(math.abs(pages(0).boxes(0).box.x1 - 50.0) < 1e-9, pages(0).boxes(0).box.toString)
  }

  test("/Rotate 90 and 180 pages normalize to upright reading order") {
    // landscape 792x612 page rotated 90 CW for display; text drawn with a
    // rotated Tm so it reads upright in the rotated view. Upright target:
    // line1 at (50,742), line2 at (50,720) -> user (x = 792-y'', y = x'')
    def rotPdf(rot: Int, ops: String): Array[Byte] = {
      val base = new String(minimalPdf(ops), ISO_8859_1)
      base.replace("/MediaBox [0 0 612 792]",
        if (rot == 90) "/MediaBox [0 0 792 612]" else "/MediaBox [0 0 612 792]")
        .replace("/Type /Page /Parent 2 0 R", s"/Type /Page /Rotate $rot /Parent 2 0 R")
        .getBytes(ISO_8859_1)
    }
    val ops90 =
      "BT /F1 12 Tf 0 1 -1 0 50 50 Tm (rotated line one) Tj ET " +
        "BT /F1 12 Tf 0 1 -1 0 72 50 Tm (rotated line two) Tj ET\n"
    val got90 = Extractor.extract(Page("t://rot90", ts, rotPdf(90, ops90), "", "en"))
    assert(got90.error == "", got90.error)
    assert(got90.text == "rotated line one rotated line two", got90.text)
    // /Rotate 180: content drawn upside down at (612-x, 792-y)
    val ops180 =
      "BT /F1 12 Tf -1 0 0 -1 562 50 Tm (flipped line one) Tj ET " +
        "BT /F1 12 Tf -1 0 0 -1 562 72 Tm (flipped line two) Tj ET\n"
    val got180 = Extractor.extract(Page("t://rot180", ts, rotPdf(180, ops180), "", "en"))
    assert(got180.error == "", got180.error)
    assert(got180.text == "flipped line one flipped line two", got180.text)
  }

  test("Courier-family base fonts use the exact 0.6 em standard-14 advance") {
    val content = "BT /F9 12 Tf 1 0 0 1 50 700 Tm (mono) Tj ET\n"
    val font = "<< /Type /Font /Subtype /Type1 /BaseFont /Courier-Bold >>"
    val pages = RealPdf.parse(fontPdf(content, font, None))
    assert(math.abs(pages(0).boxes(0).box.w - 4 * 0.6 * 12) < 1e-9, pages(0).boxes(0).box.w.toString)
  }

  test("Helvetica/Times standard-14 base fonts use the public AFM ASCII metrics") {
    // Helvetica: i = 222, l = 222 -> "(il)" at 12pt = (0.222+0.222)*12
    val content = "BT /F9 12 Tf 1 0 0 1 50 700 Tm (il) Tj ET\n"
    val helv = "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    val pages = RealPdf.parse(fontPdf(content, helv, None))
    assert(math.abs(pages(0).boxes(0).box.w - 0.444 * 12) < 1e-9, pages(0).boxes(0).box.w.toString)
    // subset prefix + Oblique alias the upright weight's table
    val sub = "<< /Type /Font /Subtype /Type1 /BaseFont /ABCDEF+Helvetica-Oblique >>"
    val pages2 = RealPdf.parse(fontPdf(content, sub, None))
    assert(math.abs(pages2(0).boxes(0).box.w - 0.444 * 12) < 1e-9, pages2(0).boxes(0).box.w.toString)
    // Times-Bold W = 1000: "(WW)" at 12pt = 24
    val contentW = "BT /F9 12 Tf 1 0 0 1 50 700 Tm (WW) Tj ET\n"
    val tb = "<< /Type /Font /Subtype /Type1 /BaseFont /Times-Bold >>"
    val pages3 = RealPdf.parse(fontPdf(contentW, tb, None))
    assert(math.abs(pages3(0).boxes(0).box.w - 24.0) < 1e-9, pages3(0).boxes(0).box.w.toString)
    // declared /Widths always win over the standard-14 table
    val declared = "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica /FirstChar 105 /Widths [900 900 900 900] >>"
    val pages4 = RealPdf.parse(fontPdf(content, declared, None))
    assert(math.abs(pages4(0).boxes(0).box.w - 1.8 * 12) < 1e-9, pages4(0).boxes(0).box.w.toString)
    // non-ASCII codes fall back to the default estimate, never crash
    assert(graft.pdf.StdMetrics.widthsFor("Arial,BoldItalic").exists(m => m(105) == 0.278 && !m.contains(200)))
    assert(graft.pdf.StdMetrics.widthsFor("Courier-Bold").isEmpty) // flat 0.6 path upstream
    assert(graft.pdf.StdMetrics.widthsFor("SomeEmbedded-Font").isEmpty)
  }

  test("inline image payload containing a raw EI pair does not derail the lexer") {
    // payload holds a NON-delimited "EI" followed by bytes that would lex as
    // (junk) Tj if the skip stopped there — the old naive find() did exactly
    // that and emitted "junk" as page text
    val payload = "\u0000\u0001EI\u0002(junk) Tj\u0007\u00ff"
    val content = "BT /F9 12 Tf 1 0 0 1 50 700 Tm (before) Tj ET\n" +
      s"BI /W 4 /H 4 /BPC 8 /CS /G ID $payload EI\n" +
      "BT /F9 12 Tf 1 0 0 1 50 680 Tm (after) Tj ET\n"
    val helv = "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    val got = Extractor.extract(Page("t://bi1", ts, fontPdf(content, helv, None), "", "en"))
    assert(got.error == "", got.error)
    assert(got.text.contains("before") && got.text.contains("after"), got.text)
    assert(!got.text.contains("junk"), got.text)
  }

  test("skipInlineImage: delimited-EI scan anchored past ID; malformed falls back bounded") {
    def bytes(s: String) = s.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    // from points past "BI"; false EI not ws-preceded; true EI ws-delimited
    val d1 = bytes("BI /W 1 ID \u0000EI\u0002 xx EI (rest) Tj")
    assert(RealPdf.skipInlineImage(d1, 2) == d1.indexOfSlice(bytes(" EI ")) + 3)
    // no ID token at all: still requires a delimited EI, never loops
    val d2 = bytes("BI broken blah EI more")
    assert(RealPdf.skipInlineImage(d2, 2) == d2.indexOfSlice(bytes(" EI ")) + 3)
    // no EI anywhere: skip to end of data rather than re-lexing binary
    assert(RealPdf.skipInlineImage(bytes("BI /W 1 ID \u0000\u0001EI\u0002junk"), 2) ==
      bytes("BI /W 1 ID \u0000\u0001EI\u0002junk").length)
  }

  test("TJ kerning adjusts the run width under real metrics; ignored in estimate mode") {
    // a=b=0.5em; TJ [(ab) -1000 (ab)] -> 0.5+0.5 +1.0 +0.5+0.5 = 3em = 36pt
    val content = "BT /F9 12 Tf 1 0 0 1 50 700 Tm [(ab) -1000 (ab)] TJ ET\n"
    val font = "<< /Type /Font /Subtype /TrueType /BaseFont /Fake /FirstChar 97 /Widths [500 500] >>"
    val pages = RealPdf.parse(fontPdf(content, font, None))
    assert(math.abs(pages(0).boxes(0).box.w - 36.0) < 1e-9, pages(0).boxes(0).box.w.toString)
    // no metrics: kerning ignored, flat estimate 4 glyphs x 0.5em x 12 = 24pt
    val noW = "<< /Type /Font /Subtype /TrueType /BaseFont /Fake >>"
    val pages2 = RealPdf.parse(fontPdf(content, noW, None))
    assert(math.abs(pages2(0).boxes(0).box.w - 24.0) < 1e-9, pages2(0).boxes(0).box.w.toString)
  }

  test("Tz horizontal scaling halves run advance in both metric and estimate modes") {
    // same geometry as the kerning vector, condensed 50%
    val content = "BT /F9 12 Tf 50 Tz 1 0 0 1 50 700 Tm [(ab) -1000 (ab)] TJ ET\n"
    val font = "<< /Type /Font /Subtype /TrueType /BaseFont /Fake /FirstChar 97 /Widths [500 500] >>"
    // metrics: (0.5+0.5 +1.0 +0.5+0.5) em x 0.5 = 1.5em = 18pt (kern scales too)
    val pages = RealPdf.parse(fontPdf(content, font, None))
    assert(math.abs(pages(0).boxes(0).box.w - 18.0) < 1e-9, pages(0).boxes(0).box.w.toString)
    // estimate mode: Tz still applies (pure multiplier) -> 4 x 0.5em x 0.5 x 12 = 12pt
    val noW = "<< /Type /Font /Subtype /TrueType /BaseFont /Fake >>"
    val pages2 = RealPdf.parse(fontPdf(content, noW, None))
    assert(math.abs(pages2(0).boxes(0).box.w - 12.0) < 1e-9, pages2(0).boxes(0).box.w.toString)
  }

  test("Tc/Tw spacing widens runs under real metrics; ignored in estimate mode") {
    // a=b=0.5em, space falls to the 0.5em default; 3 codes x 1.2pt Tc +
    // 1 space x 2.4pt Tw = 6pt = 0.5em at 12pt -> (1.5 + 0.5) x 12 = 24pt
    val content = "BT /F9 12 Tf 1.2 Tc 2.4 Tw 1 0 0 1 50 700 Tm (a b) Tj ET\n"
    val font = "<< /Type /Font /Subtype /TrueType /BaseFont /Fake /FirstChar 97 /Widths [500 500] >>"
    val pages = RealPdf.parse(fontPdf(content, font, None))
    assert(math.abs(pages(0).boxes(0).box.w - 24.0) < 1e-9, pages(0).boxes(0).box.w.toString)
    // flat grid: additive spacing would be false precision -> 3 x 0.5em x 12 = 18pt
    val noW = "<< /Type /Font /Subtype /TrueType /BaseFont /Fake >>"
    val pages2 = RealPdf.parse(fontPdf(content, noW, None))
    assert(math.abs(pages2(0).boxes(0).box.w - 18.0) < 1e-9, pages2(0).boxes(0).box.w.toString)
  }

  test("q/Q restores text state (font size, spacing) alongside the CTM") {
    // inner q block condenses with 50 Tz and grows the size; after Q the
    // outer 12pt / 100% state must be back: both (ab) runs then 12pt wide
    val content = "BT /F9 12 Tf 1 0 0 1 50 700 Tm " +
      "q /F9 24 Tf 50 Tz (ab) Tj Q (ab) Tj ET\n"
    val font = "<< /Type /Font /Subtype /TrueType /BaseFont /Fake /FirstChar 97 /Widths [500 500] >>"
    val pages = RealPdf.parse(fontPdf(content, font, None))
    val boxes = pages(0).boxes ++ pages(0).titles.map(_.tb)
    val ws = boxes.map(_.box.w).sorted
    assert(ws.length == 2, ws.toString)
    // inner: 1.0em x 0.5 x 24 = 12pt; outer restored: 1.0em x 1.0 x 12 = 12pt
    assert(ws.forall(w => math.abs(w - 12.0) < 1e-9), ws.toString)
    // and the restored run must be 12pt tall, not 24
    assert(boxes.exists(b => math.abs(b.box.h - 12.0) < 1e-9), boxes.toString)
  }

  test("\" operator sets word/char spacing state that persists for later shows") {
    // aw=2.4 ac=1.2 (a b) " -> same 24pt as the Tc/Tw vector; the following
    // plain Tj must still see the spacing state (PDF 32000-1 Table 107)
    val content = "BT /F9 12 Tf 14 TL 1 0 0 1 50 700 Tm 2.4 1.2 (a b) \" (a b) Tj ET\n"
    val font = "<< /Type /Font /Subtype /TrueType /BaseFont /Fake /FirstChar 97 /Widths [500 500] >>"
    val pages = RealPdf.parse(fontPdf(content, font, None))
    val ws = pages(0).boxes.map(_.box.w)
    assert(ws.length == 2, ws.toString)
    assert(ws.forall(w => math.abs(w - 24.0) < 1e-9), ws.toString)
  }

  test("fixture corpus exercises both predictor-12 variants (content stream and ObjStm)") {
    // guard against silent death of the generator's draw paths: the golden
    // suite only proves predictor decode if predictor'd fixtures exist
    var content = 0
    var objstm = 0
    var winAnsi = 0
    var forms = 0
    var rot90 = 0
    var rot180 = 0
    var runLength = 0
    var parmsArr = 0
    for (row <- 26L until 2000L by 50L) {
      val s = new String(graft.fixtures.FixtureGen.fixture(row).page.html, ISO_8859_1)
      if (s.contains("/Predictor 12 /Columns 32")) content += 1
      if (s.contains("/Type /ObjStm") && s.contains("/Predictor 12 /Columns 24")) objstm += 1
      if (s.contains("/Encoding /WinAnsiEncoding")) winAnsi += 1
      if (s.contains("/Subtype /Form")) forms += 1
      if (s.contains("/Rotate 90")) rot90 += 1
      if (s.contains("/Rotate 180")) rot180 += 1
      if (s.contains("/Filter /RunLengthDecode")) runLength += 1
      if (s.contains("/DecodeParms [null")) parmsArr += 1
    }
    assert(content > 0, "no predictor-12 content streams in the 2000-row corpus")
    assert(objstm > 0, "no predictor-12 ObjStm files in the 2000-row corpus")
    assert(winAnsi > 0, "no WinAnsi-encoded pages in the 2000-row corpus")
    assert(forms > 0, "no Form-XObject pages in the 2000-row corpus")
    assert(rot90 + rot180 > 0, "no /Rotate pages in the 2000-row corpus")
    assert(runLength > 0, "no RunLengthDecode content streams in the 2000-row corpus")
    assert(parmsArr > 0, "no per-filter /DecodeParms arrays in the 2000-row corpus")
  }

  test("byte-flip fuzz: mutated real-PDF fixtures and random bytes never crash or hang") {
    // crawl-contract robustness: every %PDF-sniffed row must produce EITHER
    // extracted text or a clean error row, in bounded time, for arbitrary
    // damage. 120 mutants of real fixture PDFs (seeded byte flips at random
    // offsets) + 30 pure-garbage bodies.
    val rnd = new java.util.Random(4242L)
    val seeds = (26L until 1026L by 50L).map(graft.fixtures.FixtureGen.fixture(_).page.html).toArray
    val t0 = System.nanoTime()
    var errs = 0
    var oks = 0
    for (k <- 0 until 120) {
      val base = seeds(k % seeds.length)
      val mut = java.util.Arrays.copyOf(base, base.length)
      // flip 1..16 bytes anywhere after the magic
      for (_ <- 0 to rnd.nextInt(16))
        mut(4 + rnd.nextInt(mut.length - 4)) = rnd.nextInt(256).toByte
      val got = Extractor.extract(Page(s"t://fuzz$k", ts, mut, "", "en"))
      if (got.error.isEmpty) oks += 1 else errs += 1
      // graceful degradation invariant: an error row has empty text
      if (got.error.nonEmpty) assert(got.text == "")
    }
    for (k <- 0 until 30) {
      val body = new Array[Byte](2048 + rnd.nextInt(8192))
      rnd.nextBytes(body)
      System.arraycopy("%PDF-1.4\n".getBytes(ISO_8859_1), 0, body, 0, 9)
      val got = Extractor.extract(Page(s"t://garb$k", ts, body, "", "en"))
      if (got.error.isEmpty) oks += 1 else errs += 1
    }
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 60.0, s"fuzz batch took $secs s")
    assert(oks + errs == 150)
  }

  test("adversarial resync bytes (many unterminated strings) complete bounded as an error row") {
    val sb = new java.lang.StringBuilder("%PDF-1.4\n")
    for (_ <- 0 until 5000) sb.append("1 0 obj (").append("x" * 100).append("\n")
    val t0 = System.nanoTime()
    val got = Extractor.extract(Page("t://pathological", ts, sb.toString.getBytes(ISO_8859_1), "", "en"))
    val secs = (System.nanoTime() - t0) / 1e9
    assert(got.error.nonEmpty && got.text == "")
    assert(secs < 20.0, s"pathological parse took $secs s") // MaxResyncs cap engaged
  }

  // ---- round 5, post-review fixes ------------------------------------------

  test("indirect /DecodeParms resolves in the late re-decode pass (content stream)") {
    val ops = "BT /F1 12 Tf 1 0 0 1 50 700 Tm (late parms decode) Tj ET\n"
    val cols = 16
    val padded = ops + " " * ((cols - ops.length % cols) % cols)
    val comp = new String(deflateBytes(pngPredict(padded.getBytes(ISO_8859_1), cols, 2)), ISO_8859_1)
    val base = new String(minimalPdf(comp, length = Some(comp.length)), ISO_8859_1)
    val withParms = base
      .replace(s"<< /Length ${comp.length}",
        s"<< /Length ${comp.length} /Filter /FlateDecode /DecodeParms 9 0 R")
      .replace("trailer\n", s"9 0 obj\n<< /Predictor 12 /Columns $cols >>\nendobj\ntrailer\n")
    val got = Extractor.extract(Page("t://lateparms", ts, withParms.getBytes(ISO_8859_1), "", "en"))
    assert(got.error == "", got.error)
    assert(got.text == "late parms decode", got.text)
  }

  test("ObjStm with indirect /DecodeParms late-decodes: page tree recovered") {
    val inner1 = "<< /Type /Catalog /Pages 2 0 R >>"
    val inner2 = "<< /Type /Pages /Count 2 /Kids [3 0 R 7 0 R] /MediaBox [0 0 612 792] >>"
    val inner3 = "<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>"
    val inner7 = "<< /Type /Page /Parent 2 0 R /Contents 8 0 R >>"
    val hdr = s"1 0 2 ${inner1.length + 1} 3 ${inner1.length + inner2.length + 2} " +
      s"7 ${inner1.length + inner2.length + inner3.length + 3} "
    val cols = 24
    val stm0 = hdr + inner1 + " " + inner2 + " " + inner3 + " " + inner7
    val stm = stm0 + " " * ((cols - stm0.length % cols) % cols)
    val comp = new String(deflateBytes(pngPredict(stm.getBytes(ISO_8859_1), cols, 2)), ISO_8859_1)
    val c1 = "BT /F1 12 Tf 1 0 0 1 50 700 Tm (indirect page one) Tj ET\n"
    val c2 = "BT /F1 12 Tf 1 0 0 1 50 700 Tm (indirect page two) Tj ET\n"
    val sb = new java.lang.StringBuilder
    sb.append("%PDF-1.5\n")
    sb.append(s"8 0 obj\n<< /Length ${c2.length} >>\nstream\n").append(c2).append("\nendstream\nendobj\n")
    sb.append(s"4 0 obj\n<< /Length ${c1.length} >>\nstream\n").append(c1).append("\nendstream\nendobj\n")
    sb.append(s"5 0 obj\n<< /Type /ObjStm /N 4 /First ${hdr.length} /Length ${comp.length} " +
      s"/Filter /FlateDecode /DecodeParms 9 0 R >>\nstream\n")
    sb.append(comp).append("\nendstream\nendobj\n")
    // the parms object lives AFTER the ObjStm in file order: only a
    // complete-pool deref can resolve it
    sb.append(s"9 0 obj\n<< /Predictor 12 /Columns $cols >>\nendobj\n")
    sb.append("6 0 obj\n<< /Type /XRef /Root 1 0 R /Size 10 /Length 0 >>\nstream\nendstream\nendobj\n")
    sb.append("startxref\n0\n%%EOF\n")
    val got = Extractor.extract(Page("t://objstmlate", ts, sb.toString.getBytes(ISO_8859_1), "", "en"))
    assert(got.error == "", got.error)
    assert(got.text == "indirect page one" + PdfParser.PageBreak + "indirect page two", got.text)
  }

  test("per-filter /DecodeParms arrays: chained predictor, null placeholders, honest mismatches") {
    val ops = "BT /F1 12 Tf 1 0 0 1 50 700 Tm (array parms work) Tj ET\n"
    val cols = 16
    val padded = ops + " " * ((cols - ops.length % cols) % cols)
    // decode order [A85, Flate+Pred12] -> encode = a85(deflate(pngUp(padded)))
    val stored = ascii85Encode(deflateBytes(pngPredict(padded.getBytes(ISO_8859_1), cols, 2)))
    val base = new String(minimalPdf(stored, length = Some(stored.length)), ISO_8859_1)
    def withFilter(clause: String): Array[Byte] = base.replace(s"<< /Length ${stored.length}",
      s"<< /Length ${stored.length} $clause").getBytes(ISO_8859_1)
    val got = Extractor.extract(Page("t://arrparms", ts, withFilter(
      s"/Filter [/ASCII85Decode /FlateDecode] /DecodeParms [null << /Predictor 12 /Columns $cols >>]"), "", "en"))
    assert(got.error == "", got.error)
    assert(got.text == "array parms work", got.text)
    // null placeholders only, no predictor anywhere
    val plain = ascii85Encode(deflateBytes(ops.getBytes(ISO_8859_1)))
    val base2 = new String(minimalPdf(plain, length = Some(plain.length)), ISO_8859_1)
    val got2 = Extractor.extract(Page("t://nullparms", ts, base2.replace(
      s"<< /Length ${plain.length}",
      s"<< /Length ${plain.length} /Filter [/ASCII85Decode /FlateDecode] /DecodeParms [null null]")
      .getBytes(ISO_8859_1), "", "en"))
    assert(got2.error == "", got2.error)
    assert(got2.text == "array parms work", got2.text)
    // length-mismatched array: metadata-only -> undecodable content -> ERROR
    val got3 = Extractor.extract(Page("t://mismparms", ts, withFilter(
      s"/Filter [/ASCII85Decode /FlateDecode] /DecodeParms [<< /Predictor 12 /Columns $cols >>]"), "", "en"))
    assert(got3.error.nonEmpty && got3.text == "", s"'${got3.text}' / ${got3.error}")
    // single dict claiming a predictor for a whole chain: spec-violating
    // shape, stays metadata-only (never guesses which stage it belongs to)
    val got4 = Extractor.extract(Page("t://dictchain", ts, withFilter(
      s"/Filter [/ASCII85Decode /FlateDecode] /DecodeParms << /Predictor 12 /Columns $cols >>"), "", "en"))
    assert(got4.error.nonEmpty && got4.text == "", s"'${got4.text}' / ${got4.error}")
    // indirect array ELEMENT: unresolvable mid-scan, resolves in redecode
    val late = base.replace(s"<< /Length ${stored.length}",
      s"<< /Length ${stored.length} /Filter [/ASCII85Decode /FlateDecode] /DecodeParms [null 9 0 R]")
      .replace("trailer\n", s"9 0 obj\n<< /Predictor 12 /Columns $cols >>\nendobj\ntrailer\n")
    val got5 = Extractor.extract(Page("t://latearrparms", ts, late.getBytes(ISO_8859_1), "", "en"))
    assert(got5.error == "", got5.error)
    assert(got5.text == "array parms work", got5.text)
  }

  test("mixed /Contents with one undecodable stream is an ERROR row, never silent-partial") {
    val ok = "BT /F1 12 Tf 1 0 0 1 50 700 Tm (decodable half) Tj ET\n"
    val sb = new java.lang.StringBuilder
    sb.append("%PDF-1.4\n")
    sb.append("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    sb.append("2 0 obj\n<< /Type /Pages /Count 1 /Kids [3 0 R] /MediaBox [0 0 612 792] >>\nendobj\n")
    sb.append("3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents [4 0 R 9 0 R] >>\nendobj\n")
    sb.append(s"4 0 obj\n<< /Length ${ok.length} >>\nstream\n").append(ok).append("\nendstream\nendobj\n")
    sb.append("9 0 obj\n<< /Length 8 /Filter /JBIG2Decode >>\nstream\nXXXXXXXX\nendstream\nendobj\n")
    sb.append("trailer\n<< /Size 10 /Root 1 0 R >>\n%%EOF\n")
    val got = Extractor.extract(Page("t://mixedcontents", ts, sb.toString.getBytes(ISO_8859_1), "", "en"))
    assert(got.error.contains("cannot be decoded"), got.error)
    assert(got.text == "", got.text)
  }

  test("Form XObject inherits the caller's text state: font for decode, size for titles") {
    // page sets /F9 (whose ToUnicode remaps 0x41 -> 'Z') at 24pt, then runs
    // the form; the form shows text with NO inner Tf — §8.10.2 inheritance
    // must decode through the inherited font and keep the 24pt size (title
    // promotion over the 12pt body runs)
    val cmap =
      """begincmap
        |1 beginbfchar
        |<41> <005A>
        |endbfchar
        |endcmap""".stripMargin
    val pageOps =
      "BT /F9 24 Tf ET q /Fm1 Do Q " +
        "BT /F9 12 Tf 1 0 0 1 50 700 Tm (body one) Tj ET " +
        "BT /F9 12 Tf 1 0 0 1 50 678 Tm (body two) Tj ET " +
        "BT /F9 12 Tf 1 0 0 1 50 656 Tm (body three) Tj ET\n"
    val formOps = "BT 1 0 0 1 50 742 Tm (Arcade) Tj ET\n"
    val tu = cmap
    val sb = new java.lang.StringBuilder
    sb.append("%PDF-1.4\n")
    sb.append("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    sb.append("2 0 obj\n<< /Type /Pages /Count 1 /Kids [3 0 R] /MediaBox [0 0 612 792] >>\nendobj\n")
    sb.append("3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R " +
      "/Resources << /Font << /F9 7 0 R >> /XObject << /Fm1 10 0 R >> >> >>\nendobj\n")
    sb.append(s"4 0 obj\n<< /Length ${pageOps.length} >>\nstream\n").append(pageOps).append("\nendstream\nendobj\n")
    sb.append("7 0 obj\n<< /Type /Font /Subtype /TrueType /BaseFont /Fake /ToUnicode 8 0 R >>\nendobj\n")
    sb.append(s"8 0 obj\n<< /Length ${tu.length} >>\nstream\n").append(tu).append("\nendstream\nendobj\n")
    sb.append(s"10 0 obj\n<< /Type /XObject /Subtype /Form /Length ${formOps.length} >>\nstream\n")
      .append(formOps).append("\nendstream\nendobj\n")
    sb.append("trailer\n<< /Size 11 /Root 1 0 R >>\n%%EOF\n")
    val got = Extractor.extract(Page("t://forminherit", ts, sb.toString.getBytes(ISO_8859_1), "", "en"))
    assert(got.error == "", got.error)
    // decoded through the inherited CMap ('A' -> 'Z') and title-promoted
    // through the inherited 24pt size
    assert(got.text.startsWith("# Zrcade") || got.text.startsWith("## Zrcade"), got.text)
    assert(got.text.contains("body one"), got.text)
  }

  test("resync survives >256 junk ' obj' substrings before the next real object") {
    val sb = new java.lang.StringBuilder("%PDF-1.4\n")
    sb.append("damaged ( unterminated string forces a resync\n")
    // 300 ' obj' candidates with no numeric header: more than one 256-scan
    // budget — the premature 'no anchor' must not be cached as EOF
    for (_ <- 0 until 300) sb.append("foo obj ")
    sb.append("\n")
    val ops = "BT /F1 12 Tf 1 0 0 1 50 700 Tm (resync deep text) Tj ET\n"
    sb.append(s"7 0 obj\n<< /Length ${ops.length} >>\nstream\n").append(ops).append("\nendstream\nendobj\n")
    sb.append("%%EOF\n")
    val got = Extractor.extract(Page("t://deepresync", ts, sb.toString.getBytes(ISO_8859_1), "", "en"))
    assert(got.error == "", got.error)
    assert(got.text == "resync deep text", got.text)
  }

  test("indirect /FirstChar still loads the /Widths table") {
    // F9 declares /Widths [2000] (2 em for 'A') with an INDIRECT /FirstChar
    // = 65; line 1 is 20 'A's. With the widths loaded its x2 reaches the
    // right edge set by the long line 2 -> soft-wrap SPACE join; on the flat
    // 0.5 em estimate the right gap is huge -> hard newline.
    val line2 = "a" * 78
    val content =
      "BT /F9 12 Tf 1 0 0 1 50 700 Tm (" + ("A" * 20) + ") Tj ET " +
        s"BT /F9 12 Tf 1 0 0 1 50 680 Tm ($line2) Tj ET\n"
    val font = "<< /Type /Font /Subtype /TrueType /BaseFont /Fake /FirstChar 9 0 R " +
      "/Widths [" + Array.fill(1)("2000").mkString(" ") + "] >>"
    val base = new String(fontPdf(content, font, None), ISO_8859_1)
    val withObj = base.replace("trailer\n", "9 0 obj\n65\nendobj\ntrailer\n")
    val got = Extractor.extract(Page("t://indirectfc", ts, withObj.getBytes(ISO_8859_1), "", "en"))
    assert(got.error == "", got.error)
    assert(got.text == ("A" * 20) + " " + line2, got.text)
  }

  test("unreferenced corrupt stream behind an indirect /Filter does not error the document") {
    // object 9: garbage bytes with '/Filter 9 0 R'-style indirection that the
    // late re-decode pass RESOLVES to FlateDecode — inflate then throws on
    // the junk. The throw must stay contained (stream stays metadata-only):
    // page text extracted fine before this pass existed and still must.
    val ok = "BT /F1 12 Tf 1 0 0 1 50 700 Tm (healthy page text) Tj ET\n"
    val sb = new java.lang.StringBuilder
    sb.append("%PDF-1.4\n")
    sb.append("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    sb.append("2 0 obj\n<< /Type /Pages /Count 1 /Kids [3 0 R] /MediaBox [0 0 612 792] >>\nendobj\n")
    sb.append("3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n")
    sb.append(s"4 0 obj\n<< /Length ${ok.length} >>\nstream\n").append(ok).append("\nendstream\nendobj\n")
    sb.append("8 0 obj\n<< /Length 12 /Filter 9 0 R >>\nstream\nnot-zlib-at-all\nendstream\nendobj\n")
    sb.append("9 0 obj\n/FlateDecode\nendobj\n")
    sb.append("trailer\n<< /Size 10 /Root 1 0 R >>\n%%EOF\n")
    val got = Extractor.extract(Page("t://corruptindirect", ts, sb.toString.getBytes(ISO_8859_1), "", "en"))
    assert(got.error == "", got.error)
    assert(got.text == "healthy page text", got.text)
  }

  test("/Contents ref to a NON-stream object is skipped, not an error (no text to lose)") {
    val ok = "BT /F1 12 Tf 1 0 0 1 50 700 Tm (page one fine) Tj ET\n"
    val sb = new java.lang.StringBuilder
    sb.append("%PDF-1.4\n")
    sb.append("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    sb.append("2 0 obj\n<< /Type /Pages /Count 2 /Kids [3 0 R 5 0 R] /MediaBox [0 0 612 792] >>\nendobj\n")
    sb.append("3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n")
    sb.append(s"4 0 obj\n<< /Length ${ok.length} >>\nstream\n").append(ok).append("\nendstream\nendobj\n")
    // page 2's contents was redefined to a non-stream object (incremental-
    // update damage shape): nothing to decode, nothing to lose — skip
    sb.append("5 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 6 0 R >>\nendobj\n")
    sb.append("6 0 obj\nnull\nendobj\n")
    sb.append("trailer\n<< /Size 7 /Root 1 0 R >>\n%%EOF\n")
    val got = Extractor.extract(Page("t://nonstreamcontents", ts, sb.toString.getBytes(ISO_8859_1), "", "en"))
    assert(got.error == "", got.error)
    assert(got.text.startsWith("page one fine"), got.text)
  }

  test("flatExact scope: subset-prefixed Courier folds Tc; MonotypeCorsiva and Type0 mono do not") {
    // same geometry as the Courier Tc test: fold -> space join, no fold ->
    // hard newline. ABCDEF+Courier-Bold is genuine Courier (exact metrics);
    // MonotypeCorsiva hits the 'Mono' substring flat ESTIMATE only.
    val line2 = "b" * 69
    def content(tc: String) =
      s"BT /F9 12 Tf $tc Tc 1 0 0 1 50 700 Tm (" + ("a" * 20) + ") Tj ET " +
        s"BT /F9 12 Tf 0 Tc 1 0 0 1 50 680 Tm ($line2) Tj ET\n"
    val courier = "<< /Type /Font /Subtype /Type1 /BaseFont /ABCDEF+Courier-Bold >>"
    val gotC = Extractor.extract(Page("t://subsetcourier", ts,
      fontPdf(content("15"), courier, None), "", "en"))
    assert(gotC.error == "", gotC.error)
    assert(gotC.text == ("a" * 20) + " " + line2, gotC.text)
    val corsiva = "<< /Type /Font /Subtype /Type1 /BaseFont /MonotypeCorsiva >>"
    val gotM = Extractor.extract(Page("t://corsiva", ts,
      fontPdf(content("15"), corsiva, None), "", "en"))
    assert(gotM.error == "", gotM.error)
    // estimate mode: Tc ignored -> right gap stays wide -> hard break
    assert(gotM.text == ("a" * 20) + "\n\n" + line2 || gotM.text == ("a" * 20) + "\n" + line2, gotM.text)
  }

  test("corrupt REFERENCED content stream is an ERROR row, not a silently missing page") {
    // page 2's Flate content stream has a corrupted byte: the scan-time
    // decode throw must keep the OBJECT (metadata-only), so the page-content
    // honesty gate errors the document instead of extracting only page 1
    val c1 = "BT /F1 12 Tf 1 0 0 1 50 700 Tm (page one ok) Tj ET\n"
    val ops2 = "BT /F1 12 Tf 1 0 0 1 50 700 Tm (page two text) Tj ET\n"
    val comp = deflateBytes(ops2.getBytes(ISO_8859_1))
    comp(comp.length / 2) = (comp(comp.length / 2) ^ 0x55).toByte // corrupt mid-stream
    val compS = new String(comp, ISO_8859_1)
    val sb = new java.lang.StringBuilder
    sb.append("%PDF-1.4\n")
    sb.append("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    sb.append("2 0 obj\n<< /Type /Pages /Count 2 /Kids [3 0 R 5 0 R] /MediaBox [0 0 612 792] >>\nendobj\n")
    sb.append("3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n")
    sb.append(s"4 0 obj\n<< /Length ${c1.length} >>\nstream\n").append(c1).append("\nendstream\nendobj\n")
    sb.append("5 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 6 0 R >>\nendobj\n")
    sb.append(s"6 0 obj\n<< /Length ${compS.length} /Filter /FlateDecode >>\nstream\n")
      .append(compS).append("\nendstream\nendobj\n")
    sb.append("trailer\n<< /Size 7 /Root 1 0 R >>\n%%EOF\n")
    val got = Extractor.extract(Page("t://corruptcontents", ts, sb.toString.getBytes(ISO_8859_1), "", "en"))
    assert(got.error.contains("cannot be decoded"), got.error)
    assert(got.text == "", got.text)
  }

  test("acyclic form nesting beyond MaxFormDepth is an ERROR row; cycles still terminate silently") {
    // 5-deep acyclic chain: Fm1 -> Fm2 -> ... -> Fm5, text only in Fm5.
    // Silent skip would lose it; the depth throw makes it an error row.
    val n = 5
    val sb = new java.lang.StringBuilder
    sb.append("%PDF-1.4\n")
    sb.append("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    sb.append("2 0 obj\n<< /Type /Pages /Count 1 /Kids [3 0 R] /MediaBox [0 0 612 792] >>\nendobj\n")
    sb.append("3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R " +
      "/Resources << /XObject << /Fm1 10 0 R >> >> >>\nendobj\n")
    val pageOps = "/Fm1 Do BT /F1 12 Tf 1 0 0 1 50 700 Tm (page body) Tj ET\n"
    sb.append(s"4 0 obj\n<< /Length ${pageOps.length} >>\nstream\n").append(pageOps).append("\nendstream\nendobj\n")
    for (k <- 1 to n) {
      val ops =
        if (k < n) s"/Fm${k + 1} Do\n"
        else "BT /F1 12 Tf 1 0 0 1 50 600 Tm (deep text) Tj ET\n"
      val res = if (k < n) s" /Resources << /XObject << /Fm${k + 1} ${10 + k} 0 R >> >>" else ""
      sb.append(s"${9 + k} 0 obj\n<< /Type /XObject /Subtype /Form$res /Length ${ops.length} >>\nstream\n")
        .append(ops).append("\nendstream\nendobj\n")
    }
    sb.append("trailer\n<< /Size 20 /Root 1 0 R >>\n%%EOF\n")
    val got = Extractor.extract(Page("t://deepforms", ts, sb.toString.getBytes(ISO_8859_1), "", "en"))
    assert(got.error.contains("MaxFormDepth"), got.error)
    assert(got.text == "", got.text)
  }

  test("BOM'd UTF-16BE show string under a declared /Encoding keeps the BOM decode") {
    val t = "Заголовок" // Cyrillic: WinAnsi byte-wise decode would be mojibake
    val hex = "FEFF" + t.map(c => f"${c.toInt}%04X").mkString
    val content = s"BT /F9 12 Tf 1 0 0 1 50 700 Tm <$hex> Tj ET\n"
    val font = "<< /Type /Font /Subtype /TrueType /BaseFont /Fake /Encoding /WinAnsiEncoding >>"
    val got = Extractor.extract(Page("t://bomenc", ts, fontPdf(content, font, None), "", "ru"))
    assert(got.error == "", got.error)
    assert(got.text == t, got.text)
  }

  test("TRUNCATED Flate content stream is an ERROR row, not a silently-partial prefix") {
    // cut the zlib data mid-stream: Inflater consumes it without a
    // DataFormatException and would return the decoded prefix — inflate
    // must detect the missing final block and throw instead
    val ops = "BT /F1 12 Tf 1 0 0 1 50 700 Tm (first half) Tj ET " +
      "BT /F1 12 Tf 1 0 0 1 50 680 Tm (second half) Tj ET\n"
    val comp = deflateBytes(ops.getBytes(ISO_8859_1))
    val cut = java.util.Arrays.copyOf(comp, comp.length / 2)
    val cutS = new String(cut, ISO_8859_1)
    val got = Extractor.extract(Page("t://truncflate", ts,
      minimalPdf(cutS, filter = "FlateDecode", length = Some(cutS.length)), "", "en"))
    assert(got.error.contains("truncated") || got.error.contains("cannot be decoded"), got.error)
    assert(got.text == "", got.text)
  }

  test("page dict lost to a corrupt ObjStm is an ERROR row, not a silently shorter document") {
    // page 5's dict lives ONLY in a Flate ObjStm with a corrupted byte: the
    // ObjStm stays metadata-only, kid 5 0 R cannot resolve, and the page
    // tree walk must error the document rather than emit just page 3
    val inner5 = "<< /Type /Page /Parent 2 0 R /Contents 8 0 R >>"
    val hdr = "5 0 "
    val stm = hdr + inner5
    val comp = deflateBytes(stm.getBytes(ISO_8859_1))
    comp(comp.length / 2) = (comp(comp.length / 2) ^ 0x55).toByte
    val compS = new String(comp, ISO_8859_1)
    val c1 = "BT /F1 12 Tf 1 0 0 1 50 700 Tm (page three ok) Tj ET\n"
    val c2 = "BT /F1 12 Tf 1 0 0 1 50 700 Tm (page five text) Tj ET\n"
    val sb = new java.lang.StringBuilder
    sb.append("%PDF-1.5\n")
    sb.append("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    sb.append("2 0 obj\n<< /Type /Pages /Count 2 /Kids [3 0 R 5 0 R] /MediaBox [0 0 612 792] >>\nendobj\n")
    sb.append("3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n")
    sb.append(s"4 0 obj\n<< /Length ${c1.length} >>\nstream\n").append(c1).append("\nendstream\nendobj\n")
    sb.append(s"8 0 obj\n<< /Length ${c2.length} >>\nstream\n").append(c2).append("\nendstream\nendobj\n")
    sb.append(s"6 0 obj\n<< /Type /ObjStm /N 1 /First ${hdr.length} /Length ${compS.length} " +
      "/Filter /FlateDecode >>\nstream\n").append(compS).append("\nendstream\nendobj\n")
    sb.append("trailer\n<< /Size 9 /Root 1 0 R >>\n%%EOF\n")
    val got = Extractor.extract(Page("t://lostobjstmpage", ts, sb.toString.getBytes(ISO_8859_1), "", "en"))
    assert(got.error.contains("unresolvable"), got.error)
    assert(got.text == "", got.text)
  }

  test("odd-length literal starting with FE FF is NOT a BOM: decodes per-byte") {
    // '(þÿs)' in a WinAnsi font is 3 bytes FE FF 73 — literal text, not a
    // truncated UTF-16 string; the BOM bypass requires an even length
    val content = "BT /F9 12 Tf 1 0 0 1 50 700 Tm (\u00FE\u00FFs) Tj ET\n"
    val font = "<< /Type /Font /Subtype /TrueType /BaseFont /Fake /Encoding /WinAnsiEncoding >>"
    val got = Extractor.extract(Page("t://oddbom", ts, fontPdf(content, font, None), "", "en"))
    assert(got.error == "", got.error)
    assert(got.text == "\u00FE\u00FFs", got.text)
  }

  test("TRUNCATED LZW stream (bits exhausted before EOD) is an error, not a silent prefix") {
    val full = lzwEncode("some words that compress a bit some words".getBytes(ISO_8859_1))
    val cut = java.util.Arrays.copyOf(full, full.length / 2)
    intercept[RealPdf.PdfParseException](RealPdf.lzwDecode(cut))
    // the intact stream still round-trips (EOD present)
    assert(new String(RealPdf.lzwDecode(full), ISO_8859_1).startsWith("some words"))
  }

  test("Courier exact flat metrics take Tc spacing (and TJ kern) like real /Widths") {
    // 20 a's at 12pt Courier = 144pt wide bare; with 15 Tc the fold adds
    // 300pt -> x2 ~ 494 closes the right gap -> space join with line 2.
    // Without the fold (pre-fix: gated on widths.nonEmpty) the gap stays
    // hard-break wide -> newline.
    val line2 = "b" * 69
    val content =
      "BT /F9 12 Tf 15 Tc 1 0 0 1 50 700 Tm (" + ("a" * 20) + ") Tj ET " +
        s"BT /F9 12 Tf 0 Tc 1 0 0 1 50 680 Tm ($line2) Tj ET\n"
    val font = "<< /Type /Font /Subtype /Type1 /BaseFont /Courier >>"
    val got = Extractor.extract(Page("t://couriertc", ts, fontPdf(content, font, None), "", "en"))
    assert(got.error == "", got.error)
    assert(got.text == ("a" * 20) + " " + line2, got.text)
  }
}

package graft.fixtures

import graft.model.Page
import graft.html.TableGrid
import graft.assemble.TitleLevel
import java.nio.charset.{Charset => JCharset, StandardCharsets}

/** Deterministic synthetic page corpus + independent golden oracle
  * (FIXTURES.md). Every decision derives from `Seed ⊕ rowId` via
  * java.util.Random (spec-fixed algorithm → stable across JVMs). The oracle
  * does NOT run the extractor: it computes the expected extracted text from
  * the generation grammar itself, so `extract(html) == expected` is a real
  * end-to-end byte-identity check (north rule).
  *
  * Independence caveat, stated honestly: the oracle DOES share a handful of
  * leaf FORMATTING primitives with the engine — `TitleLevel.resolve`,
  * `TableGrid.resolve/render`, `PdfParser.PageBreak`/`HardBreakGapFrac`,
  * `RealPdf.AvgGlyphWidthEm` — so a bug inside those exact functions would
  * corrupt both sides identically and pass the gate. Each has its own
  * hand-vector KernelSpec coverage for that reason; everything ABOVE them
  * (tokenizing, block discovery, classification, joining, span accounting,
  * charset handling, PDF parsing) is computed from the grammar, never via
  * engine code, and stays genuinely cross-checked.
  */
object FixtureGen {

  val Seed = 42L

  final case class Fixture(page: Page, expectedText: String, expectedSpanCount: Int)

  // ---- deterministic vocabulary -------------------------------------------

  private val syl1 = Array("ba", "re", "mo", "ta", "li", "sun", "ver", "ka",
    "del", "or", "min", "pa", "qui", "sto", "ne", "gra")
  private val syl2 = Array("lon", "mer", "tis", "den", "ro", "val", "ner",
    "sil", "tan", "cor", "bel", "dur", "fen", "gol", "han", "rim")
  private val syl3 = Array("a", "o", "um", "is", "er", "on", "ix", "us",
    "ia", "eth", "or", "an", "el", "in", "ar", "ey")

  /** latin pseudo-word i (pure function of i) */
  def word(i: Int): String = {
    val a = syl1((i * 7) & 15); val b = syl2((i * 13 >> 2) & 15); val c = syl3((i * 29 >> 4) & 15)
    if ((i & 3) == 0) a + b else a + b + c
  }

  /** CJK pseudo-word: 1-3 chars from the unified ideograph block */
  def cjkWord(i: Int): String = {
    val len = 1 + (i % 3)
    val sb = new StringBuilder
    var k = 0
    while (k < len) { sb.append((0x4E00 + ((i * 131 + k * 977) % 2000)).toChar); k += 1 }
    sb.toString
  }

  /** Arabic pseudo-word: 2-5 chars from the Arabic block */
  def arWord(i: Int): String = {
    val len = 2 + (i % 4)
    val sb = new StringBuilder
    var k = 0
    while (k < len) { sb.append((0x0627 + ((i * 37 + k * 11) % 26)).toChar); k += 1 }
    sb.toString
  }

  private val deExtras = Array("über", "größe", "straße", "müller", "käfer", "schön")

  private def wordFor(lang: String, i: Int): String = lang match {
    case "zh" => cjkWord(i)
    case "ar" => arWord(i)
    case "de" => if (i % 11 == 0) deExtras((i / 11) % deExtras.length) else word(i)
    case _    => word(i)
  }

  // entity token pairs: (html form, decoded form) — appended to a word
  private val entityPairs = Array(
    ("&amp;co", "&co"), ("&lt;x", "<x"), ("&#x4E2D;", "中"),
    ("&quot;q&quot;", "\"q\""), ("&gt;", ">"), ("&#169;", "©"))

  // ---- per-row generation --------------------------------------------------

  def fixture(rowId: Long): Fixture = {
    val r = new java.util.Random(Seed * 0x9E3779B97F4A7C15L + rowId * 0x2545F4914F6CDD1DL)
    val lang = Array("en", "zh", "de", "ar").apply((rowId % 4).toInt)
    val host = 1 + zipfHost(r)
    val url = s"https://host$host.example/${java.lang.Long.toString(rowId, 36)}"
    val ts = new java.sql.Timestamp(1767225600000L + rowId * 1000L) // 2026-01-01T00:00:00Z + rowId s

    // genuine %PDF-1.x byte streams (uncompressed + FlateDecode text objects)
    // through the RealPdf parser; lang cycles independently of rowId%4 so all
    // four scripts hit the PDF path (rowId%50==1 forces rowId odd, which
    // under the rowId%4 rule would lock those pages to zh/ar)
    val isPdf = rowId % 50 == 1 || rowId % 50 == 26
    if (isPdf) {
      val pdfLang = Array("en", "zh", "de", "ar").apply(((rowId / 50) % 4).toInt)
      val (bytes, expected, nSpans) = genRealPdf(r, pdfLang)
      return Fixture(Page(url, ts, bytes, "", pdfLang), expected, nSpans)
    }

    val giant = rowId % 200 == 3
    // rowId%20==6 is always even => lang "de" (umlaut-rich, so the cp1252
    // high-byte range is actually exercised). The previous guard
    // ((en|de) && rowId%20==5) was UNSATISFIABLE — %20==5 forces rowId odd,
    // odd rowIds are zh/ar under the %4 lang rule — so the windows-1252
    // decode path had zero golden coverage. Residues stay disjoint from
    // utf16 (9/34 mod 50 are never 6 mod 20); rowId%100==26 slots go to the
    // real-PDF branch first, leaving ~4% of rows cp1252.
    val cp1252 = !giant && rowId % 20 == 6
    // UTF-16LE pages (disjoint from cp1252: 9/34 mod 50 are never 6 mod 20); the
    // rowId%50==34 subset omits the BOM so the parity sniff path is exercised
    val utf16 = !giant && !cp1252 && rowId % 25 == 9
    val utf16Bom = utf16 && rowId % 50 != 34
    val malformed = rowId % 10 == 7
    val cs: JCharset =
      if (cp1252) JCharset.forName("windows-1252") else StandardCharsets.UTF_8

    val html = new java.lang.StringBuilder(4096)
    val pieces = Vector.newBuilder[String] // expected rendered blocks in order
    var spanCount = 0

    html.append("<!DOCTYPE html><html><head>")
    if (cp1252) html.append("<meta charset=\"windows-1252\">")
    else if (utf16) html.append("<meta charset=\"utf-16\">")
    else html.append("<meta charset=\"utf-8\">")
    html.append("<title>site ").append(host).append("</title>")
    html.append("<style>body{margin:0} .x>a{color:red}</style>")
    html.append("<script>var q = '<p>not content</p>'; if(1<2){}</script>")
    html.append("</head><body>")

    // boilerplate shell (must all be dropped)
    html.append("<header><h1>Site ").append(host).append("</h1>")
    html.append("<div class=\"masthead\">the finest synthetic pages</div></header>")
    html.append("<nav><ul>")
    for (k <- 0 until 5 + r.nextInt(6))
      html.append("<li><a href=\"/s").append(k).append("\">").append(word(k + 3)).append(" ").append(word(k + 9)).append("</a></li>")
    html.append("</ul></nav>")
    html.append("<div class=\"cookie-banner\">We use cookies to improve your experience ")
    html.append("<a href=\"/accept\">accept</a> <a href=\"/no\">decline</a></div>")
    html.append("<aside><h3>Trending</h3><ul>")
    for (k <- 0 until 4) html.append("<li><a href=\"/t").append(k).append("\">").append(word(40 + k)).append("</a></li>")
    html.append("</ul></aside>")
    html.append("<div class=\"sidebar\"><ul>")
    for (k <- 0 until 6) html.append("<li><a href=\"/r").append(k).append("\">").append(word(60 + k)).append(" ").append(word(70 + k)).append("</a></li>")
    html.append("</ul></div>")

    // main content
    html.append("<main><article>")

    val nSections = 1 + r.nextInt(3)
    var pieceSeed = r.nextInt(1 << 20)
    for (s <- 0 until nSections) {
      // optional numbered title
      if (r.nextInt(10) < 8) {
        val tagLevel = 1 + r.nextInt(3)
        // cp1252 pages must stay encodable: no CJK numbering prefix
        val numStyle0 = r.nextInt(5)
        val numStyle = if (cp1252 && numStyle0 == 2) 0 else numStyle0
        val tWords = (0 until 2 + r.nextInt(4)).map(i => wordFor(lang, pieceSeed + i * 17 + 5))
        val prefix = numStyle match {
          case 0 => s"${s + 1}. "
          case 1 => s"${s + 1}.${1 + r.nextInt(4)} "
          case 2 => Array("一、", "二、", "三、").apply(s % 3)
          case 3 => Array("I.", "II.", "IV.").apply(s % 3) + " "
          case _ => ""
        }
        val titleText = (prefix + tWords.mkString(" ")).trim
        html.append("<h").append(tagLevel).append('>').append(titleText)
        if (malformed && s == 0) html.append("</h9") // noise: broken end tag is skipped
        html.append("</h").append(tagLevel).append('>')
        val lvl = TitleLevel.resolve(titleText, tagLevel)
        pieces += ("#" * lvl) + " " + titleText
        spanCount += 1
      }

      val nParas = 1 + r.nextInt(4)
      for (pi <- 0 until nParas) {
        val n = 10 + r.nextInt(90)
        val base = pieceSeed + pi * 101
        val htmlWords = new scala.collection.mutable.ArrayBuffer[String](n)
        val expWords = new scala.collection.mutable.ArrayBuffer[String](n)
        for (wi <- 0 until n) {
          var hw = wordFor(lang, base + wi)
          var ew = hw
          if (wi % 13 == 7) {
            // cp1252 pages skip the CJK entity (index 2): not encodable
            var ei = (base + wi) % entityPairs.length
            if (cp1252 && ei == 2) ei = 0
            val (h, e) = entityPairs(ei)
            hw = hw + h; ew = ew + e
          }
          if (wi % 17 == 11) { // inline emphasis wrapping a whole word
            val t = Array("b", "em", "strong", "code").apply((base + wi) % 4)
            hw = s"<$t>$hw</$t>"
          }
          if (wi % 29 == 13) { // sparse in-content link (low link density)
            hw = s"<a href=\"/w$wi\">$hw</a>"
          }
          htmlWords += hw; expWords += ew
        }
        html.append("<p>")
        if (malformed && pi == 1) html.append("<b>") // unclosed inline tag
        html.append(htmlWords.mkString(" "))
        html.append("</p>")
        if (malformed && pi == 2) html.append("</span>") // stray end tag
        pieces += expWords.mkString(" ")
        spanCount += 1
      }

      // optional list
      if (r.nextInt(10) < 4) {
        val items = (0 until 3 + r.nextInt(5)).map { li =>
          (0 until 4 + r.nextInt(6)).map(i => wordFor(lang, pieceSeed + li * 31 + i)).mkString(" ")
        }
        html.append("<ul>")
        for (it <- items) { html.append("<li>").append(it).append("</li>"); pieces += ("- " + it); spanCount += 1 }
        html.append("</ul>")
      }

      // optional figure: img alt harvested as ![Figure](alt), figcaption as *caption*
      if (r.nextInt(10) < 3) {
        var alt = (0 until 2 + r.nextInt(4)).map(i => wordFor(lang, pieceSeed + i * 19 + 3)).mkString(" ")
        var altExp = alt
        if (r.nextInt(3) == 0) { // entity inside the alt attribute value
          var ei = r.nextInt(entityPairs.length)
          if (cp1252 && ei == 2) ei = 0
          val (h, e) = entityPairs(ei)
          alt = alt + h; altExp = altExp + e
        }
        html.append("<figure><img src=\"/img").append(s).append(".png\" alt=\"").append(alt).append("\">")
        pieces += s"![Figure]($altExp)"
        spanCount += 1
        if (r.nextInt(3) > 0) {
          val cap = (0 until 3 + r.nextInt(4)).map(i => wordFor(lang, pieceSeed + i * 23 + 8)).mkString(" ")
          html.append("<figcaption>").append(cap).append("</figcaption>")
          pieces += s"*$cap*"
          spanCount += 1
        }
        html.append("</figure>")
        // decorative alt-less image: must NOT produce a block
        if (r.nextInt(2) == 0) html.append("<img src=\"/spacer.gif\">")
      }

      // optional formula: math subtree rendered $$...$$
      if (r.nextInt(10) < 2) {
        val a = 1 + r.nextInt(9); val b2 = 1 + r.nextInt(9)
        html.append("<math><mi>x</mi><mo>=</mo><mn>").append(a)
          .append("</mn><mo>+</mo><mn>").append(b2).append("</mn></math>")
        pieces += ("$$" + s"x=$a+$b2" + "$$")
        spanCount += 1
      }

      // optional data table (border => captured)
      if (r.nextInt(10) < 3) {
        val nRows = 2 + r.nextInt(3)
        val nCols = 2 + r.nextInt(3)
        val useSpan = r.nextInt(3) == 0
        val rows = Vector.newBuilder[Vector[(Int, Int, Boolean, String)]]
        html.append("<table border=\"1\">")
        for (ri <- 0 until nRows) {
          html.append("<tr>")
          val row = Vector.newBuilder[(Int, Int, Boolean, String)]
          var ci = 0
          while (ci < nCols) {
            val hdr = ri == 0
            val colSpan = if (useSpan && ri == 1 && ci == 0 && nCols >= 2) 2 else 1
            val txt = wordFor(lang, pieceSeed + ri * 43 + ci * 7) +
              (if ((ri + ci) % 3 == 0) " " + wordFor(lang, pieceSeed + ri + ci + 99) else "")
            val tag = if (hdr) "th" else "td"
            html.append('<').append(tag)
            if (colSpan > 1) html.append(" colspan=\"").append(colSpan).append('"')
            html.append('>').append(txt).append("</").append(tag).append('>')
            row += ((1, colSpan, hdr, txt))
            spanCount += 1
            ci += colSpan
          }
          html.append("</tr>")
          rows += row.result()
        }
        html.append("</table>")
        pieces += TableGrid.render(TableGrid.resolve(rows.result()))
      }

      // optional wireless data table: CSS-styled, NO border attr — captured
      // via the structural probe (>=2 th, >=2 rows, no block content)
      if (r.nextInt(10) < 2) {
        val nRows = 2 + r.nextInt(3)
        val nCols = 2 + r.nextInt(2)
        val rows = Vector.newBuilder[Vector[(Int, Int, Boolean, String)]]
        html.append("<table class=\"data-grid\">")
        for (ri <- 0 until nRows) {
          html.append("<tr>")
          val row = Vector.newBuilder[(Int, Int, Boolean, String)]
          for (ci <- 0 until nCols) {
            val hdr = ri == 0
            val txt = wordFor(lang, pieceSeed + ri * 61 + ci * 13 + 21)
            val tag = if (hdr) "th" else "td"
            html.append('<').append(tag).append('>').append(txt)
              .append("</").append(tag).append('>')
            row += ((1, 1, hdr, txt))
            spanCount += 1
          }
          html.append("</tr>")
          rows += row.result()
        }
        html.append("</table>")
        pieces += TableGrid.render(TableGrid.resolve(rows.result()))
      }

      // optional borderless layout table: its cell texts are plain paragraphs
      if (r.nextInt(10) < 2) {
        val cells = (0 until 2).map { ci =>
          (0 until 5 + r.nextInt(6)).map(i => wordFor(lang, pieceSeed + ci * 53 + i + 7)).mkString(" ")
        }
        html.append("<table><tr>")
        for (c <- cells) { html.append("<td>").append(c).append("</td>"); pieces += c; spanCount += 1 }
        html.append("</tr></table>")
      }

      // inline noise between sections
      html.append("<!-- section ").append(s).append(" done -->")
      if (s == 0) html.append("<template><p>hidden template para</p></template>")
      pieceSeed += 7919
    }

    if (giant) {
      // skew tail: >= 2 MB of html from a long paragraph, VARIED per
      // repetition (a leading rep-word) — identical repeats would now be
      // duplicate-suppressed, which is the intended behavior for real spam
      // but would empty this page's output
      val base = pieceSeed + 31337
      val para = (0 until 400).map(i => word(base + i)).mkString(" ")
      val reps = math.max(1, (2 * 1024 * 1024) / (para.length + 7) + 1)
      for (rep <- 0 until reps) {
        val varied = "rep" + rep + " " + para // literal counter: repetitions stay unique
        html.append("<p>").append(varied).append("</p>"); pieces += varied; spanCount += 1
      }
    }

    // duplicated-content tail: the SAME long paragraph twice — the
    // duplicate-suppression pass must keep only the first occurrence
    if (!giant && rowId % 6 == 2) {
      val dupWords = (0 until 15).map(i => wordFor(lang, pieceSeed + i * 3 + 41)).mkString(" ")
      html.append("<p>").append(dupWords).append("</p>")
      html.append("<div><p>").append(dupWords).append("</p></div>")
      pieces += dupWords // once
      spanCount += 1
    }

    html.append("</article></main>")
    html.append("<footer><p>copyright ").append(host).append(" — <a href=\"/tos\">terms</a> <a href=\"/privacy\">privacy</a></p></footer>")
    html.append("</body></html>")

    val bytes =
      if (utf16) {
        val body = html.toString.getBytes(StandardCharsets.UTF_16LE)
        if (utf16Bom) {
          val out = new Array[Byte](body.length + 2)
          out(0) = 0xff.toByte; out(1) = 0xfe.toByte
          System.arraycopy(body, 0, out, 2, body.length)
          out
        } else body
      } else html.toString.getBytes(cs)
    val expected = pieces.result().mkString("\n\n")
    Fixture(Page(url, ts, bytes, "", lang), expected, spanCount)
  }

  /** Zipf(~1.2)-ish host id over 64 hosts for hot-domain skew. */
  private def zipfHost(r: java.util.Random): Int = {
    val u = r.nextDouble()
    math.min(63, math.floor(math.pow(u, 3.0) * 64).toInt)
  }

  // ---- genuine %PDF-1.x payload --------------------------------------------

  /** Genuine `%PDF-1.x` byte stream: header, xref-less indirect objects
    * (catalog, page tree, per-page content streams), trailer. Content
    * streams carry BT/ET text objects using Tm / TL / Tj / ' / " / TJ with
    * literal and UTF-16BE-hex strings; ~1/3 of streams are /FlateDecode.
    * The oracle inlines the engine's rules — font-size title promotion,
    * projection region grouping, soft-wrap right-gap, needs-space join, RTL
    * line reversal — over the KNOWN geometry; it never runs the parser.
    * All coordinates and glyph-width products are integer-valued doubles, so
    * every engine comparison the oracle mirrors is exact. */
  private def genRealPdf(r: java.util.Random, lang: String): (Array[Byte], String, Int) = {
    val gw = graft.pdf.RealPdf.AvgGlyphWidthEm * 12.0 // 6.0 pt per body glyph
    val gwInt = gw.toInt
    var spanCount = 0

    /** exactly `target` chars of space-joined words; never ends in a space */
    def lineText(target: Int): String = {
      val sb = new StringBuilder
      while (sb.length < target) {
        if (sb.nonEmpty) sb.append(' ')
        sb.append(wordFor(lang, r.nextInt(4096)))
      }
      val cut = sb.substring(0, target)
      if (cut.charAt(target - 1) == ' ') cut.substring(0, target - 1) + "x" else cut
    }

    /** 1 or 2 abutting fragments; a 2-split lands on a space boundary (the
      * space stays with the left fragment) so the join is byte-lossless */
    def splitFrags(s: String): Vector[String] = {
      val spaces = (1 until s.length - 1).filter(i => s.charAt(i) == ' ')
      if (spaces.isEmpty || r.nextInt(4) != 0) Vector(s)
      else {
        val k = spaces(r.nextInt(spaces.length))
        Vector(s.substring(0, k + 1), s.substring(k + 1))
      }
    }

    def needsHexStr(t: String) = t.exists(c => c > 0xFF || c == '(' || c == ')' || c == '\\')
    // non-null on CID pages: text is emitted as 2-byte glyph codes through a
    // generated /ToUnicode CMap (codes assigned first-seen), exercising the
    // font-aware decode path; the decoded text — and so the oracle — is
    // unchanged
    var cidMap: java.util.LinkedHashMap[Character, Integer] = null
    // WinAnsi pages (en/de, non-CID): the font declares /Encoding
    // /WinAnsiEncoding and every string is emitted as cp1252 bytes — titles
    // gain typographic chars (0x80-0x9F range) the default Latin-1 decode
    // would mangle; the decoded text, and so the oracle, is unchanged
    var winAnsi = false
    def pdfStr(t: String): String =
      if (cidMap != null) {
        val sb = new StringBuilder("<")
        t.foreach { c =>
          var code = cidMap.get(c)
          if (code == null) { code = Integer.valueOf(cidMap.size + 1); cidMap.put(c, code) }
          sb.append(f"${code.intValue}%04X")
        }
        sb.append('>').toString
      } else if (winAnsi) {
        val bs = t.getBytes("windows-1252") // en/de fixture text is encodable
        val sb = new StringBuilder("(")
        for (b <- bs) {
          val c = (b & 0xFF).toChar
          if (c == '(' || c == ')' || c == '\\') sb.append('\\')
          sb.append(c)
        }
        sb.append(')').toString
      } else if (needsHexStr(t)) {
        val sb = new StringBuilder("<FEFF")
        t.foreach(c => sb.append(f"${c.toInt}%04X"))
        sb.append('>').toString
      } else "(" + t + ")"

    // mirror of RealPdf's per-line RTL majority test
    def mirrorRtl(frags: Vector[String]): Boolean = {
      var rtl = 0; var ltr = 0
      for (f <- frags; c <- f) {
        if ((c >= 0x0590 && c <= 0x08FF) || (c >= 0xFB1D && c <= 0xFDFF) ||
          (c >= 0xFE70 && c <= 0xFEFF)) rtl += 1
        else if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')) ltr += 1
      }
      rtl > ltr
    }

    /** mirror of PdfParser.sortAndJoin over the constructed line structure:
      * lines start at x0, fragments abut, widths are gw * charCount */
    def mirrorRegion(lines: Vector[Vector[String]], x0: Int): Vector[String] = {
      val totals = lines.map(_.map(_.length).sum)
      val maxTotal = totals.max
      val contW = gw * maxTotal
      val sb = new java.lang.StringBuilder
      def needsSpace: Boolean = sb.length > 0 && sb.charAt(sb.length - 1) != '\n' && {
        val c = sb.charAt(sb.length - 1)
        (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
      }
      var prevRight = Double.NaN
      for ((line, total) <- lines.zip(totals)) {
        val ordered = if (mirrorRtl(line)) line.reverse else line
        if (!prevRight.isNaN) {
          val rightGap = (x0 + contW) - prevRight
          if (rightGap > contW * graft.pdf.PdfParser.HardBreakGapFrac) {
            if (sb.length == 0 || sb.charAt(sb.length - 1) != '\n') sb.append('\n')
          } else if (needsSpace) sb.append(' ')
        }
        var fi = 0
        for (f <- ordered) { if (fi > 0 && needsSpace) sb.append(' '); sb.append(f); fi += 1 }
        prevRight = x0 + gw * total
      }
      var end = sb.length
      while (end > 0 && Character.isWhitespace(sb.charAt(end - 1))) end -= 1
      sb.substring(0, end).split('\n').toVector.filter(_.nonEmpty)
    }

    val nPages = 1 + r.nextInt(2)
    /** (ops, encoding 0=plain 1=flate 2=asciihex 3=ascii85 4=a85+flate
      * 5=lzw 6=flate+pred12, cid char->code entries or empty, winAnsi page,
      * form-XObject ops — "" when the page draws no form, /Rotate 0|90|180) */
    val pageStreams = Vector.newBuilder[(String, Int, Vector[(Char, Int)], Boolean, String, Int)]
    val pageTexts = Vector.newBuilder[String]

    for (_ <- 0 until nPages) {
      val blocks = scala.collection.mutable.ArrayBuffer.empty[String]
      // doc titles occasionally route into a /Subtype /Form XObject invoked
      // via `/FmH Do` (identity matrix): device geometry — and the oracle —
      // are unchanged, but the engine must execute the form to see the title
      val formBlocks = scala.collection.mutable.ArrayBuffer.empty[String]
      var sink = blocks
      val pieces = Vector.newBuilder[String]
      cidMap = if (r.nextInt(6) == 0) new java.util.LinkedHashMap[Character, Integer] else null
      winAnsi = cidMap == null && (lang == "en" || lang == "de") && r.nextInt(6) == 0
      // 1/8 of pages carry a /Rotate attribute (90 = landscape sheet rotated
      // for display, 180 = upside-down scan): every baked coordinate is
      // pre-mapped into the ROTATED user space and text matrices rotate with
      // it, so the normalized page — and the oracle — are unchanged; the
      // engine must fold /Rotate + MediaBox into its initial CTM to read it
      val pageRot = if (r.nextInt(8) == 0) (if (r.nextBoolean()) 90 else 180) else 0
      val tmPrefix = pageRot match {
        case 90  => "0 1 -1 0"
        case 180 => "-1 0 0 -1"
        case _   => "1 0 0 1"
      }
      def userX(x: Int, y: Int): Int = pageRot match {
        case 90  => 792 - y
        case 180 => 612 - x
        case _   => x
      }
      def userY(x: Int, y: Int): Int = pageRot match {
        case 90  => x
        case 180 => 792 - y
        case _   => y
      }
      def userRect(x: Int, y: Int, w: Int, h: Int): (Int, Int, Int, Int) = pageRot match {
        case 90  => (792 - y - h, x, h, w)
        case 180 => (612 - x - w, 792 - y - h, w, h)
        case _   => (x, y, w, h)
      }
      // 1/6 of pages place all content through a translated CTM: the stream
      // opens with `q 1 0 0 1 offX offY cm`, and every baked coordinate is
      // pre-shifted by the inverse so DEVICE positions — and the oracle —
      // are unchanged
      val (offX, offY) =
        if (r.nextInt(6) == 0) (10 + r.nextInt(60), -(10 + r.nextInt(60))) else (0, 0)

      def tmRun(x: Int, yb: Int, size: Int, t: String): Unit = {
        sink += s"BT /F1 $size Tf $tmPrefix ${userX(x, yb) - offX} ${userY(x, yb) - offY} Tm ${pdfStr(t)} Tj ET\n"
        spanCount += 1
      }
      def tmRunTJ(x: Int, yb: Int, t: String): Unit = {
        val m = 1 + r.nextInt(t.length - 1)
        blocks += s"BT /F1 12 Tf $tmPrefix ${userX(x, yb) - offX} ${userY(x, yb) - offY} Tm [${pdfStr(t.substring(0, m))} " +
          s"-${40 + r.nextInt(200)} ${pdfStr(t.substring(m))}] TJ ET\n"
        spanCount += 1
      }

      /** paragraph: full lines of exactly 40 chars, last line 18 chars —
        * right gap 0 (soft wrap) vs 132 > 0.3*240 (hard break), decided by
        * the same arithmetic the mirror replays */
      def para(nLines: Int): Vector[Vector[String]] =
        (0 until nLines).map { li =>
          splitFrags(lineText(if (li == nLines - 1) 18 else 40))
        }.toVector

      /** emit one region's lines (22 pt pitch down from yb0); returns the
        * cursor after the last line */
      def emitRegion(x0: Int, yb0: Int, paras: Vector[Vector[Vector[String]]]): Int = {
        val lines = paras.flatten
        if (r.nextInt(2) == 0) { // per-line Tm blocks (shuffle-proof)
          var yb = yb0
          for (line <- lines) {
            if (line.length == 1 && line(0).length >= 8 && r.nextInt(4) == 0)
              tmRunTJ(x0, yb, line(0))
            else {
              var x = x0
              for (f <- line) { tmRun(x, yb, 12, f); x += gwInt * f.length }
            }
            yb -= 22
          }
        } else { // one BT block driven by TL / ' / " line advances
          val sbb = new StringBuilder(s"BT /F1 12 Tf 22 TL $tmPrefix ${userX(x0, yb0) - offX} ${userY(x0, yb0) - offY} Tm ")
          for ((line, li) <- lines.zipWithIndex) {
            if (li == 0) sbb.append(pdfStr(line(0))).append(" Tj ")
            else if (line.length == 1 && r.nextInt(5) == 0)
              sbb.append("0 0 ").append(pdfStr(line(0))).append(" \" ")
            else sbb.append(pdfStr(line(0))).append(" ' ")
            spanCount += 1
            for (f <- line.drop(1)) { sbb.append(pdfStr(f)).append(" Tj "); spanCount += 1 }
          }
          sbb.append("ET\n")
          blocks += sbb.toString
        }
        mirrorRegion(lines, x0).foreach(pieces += _)
        yb0 - 22 * lines.length
      }

      def emitTitle(x0: Int, yb: Int, level: Int): Unit = {
        val base = (0 until 2 + r.nextInt(3)).map(_ => wordFor(lang, r.nextInt(4096))).mkString(" ")
        // WinAnsi pages decorate titles with cp1252 0x80-0x9F typographic
        // chars — the range a Latin-1 decode silently mangles
        val t = if (winAnsi) "“" + base + "” — " + wordFor(lang, r.nextInt(4096)) else base
        tmRun(x0, yb, if (level == 1) 24 else 18, t)
        pieces += ("#" * level) + " " + t
      }

      /** wired table drawn with hairline `re` ruling rects (stroked in one
        * self-contained block) + one 12pt run per cell; the engine must
        * detect the grid geometrically from the painted rulings. Returns the
        * PDF-space y of the grid's bottom ruling. */
      def emitTable(x0: Int, yTop: Int): Int = {
        val nRows = 2 + r.nextInt(2)
        val nCols = 2 + r.nextInt(2)
        val cw = 100; val ch = 24
        val sbb = new StringBuilder
        for (i <- 0 to nRows) {
          val (rx, ry, rw, rh) = userRect(x0, yTop - i * ch, cw * nCols, 1)
          sbb.append(s"${rx - offX} ${ry - offY} $rw $rh re ")
        }
        for (j <- 0 to nCols) {
          val (rx, ry, rw, rh) = userRect(x0 + j * cw, yTop - nRows * ch, 1, nRows * ch)
          sbb.append(s"${rx - offX} ${ry - offY} $rw $rh re ")
        }
        sbb.append("S\n")
        blocks += sbb.toString
        val gridRows = Vector.newBuilder[Vector[(Int, Int, Boolean, String)]]
        for (rj <- 0 until nRows) {
          val row = Vector.newBuilder[(Int, Int, Boolean, String)]
          for (ci <- 0 until nCols) {
            val t = wordFor(lang, r.nextInt(4096))
            tmRun(x0 + ci * cw + 3, yTop - rj * ch - 16, 12, t)
            row += ((1, 1, false, t))
          }
          gridRows += row.result()
        }
        pieces += TableGrid.render(TableGrid.resolve(gridRows.result()))
        yTop - nRows * ch
      }

      if (r.nextInt(10) < 4) {
        // two-column page: regions read column-major (x-split before y-split)
        for (x0 <- Vector(40, 330)) {
          var cursor = 742
          for (_ <- 0 until 1 + r.nextInt(2)) {
            val paras = (0 until 1 + r.nextInt(2)).map(_ => para(2 + r.nextInt(2))).toVector
            cursor = emitRegion(x0, cursor, paras) - 60
          }
        }
      } else {
        // single-column page with font-size-promoted titles
        val x0 = 50
        var cursor = 742
        if (r.nextInt(10) < 8) {
          // 1/4 of doc titles live in a Form XObject invoked via Do
          val intoForm = r.nextInt(4) == 0
          if (intoForm) sink = formBlocks
          emitTitle(x0, cursor, 1)
          if (intoForm) { sink = blocks; blocks += "/FmH Do\n" }
          cursor -= 56
        }
        for (s <- 0 until 1 + r.nextInt(2) if s == 0 || cursor > 240) {
          if (r.nextInt(10) < 7) { emitTitle(x0, cursor, 2); cursor -= 48 }
          val paras = (0 until 1 + r.nextInt(2)).map(_ => para(2 + r.nextInt(2))).toVector
          cursor = emitRegion(x0, cursor, paras) - 64
          if (r.nextInt(10) < 4 && cursor > 160)
            cursor = emitTable(x0, cursor) - 60
        }
      }

      // 1/6 of pages embed an inline image (BI <dict> ID <binary> EI). The
      // payload deliberately contains a raw non-delimited "EI" pair followed
      // by bytes that would lex as (junk) Tj — the engine's skip must anchor
      // past ID and resume only at a DELIMITED EI, or the junk leaks into
      // extracted text and this byte-identity gate catches it. Random payload
      // bytes stay in 0x80-0xFF so no accidental delimited EI can form.
      if (r.nextInt(6) == 0) {
        val px = new StringBuilder
        for (_ <- 0 until 8 + r.nextInt(16)) px.append((0x80 + r.nextInt(128)).toChar)
        blocks += "BI /W 4 /H 4 /BPC 8 /CS /G ID " + px + "EI(junk) Tj EI\n"
      }

      // shuffle emission order: the layout pipeline must re-derive it
      var i = blocks.length - 1
      while (i > 0) {
        val j = r.nextInt(i + 1)
        val t = blocks(i); blocks(i) = blocks(j); blocks(j) = t
        i -= 1
      }
      val body =
        if (offX != 0 || offY != 0) s"q 1 0 0 1 $offX $offY cm\n" + blocks.mkString + "Q\n"
        else blocks.mkString
      val enc = r.nextInt(10) match {
        case 0 | 1 => 1 // FlateDecode
        case 2     => 2 // ASCIIHexDecode
        case 3     => 3 // ASCII85Decode
        case 4     => 4 // [ASCII85Decode FlateDecode]
        case 5     => 5 // LZWDecode
        case 6     => 6 // FlateDecode + PNG Predictor 12
        case 7     => 7 // RunLengthDecode
        case 8     => 8 // [ASCII85Decode FlateDecode] + per-filter parms array
        case _     => 0 // plain
      }
      val cidEntries: Vector[(Char, Int)] =
        if (cidMap == null) Vector.empty
        else {
          val b = Vector.newBuilder[(Char, Int)]
          cidMap.forEach((c, code) => b += ((c.charValue, code.intValue)))
          b.result()
        }
      pageStreams += ((body, enc, cidEntries, winAnsi, formBlocks.mkString, pageRot))
      pageTexts += pieces.result().mkString("\n\n")
    }
    cidMap = null
    winAnsi = false

    def deflate(bytes: Array[Byte]): Array[Byte] = {
      val d = new java.util.zip.Deflater()
      try {
        d.setInput(bytes); d.finish()
        val out = new java.io.ByteArrayOutputStream(bytes.length)
        val buf = new Array[Byte](8192)
        while (!d.finished()) { val k = d.deflate(buf); out.write(buf, 0, k) }
        out.toByteArray
      } finally d.end()
    }
    def asciiHexEnc(bytes: Array[Byte]): String =
      bytes.map(b => f"${b & 0xFF}%02X").mkString + ">"
    def ascii85Enc(bytes: Array[Byte]): String = {
      val sb = new java.lang.StringBuilder(bytes.length * 5 / 4 + 4)
      var i = 0
      while (i < bytes.length) {
        val n = math.min(4, bytes.length - i)
        var v = 0L
        var k = 0
        while (k < 4) { v = (v << 8) | (if (k < n) bytes(i + k) & 0xFF else 0); k += 1 }
        val cs = new Array[Char](5)
        var m = 4
        while (m >= 0) { cs(m) = ('!' + (v % 85).toInt).toChar; v /= 85; m -= 1 }
        sb.append(cs, 0, n + 1)
        i += 4
      }
      sb.append("~>").toString
    }
    /** PDF-variant LZW (EarlyChange=1): MSB-first 9..12-bit codes, ClearTable
      * first, EOD last. The decoder's table lags `next` by one entry, so the
      * encoder widens at 2^width where the decoder widens at 2^width-1. */
    def lzwEnc(raw: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream(raw.length + 16)
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
            while (width < 12 && next >= (1 << width)) width += 1
          } else { put(256); dict.clear(); next = 258; width = 9 }
          cur = c
        }
      }
      if (cur.nonEmpty) {
        put(codeOf(cur).get)
        // the decoder builds a table entry for this FINAL code too (standard
        // LZW adds on every code received), so when that entry lands exactly
        // on an early-change boundary (next == 2^w - 1 after the implied
        // add) the decoder widens before reading EOD — the encoder must
        // widen with it or EOD is written one bit narrow and the decoder
        // sees a truncated stream (fixture id 511476 hit this: 1 in ~1500
        // LZW streams ends on the boundary)
        if (next < 4096) {
          next += 1
          while (width < 12 && next >= (1 << width)) width += 1
        }
      }
      put(257)
      if (bitCnt > 0) out.write(((bitBuf << (8 - bitCnt)) & 0xFF).toInt)
      out.toByteArray
    }
    /** PNG Up-filter (row tag 2) over rows of `cols` bytes — the encoder side
      * of the real-world Flate+Predictor-12 stream layout; caller pads to
      * full rows (the decoder drops a trailing partial row). */
    def pngUp(raw: Array[Byte], cols: Int): Array[Byte] = {
      val nRows = raw.length / cols
      val out = new Array[Byte]((cols + 1) * nRows)
      for (r <- 0 until nRows) {
        out(r * (cols + 1)) = 2
        for (i <- 0 until cols) {
          val above = if (r == 0) 0 else raw((r - 1) * cols + i) & 0xFF
          out(r * (cols + 1) + 1 + i) = (((raw(r * cols + i) & 0xFF) - above) & 0xFF).toByte
        }
      }
      out
    }
    /** RunLengthDecode encoder (7.4.5): repeat runs for 3+ byte repeats,
      * literal runs otherwise, mandatory 128 EOD. */
    def rlEnc(raw: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream(raw.length + raw.length / 128 + 2)
      var i = 0
      while (i < raw.length) {
        var rep = 1
        while (i + rep < raw.length && rep < 128 && raw(i + rep) == raw(i)) rep += 1
        if (rep >= 3) { out.write(257 - rep); out.write(raw(i)); i += rep }
        else {
          var n = 0
          // literal run up to the next 3+ repeat (or 128 bytes)
          while (i + n < raw.length && n < 128 &&
            !(i + n + 2 < raw.length && raw(i + n) == raw(i + n + 1) && raw(i + n) == raw(i + n + 2))) n += 1
          out.write(n - 1); out.write(raw, i, n); i += n
        }
      }
      out.write(128)
      out.toByteArray
    }
    /** pad with spaces to full predictor rows (ws-transparent to the lexer) */
    def padRows(raw: Array[Byte], cols: Int): Array[Byte] =
      raw ++ Array.fill((cols - raw.length % cols) % cols)(' '.toByte)
    /** encode a content stream per its drawn encoding -> (bytes, filter clause) */
    def encodeStream(ops: String, enc: Int): (String, String) = {
      val raw = ops.getBytes(StandardCharsets.ISO_8859_1)
      enc match {
        case 1 => (new String(deflate(raw), StandardCharsets.ISO_8859_1), " /Filter /FlateDecode")
        case 2 => (asciiHexEnc(raw), " /Filter /ASCIIHexDecode")
        case 3 => (ascii85Enc(raw), " /Filter /ASCII85Decode")
        case 4 => (ascii85Enc(deflate(raw)), " /Filter [/ASCII85Decode /FlateDecode]")
        case 5 => (new String(lzwEnc(raw), StandardCharsets.ISO_8859_1), " /Filter /LZWDecode")
        case 6 => // the real-world xref/ObjStm norm applied to content
          val cols = 32
          (new String(deflate(pngUp(padRows(raw, cols), cols)), StandardCharsets.ISO_8859_1),
            s" /Filter /FlateDecode /DecodeParms << /Predictor 12 /Columns $cols >>")
        case 7 => (new String(rlEnc(raw), StandardCharsets.ISO_8859_1), " /Filter /RunLengthDecode")
        case 8 => // per-filter /DecodeParms array: predictor on the Flate stage only
          val cols = 32
          (ascii85Enc(deflate(pngUp(padRows(raw, cols), cols))),
            s" /Filter [/ASCII85Decode /FlateDecode] /DecodeParms [null << /Predictor 12 /Columns $cols >>]")
        case _ => (ops, "")
      }
    }
    /** /ToUnicode CMap stream for one CID page's char->code table */
    def cmapOf(entries: Vector[(Char, Int)]): String = {
      val sb = new java.lang.StringBuilder(64 + entries.length * 16)
      sb.append("/CIDInit /ProcSet findresource begin\nbegincmap\n")
      sb.append("1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n")
      for (chunk <- entries.grouped(100)) {
        sb.append(s"${chunk.length} beginbfchar\n")
        for ((c, code) <- chunk) sb.append(f"<$code%04X> <${c.toInt}%04X>\n")
        sb.append("endbfchar\n")
      }
      sb.append("endcmap\nend\n")
      sb.toString
    }

    // file assembly: obj 1 catalog, obj 2 page tree, (page, content)* at
    // 3+2i/4+2i, then per-page aux objects (CID font + ToUnicode | WinAnsi
    // font, and/or a /Subtype /Form XObject). 1/5 of files use the modern
    // PDF 1.5+ layout: catalog/pages/page dicts packed into a /Type /ObjStm
    // and the trailer dict carried by a /Type /XRef object (no `trailer`
    // keyword at all).
    val streams = pageStreams.result()
    var nextAux = 3 + 2 * nPages
    // per page: (cid font+toUnicode, winAnsi font, form xobject) obj numbers
    val alloc: Vector[(Option[(Int, Int)], Option[Int], Option[Int])] =
      streams.map { case (_, _, cid, win, form, _) =>
        val cidN = if (cid.isEmpty) None else { val f = nextAux; nextAux += 2; Some((f, f + 1)) }
        val winN = if (win) { val f = nextAux; nextAux += 1; Some(f) } else None
        val formN = if (form.nonEmpty) { val f = nextAux; nextAux += 1; Some(f) } else None
        (cidN, winN, formN)
      }
    val useObjStm = r.nextInt(5) == 0
    // half the ObjStm files store the stream Flate+Predictor-12 — the layout
    // real PDF writers emit for object/xref streams (the round-4 decode gap)
    val objStmPred = useObjStm && r.nextInt(2) == 0
    val kids = (0 until nPages).map(i => s"${3 + 2 * i} 0 R").mkString(" ")
    val catalogDict = "<< /Type /Catalog /Pages 2 0 R >>"
    val pagesDict = s"<< /Type /Pages /Count $nPages /Kids [$kids] /MediaBox [0 0 612 792] >>"
    def pageDict(i: Int): String = {
      val (cidN, winN, formN) = alloc(i)
      val fontPart = cidN.map { case (f, _) => s"/Font << /F1 $f 0 R >> " }
        .orElse(winN.map(f => s"/Font << /F1 $f 0 R >> ")).getOrElse("")
      val xobjPart = formN.map(n => s"/XObject << /FmH $n 0 R >> ").getOrElse("")
      val res = if (fontPart.isEmpty && xobjPart.isEmpty) ""
        else s" /Resources << $fontPart$xobjPart>>"
      // per-page /Rotate (+ landscape MediaBox for 90, overriding the
      // Pages-level portrait box)
      val rotPart = streams(i)._6 match {
        case 90  => " /Rotate 90 /MediaBox [0 0 792 612]"
        case 180 => " /Rotate 180"
        case _   => ""
      }
      s"<< /Type /Page /Parent 2 0 R$rotPart /Contents ${4 + 2 * i} 0 R$res >>"
    }

    val file = new java.lang.StringBuilder(4096)
    file.append(if (useObjStm) "%PDF-1.5\n%âãÏÓ\n" else "%PDF-1.4\n%âãÏÓ\n")
    if (useObjStm) {
      val packed: Vector[(Int, String)] =
        ((1, catalogDict) +: (2, pagesDict) +: (0 until nPages).map(i => (3 + 2 * i, pageDict(i))).toVector)
      val body = packed.map(_._2).mkString(" ")
      val offsets = packed.map(_._2).scanLeft(0)((acc, s) => acc + s.length + 1)
      val hdr = packed.zip(offsets).map { case ((num, _), off) => s"$num $off" }.mkString("", " ", " ")
      val stm = hdr + body
      val stmBytes = stm.getBytes(StandardCharsets.ISO_8859_1)
      val predCols = 24
      val comp = new String(
        if (objStmPred) deflate(pngUp(padRows(stmBytes, predCols), predCols))
        else deflate(stmBytes), StandardCharsets.ISO_8859_1)
      val parms = if (objStmPred) s" /DecodeParms << /Predictor 12 /Columns $predCols >>" else ""
      val objStmNum = nextAux
      file.append(s"$objStmNum 0 obj\n<< /Type /ObjStm /N ${packed.length} /First ${hdr.length} " +
        s"/Length ${comp.length} /Filter /FlateDecode$parms >>\nstream\n")
      file.append(comp).append("\nendstream\nendobj\n")
    } else {
      file.append(s"1 0 obj\n$catalogDict\nendobj\n")
      file.append(s"2 0 obj\n$pagesDict\nendobj\n")
    }
    for (i <- 0 until nPages) {
      val (ops, enc, cid, _, form, _) = streams(i)
      if (!useObjStm)
        file.append(s"${3 + 2 * i} 0 obj\n${pageDict(i)}\nendobj\n")
      val (raw, filterClause) = encodeStream(ops, enc)
      file.append(s"${4 + 2 * i} 0 obj\n<< /Length ${raw.length}$filterClause")
      file.append(" >>\nstream\n").append(raw).append("\nendstream\nendobj\n")
      val (cidN, winN, formN) = alloc(i)
      for ((fNum, tuNum) <- cidN) {
        file.append(s"$fNum 0 obj\n<< /Type /Font /Subtype /Type0 /BaseFont /Synth-CID " +
          s"/Encoding /Identity-H /ToUnicode $tuNum 0 R >>\nendobj\n")
        val tu = cmapOf(cid)
        file.append(s"$tuNum 0 obj\n<< /Length ${tu.length} >>\nstream\n")
          .append(tu).append("\nendstream\nendobj\n")
      }
      for (fNum <- winN)
        file.append(s"$fNum 0 obj\n<< /Type /Font /Subtype /TrueType /BaseFont /Synth-Win " +
          "/Encoding /WinAnsiEncoding >>\nendobj\n")
      for (fmNum <- formN)
        file.append(s"$fmNum 0 obj\n<< /Type /XObject /Subtype /Form /Length ${form.length} >>\nstream\n")
          .append(form).append("\nendstream\nendobj\n")
    }
    if (r.nextInt(6) == 0) // junk the object scan must resync over
      file.append("xref\n0 6\n0000000000 65535 f \n0000000100 00000 n \n")
    if (useObjStm) {
      file.append(s"${nextAux + 1} 0 obj\n<< /Type /XRef /Root 1 0 R /Size ${nextAux + 2} " +
        "/Length 0 >>\nstream\nendstream\nendobj\nstartxref\n0\n")
    } else if (r.nextInt(8) != 0) // 1/8 of files drop the trailer: page-tree-less
      file.append(s"trailer\n<< /Size ${3 + 2 * nPages} /Root 1 0 R >>\n") // file-order fallback
    file.append("%%EOF\n")

    (file.toString.getBytes(StandardCharsets.ISO_8859_1),
      pageTexts.result().mkString(graft.pdf.PdfParser.PageBreak), spanCount)
  }

  def corpus(n: Int, from: Long = 0L): Iterator[Fixture] =
    Iterator.range(0, n).map(i => fixture(from + i))

  // ---- synthetic media payloads (multimodal column fixtures) ---------------

  /** Deterministic media payload for `mediaId`: rotates png/jpeg/wav/garbage.
    * Headers are structurally valid for our parsers (PNG IHDR, JPEG SOF0,
    * WAV fmt chunk); bodies are deterministic noise — the multimodal DECODE
    * stage is stubbed (see ops.Multimodal), the container metadata is real. */
  def media(mediaId: Long): Array[Byte] = {
    val r = new java.util.Random(Seed * 0x5DEECE66DL + mediaId * 0x9E3779B97F4A7C15L)
    val body = new Array[Byte](128 + r.nextInt(1024))
    r.nextBytes(body)
    (mediaId % 4) match {
      case 0 => pngBytes(16 + r.nextInt(2048), 16 + r.nextInt(2048), body)
      case 1 => jpegBytes(8 + r.nextInt(4000), 8 + r.nextInt(4000), body)
      case 2 => wavBytes(
        Array(8000, 16000, 22050, 44100, 48000).apply(r.nextInt(5)),
        1 + r.nextInt(2), body)
      case _ => body // unknown format: parser must degrade gracefully
    }
  }

  /** Arithmetic-parameterized media payload: every container-header field is
    * a pure integer function of `mediaId` (no PRNG), so a SQL oracle can
    * reconstruct the planted truth without parsing a byte — the
    * planted-truth-reconstruction witness pattern (d26/d28), extended to
    * the multimodal container parsers. Body is 64 zero bytes, so total
    * sizes are fixed per format (png 97 / jpeg 83 / wav 100). */
  def mediaWitness(mediaId: Long): Array[Byte] = {
    val body = new Array[Byte](64)
    (mediaId % 3) match {
      case 0 => pngBytes(
        (16 + (mediaId * 37) % 2048).toInt, (16 + (mediaId * 53) % 2048).toInt, body)
      case 1 => jpegBytes(
        (8 + (mediaId * 41) % 4000).toInt, (8 + (mediaId * 29) % 4000).toInt, body)
      case _ => wavBytes(
        Array(8000, 16000, 22050, 44100, 48000).apply(((mediaId * 31) % 5).toInt),
        (1 + mediaId % 2).toInt, body)
    }
  }

  // PNG signature + IHDR carrying w/h (CRC placeholder: parsers read fields)
  private def pngBytes(w: Int, h: Int, body: Array[Byte]): Array[Byte] = {
    val out = java.nio.ByteBuffer.allocate(33 + body.length)
    out.put(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    out.putInt(13).put("IHDR".getBytes).putInt(w).putInt(h)
      .put(8.toByte).put(2.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
    out.putInt(0)
    out.put(body)
    out.array()
  }

  // JPEG: SOI, APP0 skip-chunk, SOF0 with h/w
  private def jpegBytes(w: Int, h: Int, body: Array[Byte]): Array[Byte] = {
    val out = java.nio.ByteBuffer.allocate(2 + 4 + 4 + 9 + body.length)
    out.put(0xff.toByte).put(0xd8.toByte)
    out.put(0xff.toByte).put(0xe0.toByte).putShort(6.toShort).putShort(0.toShort).putShort(0.toShort)
    out.put(0xff.toByte).put(0xc0.toByte).putShort(9.toShort).put(8.toByte)
      .putShort(h.toShort).putShort(w.toShort)
    out.put(body)
    out.array()
  }

  // WAV: RIFF/WAVE + fmt chunk (PCM, channels, sampleRate)
  private def wavBytes(sr: Int, ch: Int, body: Array[Byte]): Array[Byte] = {
    val out = java.nio.ByteBuffer.allocate(36 + body.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes).putInt(28 + body.length).put("WAVE".getBytes)
    out.put("fmt ".getBytes).putInt(16).putShort(1.toShort).putShort(ch.toShort)
      .putInt(sr).putInt(sr * ch * 2).putShort((ch * 2).toShort).putShort(16.toShort)
    out.put(body)
    out.array()
  }
}

package graft

import graft.model.Page

/** Offline adversarial fuzz campaign over the per-row extraction contract —
  * a larger, mutation-richer complement to RealPdfSpec's in-suite 150-case
  * byte-flip test. Deterministic (fixed seed): every case must finish as
  * either extracted text or a clean error row (empty text), within a
  * per-row wall budget — the crawl contract under arbitrary damage.
  *
  * Two modes:
  *   - default: the `%PDF`-sniffed branch (seeds = real-PDF fixture rows,
  *     structural token injection from the PDF grammar);
  *   - `--html`: the tokenizer/charset branch (seeds = HTML fixture rows,
  *     token injection from the HTML/entity/charset grammar, BOM splices).
  *     HTML rows additionally assert the span contract: every span of an ok
  *     row must lie within the coordinate stream the `charset` column
  *     declares (normalized UTF-8 for transcoded pages, clamped wire bytes
  *     otherwise) with begin <= end.
  *
  * Mutations (composable, both modes): byte flips, truncation, window
  * duplication (incremental-update-like splices), grammar token injection,
  * window zeroing, and cross-document splices (a window from a DIFFERENT
  * fixture document — including the other branch's format — inserted at a
  * random cut: the WARC record-boundary corruption shape).
  *
  * Run: sbt "Test/runMain graft.FuzzCampaign 20000 [--html]"
  * Exits 1 on any contract violation. `FuzzSliceSpec` runs a seeded slice of
  * both modes through [[run]] in the test suite.
  */
object FuzzCampaign {

  private val PdfTokens = Array(
    " stream\n", "\nendstream", " obj ", " endobj\n", " BI ", " ID ", " EI ",
    "(", ")", "<<", ">>", "<", ">", "[", "]", " R ", " 0 R ",
    "/Filter /FlateDecode", "/Filter /LZWDecode", "/Predictor 12",
    "/Type /ObjStm", "/Type /XRef", "xref\n", "trailer\n", "%%EOF",
    " q ", " Q ", " Do ", " Tj ", " TJ ", " Tf ", " Tz ", " Tc ", " Tw ",
    " Tm ", " BT ", " ET ", "\\", "/Encrypt 9 0 R", "/Widths [500",
    "beginbfrange", "endbfrange", "/ToUnicode 8 0 R",
    // late re-decode / resync targets: indirect parms refs (resolvable or
    // dangling), predictor dicts, indirect FirstChar, junk obj anchors
    "/DecodeParms 9 0 R", "/DecodeParms << /Predictor 12 /Columns 16 >>",
    "/DecodeParms 99 0 R", "/FirstChar 9 0 R", " foo obj ",
    "9 0 obj\n<< /Predictor 12 /Columns 16 >>\nendobj\n")

  // BOM byte sequences ride along as ISO-8859-1 chars (one char = one byte)
  private val HtmlTokens = Array(
    "<script>", "</script>", "<style>", "</style>", "<!--", "-->",
    "<![CDATA[", "]]>", "<table><tr><td>", "</table>", "<td", "</tr>",
    "<div ", "</div>", "<p>", "</p>", "<a href=\"", "\">", "<br/>",
    "<meta charset=\"utf-16le\">", "<meta charset=\"utf-16be\">",
    "<meta charset=\"iso-8859-1\">", "<meta charset=\"utf-8\">",
    "<meta charset=\"x-bogus\">",
    "&#x41;", "&amp;", "&#", "&", ";",
    "\u00ff\u00fe", "\u00fe\u00ff", "\u00ef\u00bb\u00bf", "\u0000",
    "<svg>", "</svg>", "<template>", "</template>", "<h2>", "</h2>",
    "<nav>", "</footer>", "<li>", "<pre>", "</pre>", "=\"", "<", ">",
    "</", "/>", "<!doctype html>")

  /** One mutated copy of `base`: 1-3 composable ops. `keep` wire bytes at
    * the head are never flipped/zeroed/truncated away (the PDF magic).
    * `donors` feeds the crossover op (a window from a DIFFERENT document
    * spliced in — the WARC record-boundary corruption shape). */
  private def mutate(rnd: java.util.Random, base: Array[Byte],
                     tokens: Array[String], keep: Int,
                     donors: Array[Array[Byte]]): Array[Byte] = {
    var b = java.util.Arrays.copyOf(base, base.length)
    val nOps = 1 + rnd.nextInt(3)
    for (_ <- 0 until nOps) rnd.nextInt(6) match {
      case 0 => // flip 1..64 bytes after the protected prefix
        if (b.length > keep)
          for (_ <- 0 to rnd.nextInt(64))
            b(keep + rnd.nextInt(b.length - keep)) = rnd.nextInt(256).toByte
      case 1 => // truncate (keep the prefix plus at least one body byte)
        b = java.util.Arrays.copyOf(b, keep + 1 + rnd.nextInt(math.max(1, b.length - keep - 1)))
      case 2 => // duplicate a window and append (incremental-update-ish)
        val off = rnd.nextInt(math.max(1, b.length))
        val len = math.min(b.length - off, 1 + rnd.nextInt(4096))
        if (len > 0) {
          val out = java.util.Arrays.copyOf(b, b.length + len)
          System.arraycopy(b, off, out, b.length, len)
          b = out
        }
      case 3 => // inject a grammar token at a random offset
        val t = tokens(rnd.nextInt(tokens.length)).getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
        val at = math.min(b.length, keep + rnd.nextInt(math.max(1, b.length - keep)))
        val out = new Array[Byte](b.length + t.length)
        System.arraycopy(b, 0, out, 0, at)
        System.arraycopy(t, 0, out, at, t.length)
        System.arraycopy(b, at, out, at + t.length, b.length - at)
        b = out
      case 4 => // zero a window
        if (b.length > keep) {
          val off = keep + rnd.nextInt(b.length - keep)
          val len = math.min(b.length - off, 1 + rnd.nextInt(512))
          java.util.Arrays.fill(b, off, off + len, 0.toByte)
        }
      case _ => // crossover: splice a window from another document at a cut
        val d = donors(rnd.nextInt(donors.length))
        if (d.length > 0) {
          val doff = rnd.nextInt(d.length)
          val dlen = math.min(d.length - doff, 1 + rnd.nextInt(8192))
          val at = math.min(b.length, keep + rnd.nextInt(math.max(1, b.length - keep)))
          val out = new Array[Byte](at + dlen + (b.length - at))
          System.arraycopy(b, 0, out, 0, at)
          System.arraycopy(d, doff, out, at, dlen)
          System.arraycopy(b, at, out, at + dlen, b.length - at)
          b = out
        }
    }
    b
  }

  /** Byte length of the coordinate stream an HTML row's spans index — the
    * same decision Extractor makes (ExtractedPage.charset contract). */
  private def coordLen(mut: Array[Byte]): Long = {
    val clamped =
      if (mut.length > Extractor.MaxHtmlBytes)
        java.util.Arrays.copyOf(mut, Extractor.MaxHtmlBytes)
      else mut
    val (buf, _) = graft.html.Charset.normalize(clamped, graft.html.Charset.sniff(clamped))
    buf.length.toLong
  }

  def main(args: Array[String]): Unit = {
    val n = args.headOption.flatMap(_.toIntOption).getOrElse(5000)
    val (_, _, violations) = run(n, args.contains("--html"), args.contains("--trace"))
    if (violations > 0) sys.exit(1)
  }

  /** `n` seeded cases of one branch; prints each violation and a summary,
    * and returns (ok rows, error rows, violations). `trace` replays each
    * non-`PdfParseException` error row outside Extractor's catch and exits
    * with the first stack it gets. */
  def run(n: Int, htmlMode: Boolean, trace: Boolean = false): (Long, Long, Long) = {
    val budgetMs = 5000.0
    val rnd = new java.util.Random(20260818L)
    val seeds =
      if (htmlMode) // HTML fixture rows across all variant classes
        (0L until 2026L).iterator.map(graft.fixtures.FixtureGen.fixture(_).page.html)
          .filter(h => !graft.pdf.PdfParser.isPdf(h)).take(120).toArray
      else // the rowId % 50 == 26 half of the real-PDF fixture rows
        (26L until 2026L by 50L).map(graft.fixtures.FixtureGen.fixture(_).page.html).toArray
    val tokens = if (htmlMode) HtmlTokens else PdfTokens
    val keep = if (htmlMode) 0 else 4
    // crossover donors span BOTH branches: PDF fragments spliced into HTML
    // and vice versa are exactly what truncated WARC records produce
    val donors = seeds ++ (if (htmlMode)
      (26L until 526L by 50L).map(graft.fixtures.FixtureGen.fixture(_).page.html)
    else
      (0L until 10L).map(graft.fixtures.FixtureGen.fixture(_).page.html))
    val ts = new java.sql.Timestamp(0L)
    var ok = 0L; var err = 0L; var violations = 0L
    var maxMs = 0.0; var maxCase = -1
    val errClasses = scala.collection.mutable.HashMap.empty[String, Long]
    // distinct messages for classes other than the typed PdfParseException,
    // so a run self-documents which untyped throw sites fuzz reaches
    val rareMsgs = scala.collection.mutable.LinkedHashSet.empty[String]
    val t0 = System.nanoTime()
    for (k <- 0 until n) {
      val mut = mutate(rnd, seeds(k % seeds.length), tokens, keep, donors)
      val r0 = System.nanoTime()
      val got = Extractor.extract(Page(s"t://fuzzc$k", ts, mut, "", "en"))
      val ms = (System.nanoTime() - r0) / 1e6
      if (ms > maxMs) { maxMs = ms; maxCase = k }
      if (got.error.isEmpty) {
        ok += 1
        if (htmlMode && !got.isPdf) { // span contract on surviving rows
          val len = coordLen(mut)
          var i = 0
          while (i < got.spans.length) {
            val s = got.spans(i)
            if (s.beginByte < 0 || s.endByte < s.beginByte || s.endByte > len) {
              violations += 1
              println(s"VIOLATION case $k: span out of bounds [${s.beginByte},${s.endByte}) vs len=$len kind=${s.kind}")
              i = got.spans.length
            }
            i += 1
          }
        }
      } else {
        err += 1
        val cls = got.error.takeWhile(_ != ':')
        errClasses(cls) = errClasses.getOrElse(cls, 0L) + 1
        if (cls != "PdfParseException" && rareMsgs.size < 20) rareMsgs += got.error
        if (trace && cls != "PdfParseException") {
          // replay the failing row outside Extractor's catch for a stack
          try {
            if (graft.pdf.PdfParser.isPdf(mut)) graft.pdf.PdfParser.extract(mut)
            else {
              val (buf, c) = graft.html.Charset.normalize(mut, graft.html.Charset.sniff(mut))
              graft.html.BlockBuilder.build(buf, c)
            }
          } catch { case e: Throwable => e.printStackTrace(); sys.exit(2) }
        }
        if (got.text.nonEmpty) { violations += 1; println(s"VIOLATION case $k: error row with non-empty text") }
      }
      if (ms > budgetMs) { violations += 1; println(s"VIOLATION case $k: row took $ms ms") }
    }
    val secs = (System.nanoTime() - t0) / 1e9
    val mode = if (htmlMode) "html" else "pdf"
    println(f"mode=$mode cases=$n ok=$ok err=$err violations=$violations total=$secs%.1f s maxRowMs=$maxMs%.1f (case $maxCase)")
    for ((c, cnt) <- errClasses.toSeq.sortBy(-_._2)) println(f"  $cnt%7d  $c")
    for (m <- rareMsgs) println(s"  rare: $m")
    (ok, err, violations)
  }
}

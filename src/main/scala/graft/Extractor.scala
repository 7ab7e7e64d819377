package graft

import graft.model.{ExtractedPage, Page, Span}
import graft.html.{BlockBuilder, Charset}
import graft.score.Classifier
import graft.assemble.Assembler
import graft.pdf.PdfParser

/** Per-row extraction: the whole reference pipeline trace
  * (/root/reference/src/oarocr/structure.rs:2271-2468) as ONE pure function
  * of the page row — preprocess (charset) → detect (tokenize/blocks) →
  * score → recognize (text materialization) → stitch (render + spans).
  * Called from a single mapPartitions; nothing materializes between stages
  * (per-row locality is what makes linear scaling possible).
  *
  * Graceful degradation per the reference
  * (/root/reference/src/oarocr/ocr.rs:510-523): any per-row failure yields an
  * error row, never a task failure.
  */
object Extractor {

  /** Input-size guard, the analogue of the reference's max-side clamp
    * (/root/reference/src/core/constants.rs:17, 4000px): bytes beyond the cap
    * are ignored. For ASCII-transparent charsets spans still index the
    * original (clamped) wire bytes; UTF-16 pages are transcoded first and
    * their spans index the normalized UTF-8 stream — the per-row `charset`
    * column records which contract applies (see ExtractedPage.charset). */
  val MaxHtmlBytes: Int = 16 * 1024 * 1024

  /** Work cap for `%PDF`-sniffed payloads. Unlike HTML — byte-prefix-stable,
    * so clamping keeps a valid prefix — a PDF's page tree and xref live at
    * the END of the file: truncating would silently drop or REORDER pages
    * (orphan fallback is stream-order). An oversize PDF therefore becomes an
    * ERROR row (never silently-partial text), and parse cost is bounded
    * together with RealPdf.MaxResyncs. 4× the HTML cap: real crawled PDFs
    * (scanned/image-heavy) are routinely 20–50 MB where 16 MB of HTML is
    * already pathological, and RealPdf's scan cost is linear + resync-capped,
    * so the larger cap buys coverage without an adversarial-cost cliff. */
  val MaxPdfBytes: Int = 4 * MaxHtmlBytes

  /** Sniff + normalize for the byte-level pipeline: UTF-16 pages (BOM or
    * parity-confirmed) are transcoded to UTF-8; for those pages span offsets
    * index the normalized stream (the recorded charset decision makes wire
    * offsets recoverable — see Charset.normalize). The third element is the
    * decision label surfaced on ExtractedPage.charset: the wire charset name
    * lower-cased, with "->utf-8" appended when the page was transcoded. */
  private def pipelineInput(html: Array[Byte]): (Array[Byte], java.nio.charset.Charset, String) = {
    val dec = Charset.sniff(html)
    val (buf, cs) = Charset.normalize(html, dec)
    val label =
      if (!(buf eq html)) s"${dec.charset.name().toLowerCase}->utf-8"
      else if (cs eq dec.charset) cs.name().toLowerCase
      // declared UTF-16 failed the parity confirmation: bytes pass through
      else s"utf-8(mislabeled:${dec.charset.name().toLowerCase})"
    (buf, cs, label)
  }

  def extract(p: Page): ExtractedPage = {
    val raw = if (p.html == null) Array.emptyByteArray else p.html
    try {
      if (PdfParser.isPdf(raw)) {
        if (raw.length > MaxPdfBytes)
          throw new graft.pdf.RealPdf.PdfParseException(
            s"PDF payload ${raw.length} bytes exceeds MaxPdfBytes=$MaxPdfBytes")
        val (text, spans) = PdfParser.extract(raw)
        // charset="pdf" keeps the offset-contract column total: PDF span
        // offsets index the raw PDF bytes (or decoded streams, kind `_dec`)
        ExtractedPage(p.url, p.warc_ts, p.lang, text, spans,
          nBlocks = spans.length, nKept = spans.length,
          htmlBytes = raw.length.toLong, isPdf = true, error = "", charset = "pdf")
      } else {
        val clamped =
          if (raw.length > MaxHtmlBytes) java.util.Arrays.copyOf(raw, MaxHtmlBytes)
          else raw
        val (html, cs, csLabel) = pipelineInput(clamped)
        val raws = BlockBuilder.build(html, cs)
        val blocks = Classifier.classify(raws)
        val text = Assembler.render(blocks)
        val spans = Assembler.spans(raws, blocks)
        ExtractedPage(p.url, p.warc_ts, p.lang, text, spans,
          nBlocks = blocks.length, nKept = blocks.count(_.keep),
          htmlBytes = raw.length.toLong, isPdf = false, error = "",
          charset = csLabel)
      }
    } catch {
      case e: Throwable =>
        // isPdf reflects the SNIFF, not success: a failed 70MB PDF is still
        // a PDF row — hardcoding false would attribute every PDF failure to
        // the HTML pipeline in any isPdf-grouped error accounting
        ExtractedPage(p.url, p.warc_ts, p.lang, "", Array.empty[Span],
          nBlocks = 0, nKept = 0, htmlBytes = raw.length.toLong,
          isPdf = PdfParser.isPdf(raw), charset = "",
          error = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
    }
  }

  /** The shared prologue of the debug surfaces below: extract()'s
    * MaxHtmlBytes clamp (they must describe what production EMITS, and stay
    * bounded on oversized pages), the PDF sniff, charset normalization and
    * block building. `f` sees the raw blocks of a non-PDF page; PDFs and any
    * failure yield None. */
  private def debugHtml[A](p: Page)(f: Vector[BlockBuilder.RawBlock] => A): Option[A] = {
    val raw = if (p.html == null) Array.emptyByteArray else p.html
    try {
      if (PdfParser.isPdf(raw)) None
      else {
        val clamped =
          if (raw.length > MaxHtmlBytes) java.util.Arrays.copyOf(raw, MaxHtmlBytes)
          else raw
        val (html, cs, _) = pipelineInput(clamped)
        Some(f(BlockBuilder.build(html, cs)))
      }
    } catch { case _: Throwable => None }
  }

  /** Debug surface: classified blocks of a non-PDF page (empty for PDFs /
    * failures). Used by the driver-facing x03/x06 inventory queries. */
  def debugBlocks(p: Page): Vector[graft.model.Block] =
    debugHtml(p)(Classifier.classify(_)).getOrElse(Vector.empty)

  /** Alternate output renders (semantic HTML + JSON with span coordinates)
    * for a non-PDF page — the reference's to_html / to_json surfaces. */
  def renders(p: Page): Option[(String, String)] =
    debugHtml(p) { raws =>
      val blocks = Classifier.classify(raws)
      (Assembler.renderHtml(blocks), Assembler.renderJson(blocks, Assembler.spans(raws, blocks)))
    }

  /** Debug surface: captured data tables as (blockIdx, nCells, canonicalHtml). */
  def debugTables(p: Page): Vector[(Int, Int, String)] =
    debugHtml(p)(_.zipWithIndex.collect {
      case (b, i) if b.kind == "table" => (i, b.cellRuns.length, b.text)
    }).getOrElse(Vector.empty)
}

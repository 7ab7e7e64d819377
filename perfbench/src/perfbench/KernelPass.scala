package perfbench

import graft.Extractor
import graft.assemble.Assembler
import graft.html.{BlockBuilder, Charset}
import graft.model.{ExtractedPage, Page, Span => OutSpan}
import graft.pdf.{PdfParser, RealPdf}
import graft.score.Classifier

/** Single-thread pass over a workload's pages that times each layer of the
  * extraction kernel from outside, calling the layer functions in the same
  * order as `Extractor.extract`, and checks that the composition reproduces
  * `Extractor.extract`'s output exactly (text, spans, block counts and
  * charset label), so the decomposition cannot drift from production.
  *
  * Per page it records a root span `kernel.row` whose children are the
  * layers (`extractor.dispatch`, `charset`, `blockbuilder`, `classifier`,
  * `assembler.render`, `assembler.spans`, or `pdf.real` / `pdf.dialect`),
  * and a separate root span `extractor.extract` around the production call.
  * The two calls alternate order page by page so neither gets the other's
  * warm caches systematically. */
object KernelPass {

  /** Pages of at least this many bytes count as giant (FixtureGen's skew
    * tail is built to be at least this large). */
  val GiantBytes: Long = 2L * 1024 * 1024

  final class Stats {
    var htmlRows = 0L
    var realPdfRows = 0L
    var dialectPdfRows = 0L
    var bytes = 0L
    var giantBytes = 0L
    var giantExtractNs = 0L
    var normalizedBytes = 0L
    var blocks = 0L
    var kept = 0L
    var mismatches = 0L
    var firstMismatch = ""
  }

  private final case class Composed(text: String, spans: Array[OutSpan], nBlocks: Int, nKept: Int,
      charset: String, error: Boolean)

  /** `pages` are (row id, page); the row id is the trace id of its spans. */
  def run(pages: Iterator[(Long, Page)], tracer: Tracer): Stats = {
    val st = new Stats
    var i = 0L
    pages.foreach { case (id, p) =>
      val (composed, prod) =
        if (i % 2 == 0) { val c = layers(p, id, tracer, st); (c, timedExtract(p, id, tracer, st)) }
        else { val e = timedExtract(p, id, tracer, st); (layers(p, id, tracer, st), e) }
      if (!same(composed, prod)) {
        st.mismatches += 1
        if (st.firstMismatch.isEmpty) st.firstMismatch = p.url
      }
      i += 1
    }
    st
  }

  private def timedExtract(p: Page, trace: Long, tracer: Tracer, st: Stats): ExtractedPage = {
    val t0 = System.nanoTime()
    val e = Extractor.extract(p)
    val t1 = System.nanoTime()
    tracer.add(-1, trace, "extractor.extract", t0, t1)
    val n = if (p.html == null) 0L else p.html.length.toLong
    st.bytes += n
    if (n >= GiantBytes) { st.giantBytes += n; st.giantExtractNs += t1 - t0 }
    e
  }

  private def same(c: Composed, e: ExtractedPage): Boolean =
    c.error == e.error.nonEmpty && c.text == e.text && c.nBlocks == e.nBlocks &&
      c.nKept == e.nKept && c.charset == e.charset && c.spans.sameElements(e.spans)

  /** The layer-by-layer composition of `Extractor.extract` for one page. */
  private def layers(p: Page, trace: Long, tracer: Tracer, st: Stats): Composed = {
    val root = tracer.add(-1, trace, "kernel.row", 0L, 0L)
    val t0 = System.nanoTime()
    var last = t0
    def mark(name: String): Unit = {
      val t = System.nanoTime()
      tracer.add(root, trace, name, last, t)
      last = t
    }
    val out =
      try {
        val raw = if (p.html == null) Array.emptyByteArray else p.html
        val pdf = PdfParser.isPdf(raw)
        val real = pdf && RealPdf.isReal(raw)
        val clamped =
          if (!pdf && raw.length > Extractor.MaxHtmlBytes) java.util.Arrays.copyOf(raw, Extractor.MaxHtmlBytes)
          else raw
        mark("extractor.dispatch")
        if (pdf) {
          require(raw.length <= Extractor.MaxPdfBytes, "PDF payload exceeds MaxPdfBytes")
          val (text, spans) = PdfParser.extract(raw)
          if (real) { mark("pdf.real"); st.realPdfRows += 1 }
          else { mark("pdf.dialect"); st.dialectPdfRows += 1 }
          Composed(text, spans, spans.length, spans.length, "pdf", error = false)
        } else {
          val dec = Charset.sniff(clamped)
          val (buf, cs) = Charset.normalize(clamped, dec)
          // the decision label Extractor.extract puts on the row
          val label =
            if (!(buf eq clamped)) s"${dec.charset.name().toLowerCase}->utf-8"
            else if (cs eq dec.charset) cs.name().toLowerCase
            else s"utf-8(mislabeled:${dec.charset.name().toLowerCase})"
          mark("charset")
          val raws = BlockBuilder.build(buf, cs)
          mark("blockbuilder")
          val blocks = Classifier.classify(raws)
          mark("classifier")
          val text = Assembler.render(blocks)
          mark("assembler.render")
          val spans = Assembler.spans(raws, blocks)
          mark("assembler.spans")
          val kept = blocks.count(_.keep)
          st.htmlRows += 1
          st.normalizedBytes += buf.length
          st.blocks += blocks.length
          st.kept += kept
          Composed(text, spans, blocks.length, kept, label, error = false)
        }
      } catch {
        case _: Throwable => Composed("", Array.empty, 0, 0, "", error = true)
      }
    tracer.spans(root) = tracer.spans(root).copy(start = t0, end = last)
    out
  }

  /** Per-layer metrics of the pass, computed from its spans and counters. */
  def metrics(st: Stats, tracer: Tracer): Seq[(String, Double, String)] = {
    def per(total: Long, n: Long, scale: Double): Double = if (n == 0) 0.0 else total / scale / n
    val rowNs = tracer.durations("extractor.extract").sorted
    def pct(q: Double): Long =
      if (rowNs.isEmpty) 0L else rowNs(math.min(rowNs.length - 1, math.ceil(q * rowNs.length).toInt - 1).max(0))
    val kernelNs = rowNs.sum
    val layerNs = Seq("extractor.dispatch", "charset", "blockbuilder", "classifier", "assembler.render",
      "assembler.spans", "pdf.real", "pdf.dialect").map(tracer.total).sum
    Seq(
      ("charset.us_per_page", per(tracer.total("charset"), st.htmlRows, 1e3), "us"),
      ("blockbuilder.ns_per_byte", per(tracer.total("blockbuilder"), st.normalizedBytes, 1.0), "ns/B"),
      ("blockbuilder.blocks_per_page", per(st.blocks, st.htmlRows, 1.0), "count"),
      ("classifier.us_per_page", per(tracer.total("classifier"), st.htmlRows, 1e3), "us"),
      ("classifier.kept_ratio", per(st.kept, st.blocks, 1.0), "ratio"),
      ("assembler.render_us_per_page", per(tracer.total("assembler.render"), st.htmlRows, 1e3), "us"),
      ("assembler.spans_us_per_page", per(tracer.total("assembler.spans"), st.htmlRows, 1e3), "us"),
      ("pdf.real_us_per_page", per(tracer.total("pdf.real"), st.realPdfRows, 1e3), "us"),
      ("pdf.dialect_us_per_page", per(tracer.total("pdf.dialect"), st.dialectPdfRows, 1e3), "us"),
      ("extractor.row_p50_us", pct(0.50) / 1e3, "us"),
      ("extractor.row_p99_us", pct(0.99) / 1e3, "us"),
      ("extractor.row_max_ms", (if (rowNs.isEmpty) 0L else rowNs.last) / 1e6, "ms"),
      ("extractor.kernel_core_s", kernelNs / 1e9, "core-s"),
      ("extractor.giant_byte_share", per(st.giantBytes, st.bytes, 1.0), "ratio"),
      ("extractor.giant_time_share", per(st.giantExtractNs, kernelNs, 1.0), "ratio"),
      ("extractor.layer_sum_ratio", per(layerNs, kernelNs, 1.0), "ratio"))
  }
}

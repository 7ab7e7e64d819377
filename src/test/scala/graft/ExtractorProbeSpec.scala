package graft

import java.nio.charset.StandardCharsets.ISO_8859_1
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import graft.model.Page
import graft.spark.ExtractJob

/** The 15 adversarial probe rows: empty, null html, garbage bytes, a
  * truncated non-PDF-1.x `%PDF` payload, html-less text, deep nesting, only
  * boilerplate, and seven real-PDF rows that must each degrade cleanly.
  *
  * Row-by-row contract (the honest-degradation contract):
  *   - exactly 8 ERROR rows, each a `PdfParseException`: `pdf-truncated`,
  *     `pdf-empty`, `realpdf-truncated`, `realpdf-no-text`,
  *     `realpdf-cid-no-tounicode`, `realpdf-encrypted`, `realpdf-oversize`,
  *     `realpdf-pathological` — every `%PDF`-sniffed payload goes to the
  *     real-PDF parser, and an unparseable or undecodable PDF is an error
  *     row, never silent empty or mojibake text;
  *   - the other 7 rows have `error == ""`;
  *   - every row finishes within `RowWallBoundMs`;
  *   - a throw that kills a task (rather than an error row) is a bug either
  *     way: the 14 rows other than the 64 MB `realpdf-oversize` also run once
  *     through `ExtractJob.run`, which must finish with the same error
  *     verdicts and no task failure.
  */
class ExtractorProbeSpec extends AnyFunSuite {

  private val ts = new java.sql.Timestamp(0L)
  private def page(name: String, bytes: Array[Byte]) = Page(s"probe://$name", ts, bytes, "", "en")

  /** Generous against the slowest row's cold-JIT time, so only a runaway
    * (quadratic scan, resync loop) trips it. */
  private val RowWallBoundMs = 10000L

  private val ErrorRows = Set("pdf-truncated", "pdf-empty", "realpdf-truncated", "realpdf-no-text",
    "realpdf-cid-no-tounicode", "realpdf-encrypted", "realpdf-oversize", "realpdf-pathological")

  private val probes: Seq[Page] = Seq(
    page("empty", Array.emptyByteArray),
    page("null", null),
    page("garbage", Array.tabulate(4096)(i => (i * 31 % 251).toByte)),
    page("pdf-truncated", "%PDF-GRAFT 1\nP 600".getBytes),
    page("pdf-empty", "%PDF".getBytes),
    // real-PDF adversarial rows: all must be ERROR rows, never silent
    // empty text
    page("realpdf-truncated", "%PDF-1.4\n1 0 obj\n<< /Type /Cat".getBytes),
    page("realpdf-no-text",
      ("%PDF-1.4\n1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n" +
        "2 0 obj\n<< /Type /Pages /Count 1 /Kids [3 0 R] >>\nendobj\n" +
        "3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n" +
        "4 0 obj\n<< /Length 20 /Filter /DCTDecode >>\nstream\nÿØimagebytesimage\nendstream\nendobj\n" +
        "trailer\n<< /Root 1 0 R >>\n%%EOF\n").getBytes(ISO_8859_1)),
    // Type0/CID font without /ToUnicode: glyph indices are undecodable —
    // must be an ERROR row, never silently-wrong mojibake text
    page("realpdf-cid-no-tounicode",
      ("%PDF-1.4\n1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n" +
        "2 0 obj\n<< /Type /Pages /Count 1 /Kids [3 0 R] >>\nendobj\n" +
        "3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>\nendobj\n" +
        "4 0 obj\n<< /Length 52 >>\nstream\nBT /F1 12 Tf 1 0 0 1 50 700 Tm <00480069> Tj ET\nendstream\nendobj\n" +
        "5 0 obj\n<< /Type /Font /Subtype /Type0 /Encoding /Identity-H >>\nendobj\n" +
        "trailer\n<< /Root 1 0 R >>\n%%EOF\n").getBytes(ISO_8859_1)),
    // /Encrypt, oversize payload, adversarial resync bytes — all must be
    // clean ERROR rows within bounded time
    page("realpdf-encrypted",
      ("%PDF-1.4\n1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n" +
        "2 0 obj\n<< /Type /Pages /Count 1 /Kids [3 0 R] >>\nendobj\n" +
        "3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n" +
        "4 0 obj\n<< /Length 10 >>\nstream\nciphertext\nendstream\nendobj\n" +
        "trailer\n<< /Root 1 0 R /Encrypt 9 0 R >>\n%%EOF\n").getBytes(ISO_8859_1)),
    // cap+1 payload: a real ~64 MB allocation, because the cap check is
    // length-based and must be hit end-to-end
    page("realpdf-oversize", {
      val b = new Array[Byte](Extractor.MaxPdfBytes + 1)
      System.arraycopy("%PDF-1.4\n".getBytes, 0, b, 0, 9)
      b
    }),
    page("realpdf-pathological", {
      val sb = new java.lang.StringBuilder("%PDF-1.4\n")
      for (_ <- 0 until 5000) sb.append("1 0 obj (").append("x" * 100).append("\n")
      sb.toString.getBytes(ISO_8859_1)
    }),
    page("boilerplate-only", "<nav><a href='/'>x</a></nav><footer>y</footer>".getBytes),
    page("deep-nesting",
      ("<div>" * 5000 + "<p>deep nested content words here</p>" + "</div>" * 5000).getBytes),
    page("tag-soup",
      "<p><table border=1><tr><td>a</p></div><td>b<tr></table></b><p>tail words appear here fine</p>".getBytes),
    page("huge-tag", ("<p " + "x" * 100000 + ">words in a giant tag here</p>").getBytes)
  )

  private def nameOf(url: String) = url.stripPrefix("probe://")

  for (p <- probes) test(p.url) {
    val t0 = System.nanoTime()
    val out = Extractor.extract(p)
    val ms = (System.nanoTime() - t0) / 1000000
    assert(out.url == p.url)
    if (ErrorRows(nameOf(p.url))) assert(out.error.contains("PdfParseException"), out.error)
    else assert(out.error == "", out.error)
    assert(ms <= RowWallBoundMs, s"${p.url} took $ms ms")
  }

  test("ExtractJob.run over the probe rows: same verdicts, no task failure") {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-probe-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val rows = probes.filterNot(_.url == "probe://realpdf-oversize")
    // local[N] runs each task once: a row that threw would fail the job
    val errs = ExtractJob.run(spark.createDataset(rows))
      .collect().map(r => nameOf(r.url) -> r.error).toMap
    assert(errs.keySet == rows.map(p => nameOf(p.url)).toSet)
    for ((name, err) <- errs)
      if (ErrorRows(name)) assert(err.contains("PdfParseException"), s"$name: $err")
      else assert(err == "", s"$name: $err")
  }
}

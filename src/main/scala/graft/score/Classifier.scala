package graft.score

import graft.html.BlockBuilder.RawBlock
import graft.model.Block

/** Block-level boilerplate classifier — the correctness-critical scoring
  * kernel, analogue of the reference's box scoring + thresholding
  * (/root/reference/src/processors/db_score.rs:35-145 with
  *  box_thresh/unclip gates /root/reference/src/processors/db_postprocess.rs:67-88).
  *
  * Boilerpipe/Readability-style: text density + link density + structural
  * drop signals (computed upstream by the DOM walk). Thresholds are the
  * "config profile" — fixed constants here, switchable per page class later
  * (the reference's seal-vs-text profile switch,
  * /root/reference/src/oarocr/ocr.rs:264-301).
  */
object Classifier {

  /** Threshold profile — the reference switches detection defaults per
    * content class (text vs seal, /root/reference/src/oarocr/ocr.rs:264-301);
    * our analogue switches the boilerplate gates per page class. */
  final case class Profile(
      maxLinkDensity: Double,
      minContentWords: Int,
      titleMaxLinkDensity: Double)

  /** Default: long-form article extraction (boilerpipe's canonical gates). */
  val Article: Profile = Profile(0.33, 3, 0.5)

  /** Listings/forums: link-heavy snippets ARE the content — permissive link
    * gate, shorter minimum. */
  val Listing: Profile = Profile(0.75, 1, 0.9)

  /** line width used for the text-density line-equivalent */
  val LineWidth = 80.0

  /** minimum visible chars for the duplicate-content pass: short repeats
    * (list bullets, one-word cells) are legitimate */
  val DupMinChars = 40

  def classify(raw: Vector[RawBlock], profile: Profile = Article): Vector[Block] = {
    val scored = classifyScores(raw, profile)
    // overlap-removal analogue (/root/reference/src/domain/structure.rs:1013-1046
    // via SURVEY §2.6): the same long text appearing twice in the tree
    // (duplicated desktop/mobile markup, reflowed clones) keeps only its
    // first occurrence. Tables are exempt (cell spans are positional).
    val seen = scala.collection.mutable.HashSet.empty[String]
    scored.map { b =>
      if (b.keep && b.kind != "table" && b.chars >= DupMinChars && !seen.add(b.text))
        b.copy(keep = false)
      else b
    }
  }

  private def classifyScores(raw: Vector[RawBlock], profile: Profile): Vector[Block] =
    raw.zipWithIndex.map { case (b, i) =>
      val linkDensity =
        if (b.chars == 0) 0.0 else b.anchorChars.toDouble / b.chars
      val lines = math.max(1.0, math.ceil(b.chars / LineWidth))
      val textDensity = b.chars / lines
      val words = countWords(b.text)
      val keep =
        if (b.dropped) false
        else if (b.chars == 0) false
        else b.kind match {
          case "table" => true // data tables kept verbatim (canonical HTML)
          case "preformatted" => linkDensity <= profile.maxLinkDensity // code/pre kept raw
          case "title" => b.chars >= 2 && linkDensity < profile.titleMaxLinkDensity
          case "figure" | "formula" => true // harvested alt/math text IS content; no length gate
          case "caption" => linkDensity <= profile.maxLinkDensity // captions are short by nature: no word minimum
          case _       => linkDensity <= profile.maxLinkDensity && words >= profile.minContentWords
        }
      Block(
        idx = i, tag = b.tag, path = b.tag, kind = b.kind, level = b.level,
        chars = b.chars, anchorChars = b.anchorChars,
        textDensity = textDensity, linkDensity = linkDensity,
        keep = keep, text = b.text)
    }

  /** Word count: whitespace-delimited runs; each CJK codepoint counts as one
    * word (the reference's CJK-aware segmentation,
    * /root/reference/src/oarocr/ocr.rs:988-995). */
  def countWords(s: String): Int = {
    var n = 0
    var inWord = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (isCjk(c)) { n += 1; inWord = false }
      else if (Character.isWhitespace(c)) inWord = false
      else if (!inWord) { n += 1; inWord = true }
      i += 1
    }
    n
  }

  /** CJK ranges per the reference (/root/reference/src/oarocr/ocr.rs:988-995). */
  @inline def isCjk(c: Char): Boolean =
    (c >= 0x4E00 && c <= 0x9FFF) || (c >= 0x3400 && c <= 0x4DBF) ||
    (c >= 0xF900 && c <= 0xFAFF) || (c >= 0x3040 && c <= 0x30FF) ||
    (c >= 0xAC00 && c <= 0xD7AF)
}

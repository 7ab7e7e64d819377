package graft.html

import java.nio.charset.{Charset => JCharset, StandardCharsets}

/** Charset sniff + decode — the "orient" stage. Analogue of the reference's
  * document-orientation classify+correct
  * (/root/reference/src/oarocr/preprocess.rs:58-143): a cheap per-row
  * classifier whose decision is recorded so downstream offsets can be mapped
  * back to the raw input space.
  */
object Charset {

  final case class Decision(charset: JCharset, declared: Boolean)

  private val win1252 = JCharset.forName("windows-1252")

  /** Sniff the charset from a BOM (UTF-8 / UTF-16LE / UTF-16BE), the
    * byte-parity profile of BOM-less UTF-16, or a `<meta charset=...>` /
    * `<meta http-equiv content="...charset=...">` declaration in the first
    * `limit` bytes; default UTF-8 (the modern-web default). The full BOM
    * family matters the way the reference's orientation classifier covers
    * all four rotations (preprocess.rs:58-94) — missing one silently yields
    * mojibake, not an error.
    */
  def sniff(html: Array[Byte], limit: Int = 2048): Decision = {
    if (html.length >= 3 && (html(0) & 0xff) == 0xef &&
        (html(1) & 0xff) == 0xbb && (html(2) & 0xff) == 0xbf)
      return Decision(StandardCharsets.UTF_8, declared = true)
    if (html.length >= 2 && (html(0) & 0xff) == 0xff && (html(1) & 0xff) == 0xfe)
      return Decision(StandardCharsets.UTF_16LE, declared = true)
    if (html.length >= 2 && (html(0) & 0xff) == 0xfe && (html(1) & 0xff) == 0xff)
      return Decision(StandardCharsets.UTF_16BE, declared = true)
    val n = math.min(html.length, limit)
    utf16Parity(html, limit) match {
      case Some(cs) => return Decision(cs, declared = false)
      case None     =>
    }
    val at = metaCharsetAt(html, n)
    if (at >= 0) {
      var s = at
      while (s < n && { val c = lower(html(s)); c == '"' || c == '\'' || c == ' ' }) s += 1
      var e = s
      while (e < n && { val c = lower(html(e)); c.isLetterOrDigit || c == '-' || c == '_' }) e += 1
      val name = new String(html, s, e - s, StandardCharsets.ISO_8859_1).toLowerCase(java.util.Locale.ROOT)
      val cs = name match {
        case "utf-8" | "utf8"                       => StandardCharsets.UTF_8
        case "windows-1252" | "cp1252" | "iso-8859-1" => win1252
        case "us-ascii" | "ascii"                   => StandardCharsets.US_ASCII
        case other =>
          try JCharset.forName(other) catch { case _: Exception => StandardCharsets.UTF_8 }
      }
      Decision(cs, declared = true)
    } else Decision(StandardCharsets.UTF_8, declared = false)
  }

  /** ASCII-lowercased byte; safe for both candidate charsets of the prefix. */
  private def lower(b: Byte): Char = (if (b >= 'A' && b <= 'Z') b + 32 else b & 0xff).toChar

  /** Case-insensitive ASCII match of `lit` (lower case) at `html[i]`, within `n`. */
  private def matchesAt(html: Array[Byte], n: Int, i: Int, lit: String): Boolean =
    i + lit.length <= n && {
      var k = 0
      while (k < lit.length && lower(html(i + k)) == lit.charAt(k)) k += 1
      k == lit.length
    }

  /** The HTML meta prescan over `html[0, n)`, in one pass: the index just
    * past the first `charset=` inside a `<meta ...>` tag, or -1. Only a meta
    * tag declares — a URL query string or code sample elsewhere in the
    * prefix (`<a href="/x?charset=big5">`) must not hijack the decoding.
    * `<!-- -->` comments are skipped, so a commented-out meta declares
    * nothing, and every tag ends at its first `>` outside a quoted attribute
    * value, so a `>` in an earlier value (`content="x>y; charset=..."`)
    * neither ends a meta early nor opens a fake tag. A tag with no end in
    * the prefix runs to `n`. */
  private def metaCharsetAt(html: Array[Byte], n: Int): Int = {
    var i = 0
    while (i < n) {
      if (html(i) != '<') i += 1
      else if (matchesAt(html, n, i, "<!--")) {
        i += 4
        while (i < n && !matchesAt(html, n, i, "-->")) i += 1
        i += 3
      } else if (i + 1 < n && lower(html(i + 1)) >= 'a' && lower(html(i + 1)) <= 'z') {
        val isMeta = matchesAt(html, n, i, "<meta") && i + 5 < n &&
          (Character.isWhitespace(lower(html(i + 5))) || html(i + 5) == '/')
        var j = i + 1
        var quote = 0 // the open quote byte, 0 outside a quoted value
        var prev = 0 // last non-space byte: a quote opens a value only after '='
        while (j < n && (quote != 0 || html(j) != '>')) {
          val c = html(j)
          if (quote != 0) { if (c == quote) quote = 0 }
          else if ((c == '"' || c == '\'') && prev == '=') quote = c
          if (isMeta && matchesAt(html, n, j, "charset=")) return j + 8
          if (!Character.isWhitespace(lower(c))) prev = c
          j += 1
        }
        i = j + 1
      } else i += 1
    }
    -1
  }

  /** Decode bytes [from, until) with `cs`; malformed sequences are replaced,
    * never thrown (graceful degradation). */
  def decode(html: Array[Byte], from: Int, until: Int, cs: JCharset): String =
    new String(html, from, until - from, cs)

  /** Charsets whose bytes < 0x80 ARE ASCII (safe for byte-level fast paths).
    * Conservative allowlist — UTF-16/EBCDIC and friends are not. */
  def asciiTransparent(cs: JCharset): Boolean =
    (cs eq StandardCharsets.UTF_8) || (cs eq StandardCharsets.US_ASCII) ||
      (cs eq win1252) || cs.name() == "windows-1252" || cs.name() == "ISO-8859-1"

  /** Byte-parity profile of BOM-less UTF-16 over the first `limit` bytes: an
    * HTML prefix is ASCII-dominated, so one byte parity is mostly NUL.
    * Requires a strong signal (>=20% zeros, >=90% on one parity, >=32 bytes)
    * so binary payloads don't false-positive. Returns the detected
    * endianness, or None when the bytes don't profile as UTF-16 at all. */
  def utf16Parity(html: Array[Byte], limit: Int = 2048): Option[JCharset] = {
    val n = math.min(html.length, limit)
    if (n < 32) return None
    var zEven = 0; var zOdd = 0
    var i = 0
    while (i < n) {
      if (html(i) == 0) { if ((i & 1) == 0) zEven += 1 else zOdd += 1 }
      i += 1
    }
    val z = zEven + zOdd
    if (z * 5 >= n) {
      if (zOdd * 10 >= z * 9) return Some(StandardCharsets.UTF_16LE)
      if (zEven * 10 >= z * 9) return Some(StandardCharsets.UTF_16BE)
    }
    None
  }

  def isUtf16(cs: JCharset): Boolean =
    (cs eq StandardCharsets.UTF_16LE) || (cs eq StandardCharsets.UTF_16BE) ||
      (cs eq StandardCharsets.UTF_16) || cs.name().toLowerCase.startsWith("utf-16")

  /** Normalize a sniffed document for the byte-level pipeline: UTF-16 input
    * is transcoded to UTF-8 (BOM stripped, malformed units replaced); ASCII-
    * transparent charsets pass through untouched. Returns the pipeline bytes
    * and the charset to decode runs with.
    *
    * Coordinate contract (mirrors the reference recording its orientation
    * decision so boxes map back, preprocess.rs:96-143): for transcoded pages
    * span byte offsets index the UTF-8 NORMALIZED stream, not the wire
    * bytes; the recorded Decision (charset + BOM) makes the wire offset
    * recoverable as 2·(UTF-16 units of the decoded prefix) + BOM length.
    *
    * Defensive gate: a UTF-16 decision that is NOT backed by a BOM must be
    * re-confirmed by the byte-parity profile before transcoding. Real-world
    * pages mislabel (`<meta charset=utf-16>` over UTF-8/ASCII bytes — the
    * meta tag being byte-scannable at all proves the bytes aren't UTF-16);
    * transcoding such a page byte-pair-wise destroys the whole document
    * structure, so we fall back to passing the bytes through as UTF-8. */
  def normalize(html: Array[Byte], dec: Decision): (Array[Byte], JCharset) =
    if (!isUtf16(dec.charset)) (html, dec.charset)
    else {
      val bom =
        if (html.length >= 2 &&
          (((html(0) & 0xff) == 0xff && (html(1) & 0xff) == 0xfe) ||
           ((html(0) & 0xff) == 0xfe && (html(1) & 0xff) == 0xff))) 2
        else 0
      val cs =
        if (bom > 0) {
          if ((html(0) & 0xff) == 0xff) StandardCharsets.UTF_16LE
          else StandardCharsets.UTF_16BE
        } else utf16Parity(html) match {
          case Some(parityCs) => parityCs // confirmed (and endianness fixed)
          case None           => return (html, StandardCharsets.UTF_8) // mislabeled
        }
      val s = new String(html, bom, html.length - bom, cs)
      (s.getBytes(StandardCharsets.UTF_8), StandardCharsets.UTF_8)
    }
}

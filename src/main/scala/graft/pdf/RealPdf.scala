package graft.pdf

import graft.geom.Box
import graft.pdf.PdfParser.{PdfPage, TableSpec, TextBox, TitleBox}

/** From-scratch reader for real `%PDF-1.x` byte streams — the genuine-bytes
  * analogue of the reference's PDFium load-and-render front end
  * (/root/reference/src/bin/server/pdf.rs:69-152: load_pdf_from_byte_slice,
  * error on unparseable input, page-by-page render). We cannot raster+OCR in
  * this container, but uncompressed (and FlateDecode) text objects carry the
  * layout the reference recovers visually, so this parser recovers it
  * symbolically and feeds the downstream layout pipeline (region grouping,
  * enhanced ordering, smart join) in `PdfParser` through its page model.
  *
  * Scope (documented, honest):
  *  - xref-less object scan with resync (tolerates truncated/patched files);
  *    PDF 1.5+ /ObjStm object streams are unpacked into the pool, and
  *    xref-stream files (no `trailer` keyword) anchor at the /Type /XRef
  *    dict or any /Type /Catalog object. Page order from the /Root ->
  *    /Pages -> /Kids walk, falling back to file order of /Type /Page
  *    objects (last definition wins on incremental updates), then to orphan
  *    BT-bearing streams.
  *  - stream filters: FlateDecode, LZWDecode (variable-width 9..12-bit
  *    codes, /EarlyChange honored), ASCIIHexDecode, ASCII85Decode,
  *    RunLengthDecode, alone or
  *    chained, plus /DecodeParms predictors (TIFF 2 at 8 bpc, PNG 10..15 —
  *    the Flate+Predictor-12 xref/ObjStm norm) on Flate/LZW stages — single
  *    dict or per-filter parms arrays with null placeholders; other filters,
  *    unsupported predictor shapes, and unresolvable-indirect
  *    DecodeParms are skipped as metadata-only (never silently mis-decoded).
  *  - /Encrypt files error cleanly ("encrypted PDF") before any stream
  *    decode — never ciphertext-as-text.
  *  - text operators BT/ET, Tf, Td, TD, Tm, TL, T*, Tj, ', ", TJ (kerning
  *    applied under real width metrics); the CTM (cm, q/Q) is tracked and
  *    applied to positions/sizes/rects, so translated/scaled (and
  *    positionally, rotated) content places correctly; boxes stay
  *    axis-aligned (the reference rasterizes, so it has no such limit).
  *    /Subtype /Form XObjects execute via `Do` under /Matrix × CTM with
  *    their own (or inherited) resources, depth-capped. MediaBox origins
  *    and the /Rotate page attribute fold into the initial CTM — the
  *    orientation-correction analogue (preprocess.rs:101-143) — so rotated
  *    or origin-shifted pages read upright.
  *  - fonts: the page's /Resources /Font dict is resolved; strings shown in
  *    a font with a /ToUnicode CMap decode through its bfchar/bfrange
  *    mappings (1- or 2-byte codes). A Type0/CID font WITHOUT a parseable
  *    ToUnicode throws -> ERROR row (never silent mojibake); a SIMPLE font
  *    with a partial CMap falls back per-code to the default decode. Other
  *    strings decode as Latin-1 (or UTF-16BE with a FE FF BOM). Width
  *    metrics: /FirstChar+/Widths (simple) and /W+/DW (CID descendants) give
  *    per-code advances; fonts declaring none are estimated at
  *    [[AvgGlyphWidthEm]] em per glyph — layout decisions downstream use
  *    coarse thresholds, so the estimate suffices for region/line recovery.
  *  - an unparseable PDF (no objects / no pages / no text operators) throws
  *    [[PdfParseException]] -> the extraction becomes an ERROR ROW, never a
  *    silent empty text (graceful-degradation contract, ocr.rs:510-523).
  *
  * Spans: for uncompressed content streams every emitted box carries the
  * exact file byte range of its string literal's content (escapes included,
  * delimiters excluded), keeping the raw-byte offset discipline; boxes from
  * compressed/encoded streams carry DECODED-space offsets — the byte range
  * of the literal inside the concatenation of the page's decoded content
  * streams — flagged via span kind `pdf_fragment_dec`
  * (mirroring the `charset` column's coordinate-space contract for
  * transcoded HTML; re-decoding the streams and slicing reproduces the
  * literal's content bytes, asserted in RealPdfSpec).
  */
object RealPdf {

  final class PdfParseException(msg: String) extends RuntimeException(msg)

  /** Estimated advance per glyph, in em (no font program is parsed). */
  val AvgGlyphWidthEm = 0.5

  /** Baseline-to-top ascent fraction used to place the box in y. */
  val AscentEm = 0.8

  /** Font-size multiple of the page's median body size that makes a run a
    * title, and the multiple that promotes it to level 1. */
  val TitleSizeRatio = 1.5
  val DocTitleSizeRatio = 2.0

  /** Ruling-line table detection: a painted `re` rectangle whose thin side is
    * at most this many points is a ruling line (table grids are drawn as
    * hairline rects in real PDFs), provided its long side reaches
    * [[RulingMinLen]]. Distinct ruling coordinates closer than
    * [[RulingCoordTol]] merge into one grid line. */
  val RulingMaxThickness = 2.0
  val RulingMinLen = 8.0
  val RulingCoordTol = 1.5

  /** Clustering is pairwise (O(n²)); a crawled page drawing more hairlines
    * than this is not a table — skip detection rather than burn CPU (the
    * per-row tensor-guard discipline, constants.rs max-side analogue). */
  val MaxRulings = 512

  /** Every `%PDF`-sniffed payload is handed to this parser, which errors
    * honestly if it cannot read it. Kept as a one-line delegate because
    * perfbench's `KernelPass` calls it and the benchmark's sources are not
    * edited together with the engine. */
  def isReal(bytes: Array[Byte]): Boolean = PdfParser.isPdf(bytes)

  // ---- object model --------------------------------------------------------

  private[pdf] sealed trait PVal
  private[pdf] final case class PNum(v: Double) extends PVal
  private[pdf] final case class PName(v: String) extends PVal
  /** String literal/hex: default-decoded text + file byte range of the raw
    * content + the raw (unescaped) bytes, kept so a font's /ToUnicode CMap
    * can re-decode the code units at show time. */
  private[pdf] final case class PStr(s: String, b: Int, e: Int, raw: Array[Byte]) extends PVal
  private[pdf] final case class PRef(num: Int) extends PVal
  private[pdf] final case class PArr(vs: Vector[PVal]) extends PVal
  private[pdf] final case class PDict(m: Map[String, PVal]) extends PVal
  private[pdf] case object PNull extends PVal
  private[pdf] final case class PBool(v: Boolean) extends PVal

  /** One indirect object. `data` is the stream content (inflated when the
    * filter was FlateDecode, null when absent or an unsupported filter);
    * rawStart/rawEnd bound the raw stream bytes in the file; `exact` means
    * `data` IS the file slice, so content offsets map to file offsets.
    * `value` keeps a non-dict object body (e.g. an indirect /Widths array)
    * so refs to scalar/array objects can be dereferenced; PNull for dicts. */
  private[pdf] final case class PObj(num: Int, dict: Map[String, PVal],
      data: Array[Byte], rawStart: Int, rawEnd: Int, exact: Boolean,
      value: PVal = PNull)

  // ---- lexer ---------------------------------------------------------------

  @inline private def isWs(c: Int): Boolean =
    c == ' ' || c == '\n' || c == '\r' || c == '\t' || c == 0 || c == '\f'
  @inline private def isDelim(c: Int): Boolean =
    c == '(' || c == ')' || c == '<' || c == '>' || c == '[' || c == ']' ||
      c == '{' || c == '}' || c == '/' || c == '%'

  /** Pull lexer over a byte range. Throws PdfParseException on malformed
    * syntax — callers either resync (object scan) or fail the page. */
  private[pdf] final class Lexer(val b: Array[Byte], var pos: Int, val end: Int) {
    def skipWs(): Unit = {
      var go = true
      while (go) {
        while (pos < end && isWs(b(pos))) pos += 1
        if (pos < end && b(pos) == '%') { // comment to EOL
          while (pos < end && b(pos) != '\n' && b(pos) != '\r') pos += 1
        } else go = false
      }
    }
    def atEnd: Boolean = { skipWs(); pos >= end }
    private def fail(msg: String): Nothing =
      throw new PdfParseException(s"$msg at byte $pos")

    /** Next token: Left(value) for operands, Right(op) for operator words. */
    def nextToken(): Either[PVal, String] = {
      skipWs()
      if (pos >= end) fail("unexpected end of input")
      val c = b(pos) & 0xFF
      c match {
        case '<' =>
          if (pos + 1 < end && b(pos + 1) == '<') Left(parseDict())
          else Left(parseHexString())
        case '[' => Left(parseArray())
        case '/' => Left(parseName())
        case '(' => Left(parseLiteralString())
        case _ if c == '+' || c == '-' || c == '.' || (c >= '0' && c <= '9') =>
          Left(parseNumberOrRef())
        case _ if !isDelim(c) =>
          val s = pos
          while (pos < end && !isWs(b(pos)) && !isDelim(b(pos))) pos += 1
          val w = new String(b, s, pos - s, java.nio.charset.StandardCharsets.US_ASCII)
          w match {
            case "true"  => Left(PBool(true))
            case "false" => Left(PBool(false))
            case "null"  => Left(PNull)
            case _       => Right(w)
          }
        case _ => fail(s"unexpected delimiter '${c.toChar}'")
      }
    }

    def parseValue(): PVal = nextToken() match {
      case Left(v)   => v
      case Right(op) => fail(s"expected value, found operator '$op'")
    }

    private def parseName(): PName = {
      pos += 1 // '/'
      val s = pos
      while (pos < end && !isWs(b(pos)) && !isDelim(b(pos))) pos += 1
      PName(new String(b, s, pos - s, java.nio.charset.StandardCharsets.US_ASCII))
    }

    private def parseNumberOrRef(): PVal = {
      val save = pos
      val n1 = parseNumber()
      if (n1.v == math.floor(n1.v) && n1.v >= 0) {
        val afterFirst = pos
        skipWs()
        if (pos < end && b(pos) >= '0' && b(pos) <= '9') {
          parseNumber() // generation
          skipWs()
          if (pos < end && b(pos) == 'R' &&
            (pos + 1 >= end || isWs(b(pos + 1)) || isDelim(b(pos + 1)))) {
            pos += 1
            return PRef(n1.v.toInt)
          }
        }
        pos = afterFirst
        if (save == afterFirst) fail("number did not advance") // paranoia
      }
      n1
    }

    private def parseNumber(): PNum = {
      val s = pos
      if (pos < end && (b(pos) == '+' || b(pos) == '-')) pos += 1
      while (pos < end && ((b(pos) >= '0' && b(pos) <= '9') || b(pos) == '.')) pos += 1
      if (pos == s) fail("expected number")
      val str = new String(b, s, pos - s, java.nio.charset.StandardCharsets.US_ASCII)
      str.toDoubleOption match {
        case Some(v) => PNum(v)
        case None    => fail(s"bad number '$str'")
      }
    }

    private def parseDict(): PDict = {
      pos += 2 // '<<'
      val m = Map.newBuilder[String, PVal]
      var guard = 0
      while ({ skipWs(); !(pos + 1 < end && b(pos) == '>' && b(pos + 1) == '>') }) {
        if (pos >= end || guard > 4096) fail("unterminated dictionary")
        guard += 1
        val k = parseValue() match {
          case PName(n) => n
          case other    => fail(s"dict key must be a name, got $other")
        }
        m += k -> parseValue()
      }
      pos += 2
      PDict(m.result())
    }

    private def parseArray(): PArr = {
      pos += 1 // '['
      val vs = Vector.newBuilder[PVal]
      var guard = 0
      while ({ skipWs(); pos < end && b(pos) != ']' }) {
        if (guard > 65536) fail("unterminated array")
        guard += 1
        vs += parseValue()
      }
      if (pos >= end) fail("unterminated array")
      pos += 1
      PArr(vs.result())
    }

    private def parseLiteralString(): PStr = {
      pos += 1 // '('
      val contentBegin = pos
      var depth = 1
      val bytesOut = new java.io.ByteArrayOutputStream(32)
      while (depth > 0) {
        if (pos >= end) fail("unterminated string")
        val c = b(pos) & 0xFF
        if (c == '\\') {
          pos += 1
          if (pos >= end) fail("unterminated escape")
          val e = b(pos) & 0xFF
          e match {
            case 'n' => bytesOut.write('\n'); pos += 1
            case 'r' => bytesOut.write('\r'); pos += 1
            case 't' => bytesOut.write('\t'); pos += 1
            case 'b' => bytesOut.write('\b'); pos += 1
            case 'f' => bytesOut.write('\f'); pos += 1
            case '\n' => pos += 1 // line continuation
            case '\r' => pos += 1; if (pos < end && b(pos) == '\n') pos += 1
            case d if d >= '0' && d <= '7' =>
              var v = 0; var k = 0
              while (k < 3 && pos < end && b(pos) >= '0' && b(pos) <= '7') {
                v = v * 8 + (b(pos) - '0'); pos += 1; k += 1
              }
              bytesOut.write(v & 0xFF)
            case other => bytesOut.write(other); pos += 1 // \( \) \\ and unknown
          }
        } else if (c == '(') { depth += 1; bytesOut.write(c); pos += 1 }
        else if (c == ')') {
          depth -= 1
          if (depth > 0) bytesOut.write(c)
          pos += 1
        } else { bytesOut.write(c); pos += 1 }
      }
      val contentEnd = pos - 1 // before the closing ')'
      val raw = bytesOut.toByteArray
      PStr(decodeText(raw), contentBegin, contentEnd, raw)
    }

    private def parseHexString(): PStr = {
      pos += 1 // '<'
      val contentBegin = pos
      val bytesOut = new java.io.ByteArrayOutputStream(32)
      var hi = -1
      while (pos < end && b(pos) != '>') {
        val c = b(pos) & 0xFF
        val d = Character.digit(c, 16)
        if (d >= 0) {
          if (hi < 0) hi = d
          else { bytesOut.write((hi << 4) | d); hi = -1 }
        } else if (!isWs(c)) throw new PdfParseException(s"bad hex digit at $pos")
        pos += 1
      }
      if (pos >= end) throw new PdfParseException("unterminated hex string")
      if (hi >= 0) bytesOut.write(hi << 4) // odd count: final digit padded
      val contentEnd = pos
      pos += 1
      val raw = bytesOut.toByteArray
      PStr(decodeText(raw), contentBegin, contentEnd, raw)
    }
  }

  /** Default PDF text-string decode (no font active): UTF-16BE with BOM,
    * else Latin-1 (the byte-to-char identity). Fonts with a /ToUnicode CMap
    * re-decode at show time — see [[FontInfo.decode]]. */
  /** UTF-16BE BOM sniff, shared by the lexer default decode and the
    * simple-font /Encoding bypass (one definition, cannot drift). Requires
    * an EVEN total length: UTF-16 text is whole 2-byte units, and an
    * odd-length match is far more likely literal 'þÿ…' bytes than a
    * truncated BOM string — decoding those as UTF-16 would corrupt them. */
  @inline private def hasUtf16BeBom(bs: Array[Byte]): Boolean =
    bs.length >= 2 && (bs.length & 1) == 0 &&
      (bs(0) & 0xFF) == 0xFE && (bs(1) & 0xFF) == 0xFF

  private def decodeText(bs: Array[Byte]): String =
    if (hasUtf16BeBom(bs))
      new String(bs, 2, bs.length - 2, java.nio.charset.StandardCharsets.UTF_16BE)
    else new String(bs, java.nio.charset.StandardCharsets.ISO_8859_1)

  // ---- fonts ---------------------------------------------------------------

  /** What the parser knows about one page font. `cmap` maps code -> text from
    * the font's /ToUnicode CMap (empty when absent); `codeLen` is the code
    * unit width in bytes (2 for composite Type0/CID fonts, else 1); `widths`
    * maps code -> advance in em (from /FirstChar+/Widths on simple fonts, /W
    * on CID descendants, glyph-space units / 1000), `defaultWidthEm` fills
    * unmapped codes (/DW for CID, else [[AvgGlyphWidthEm]]).
    *
    * Honesty contract: a Type0 font WITHOUT a parseable ToUnicode shows glyph
    * INDICES, not characters — decoding them as Latin-1 yields confident
    * mojibake, so [[decode]] throws [[PdfParseException]] (-> error row)
    * instead, per the repo's never-silently-wrong rule (the reference
    * rasterizes + OCRs, so it has no such failure mode,
    * /root/reference/src/bin/server/pdf.rs:69-152). A SIMPLE (non-Type0)
    * font whose ToUnicode covers only some codes (subsetted fonts) falls
    * back per-code to the default Latin-1 decode — the uncovered codes were
    * never remapped, so the byte identity is the likely-correct reading
    * (U+FFFD would discard available information). */
  private[pdf] final case class FontInfo(name: String, type0: Boolean,
      codeLen: Int, cmap: Map[Int, String],
      widths: Map[Int, Double] = Map.empty,
      defaultWidthEm: Double = AvgGlyphWidthEm,
      /** byte→text table from /Encoding (WinAnsi/MacRoman/Differences) on
        * simple fonts — null when the font declares none (Latin-1 default) */
      enc: Array[String] = null,
      /** per-glyph advance used when no /Widths exist (flat-estimate mode) */
      flatWidthEm: Double = AvgGlyphWidthEm,
      /** true when [[flatWidthEm]] is EXACT (Courier family: uniform
        * 600/1000), not the 0.5 em estimate — exact flat metrics take TJ
        * kerning and Tc/Tw spacing like per-code /Widths do */
      flatExact: Boolean = false,
      /** the /Resources /Font entry NAMED this font but its dict could not
        * be dereferenced (dangling ref, corrupt ObjStm): decoding show
        * strings blind could be confident mojibake (a lost TYPE0 dict would
        * decode 2-byte CIDs byte-wise as Latin-1), so decode throws */
      unresolved: Boolean = false) {
    /** real geometry available: per-code /Widths or an exact flat advance.
      * Gates TJ kern + Tc/Tw folds — on the 0.5 em ESTIMATE they would be
      * false precision added to a coarse grid. */
    def hasMetrics: Boolean = widths.nonEmpty || flatExact
    /** per-byte decode through the declared simple-font encoding */
    @inline private def encByte(b: Int): String =
      if (enc != null) enc(b & 0xFF) else (b & 0xFF).toChar.toString
    def decode(raw: Array[Byte], default: String): String =
      if (unresolved) {
        if (raw.isEmpty) ""
        else throw new PdfParseException(
          s"font /$name resource cannot be resolved: decoding its text would be blind")
      } else if (cmap.nonEmpty) {
        val sb = new java.lang.StringBuilder(raw.length / codeLen + 1)
        var i = 0
        while (i + codeLen <= raw.length) {
          var code = 0
          var k = 0
          while (k < codeLen) { code = (code << 8) | (raw(i + k) & 0xFF); k += 1 }
          cmap.get(code) match {
            case Some(s) => sb.append(s)
            case None if type0 => sb.append('�') // unmapped CID: no byte identity to fall back on
            case None => // simple font, partial CMap: per-code encoding/Latin-1 fallback
              var k2 = 0
              while (k2 < codeLen) { sb.append(encByte(code >> (8 * (codeLen - 1 - k2)))); k2 += 1 }
          }
          i += codeLen
        }
        sb.toString
      } else if (type0) {
        if (raw.isEmpty) ""
        else throw new PdfParseException(
          s"Type0 font /$name without a parseable /ToUnicode: cannot decode glyph indices")
      } else if (enc != null) {
        // UTF-16BE-with-BOM show strings (sloppy generators emit them even
        // under a declared simple encoding) keep the BOM-aware default
        // decode: running FE FF ... byte-wise through a WinAnsi table would
        // be confident mojibake
        if (hasUtf16BeBom(raw)) default
        else {
          // declared simple-font encoding: strings are per-byte font codes
          val sb = new java.lang.StringBuilder(raw.length)
          var i = 0
          while (i < raw.length) { sb.append(enc(raw(i) & 0xFF)); i += 1 }
          sb.toString
        }
      } else default

    /** Advance of a shown string in em: real per-code metrics when the font
      * declared any, else [[flatWidthEm]] per DECODED char (0.5 em default —
      * the pre-metrics behavior, kept bit-stable for fonts without /Widths
      * so golden layouts are unchanged; 0.6 em exact for Courier-family
      * base fonts, whose standard-14 metrics are uniform 600/1000). */
    def widthEm(raw: Array[Byte], decodedLen: Int): Double =
      if (widths.isEmpty) flatWidthEm * decodedLen
      else {
        var w = 0.0
        var i = 0
        while (i + codeLen <= raw.length) {
          var code = 0
          var k = 0
          while (k < codeLen) { code = (code << 8) | (raw(i + k) & 0xFF); k += 1 }
          w += widths.getOrElse(code, defaultWidthEm)
          i += codeLen
        }
        w
      }
  }

  /** Parse a /ToUnicode CMap stream: `beginbfchar`/`beginbfrange` sections
    * map source codes (hex strings, big-endian) to UTF-16BE target text.
    * Returns (code -> text, code byte width); an unparseable stream yields
    * an empty map (the caller then applies the Type0 honesty rule). */
  private[graft] def parseToUnicode(data: Array[Byte]): (Map[Int, String], Int) = {
    val m = Map.newBuilder[Int, String]
    var codeLen = 0
    def noteLen(n: Int): Unit = if (n > codeLen) codeLen = n
    def codeOf(s: PStr): Int = {
      var v = 0
      for (b <- s.raw) v = (v << 8) | (b & 0xFF)
      noteLen(s.raw.length)
      v
    }
    def textOf(s: PStr): String =
      new String(s.raw, java.nio.charset.StandardCharsets.UTF_16BE)
    val lx = new Lexer(data, 0, data.length)
    try {
      var mode = 0 // 0 = scanning, 1 = bfchar, 2 = bfrange
      var pending = List.empty[PVal]
      while (!lx.atEnd) {
        lx.nextToken() match {
          case Right("beginbfchar")  => mode = 1; pending = Nil
          case Right("beginbfrange") => mode = 2; pending = Nil
          case Right("endbfchar") | Right("endbfrange") => mode = 0; pending = Nil
          case Left(v) if mode == 1 =>
            pending = v :: pending
            pending match {
              case (dst: PStr) :: (src: PStr) :: Nil =>
                m += codeOf(src) -> textOf(dst)
                pending = Nil
              case _ if pending.length >= 2 => pending = Nil // malformed pair
              case _                        => ()
            }
          case Left(v) if mode == 2 =>
            pending = v :: pending
            pending match {
              case (dst: PVal) :: (hi: PStr) :: (lo: PStr) :: Nil =>
                val from = codeOf(lo); val to = codeOf(hi)
                if (to >= from && to - from <= 65535) dst match {
                  case d: PStr =>
                    // increment the last CODE POINT across the range
                    // (surrogate-safe: a non-BMP target increments the astral
                    // code point, not its low surrogate; an increment that
                    // would land IN the surrogate range or past U+10FFFF
                    // keeps the base text — spec leaves it undefined)
                    val base = textOf(d)
                    val lastCp = if (base.isEmpty) 0 else base.codePointBefore(base.length)
                    val head =
                      if (base.isEmpty) ""
                      else base.substring(0, base.length - Character.charCount(lastCp))
                    var c = from
                    while (c <= to) {
                      val ncp = lastCp + (c - from)
                      val s =
                        if (base.isEmpty) ""
                        else if (Character.isValidCodePoint(ncp) &&
                          !(ncp >= Character.MIN_SURROGATE && ncp <= Character.MAX_SURROGATE))
                          head + new String(Character.toChars(ncp))
                        else base
                      m += c -> s
                      c += 1
                    }
                  case PArr(vs) =>
                    var c = from
                    for (v2 <- vs) {
                      v2 match { case s: PStr => if (c <= to) m += c -> textOf(s); case _ => () }
                      c += 1
                    }
                  case _ => ()
                }
                pending = Nil
              case _ if pending.length >= 3 => pending = Nil
              case _                        => ()
            }
          case _ => () // cmap boilerplate (codespacerange, names, defs)
        }
      }
    } catch { case _: PdfParseException => () } // keep what parsed cleanly
    (m.result(), math.max(codeLen, 1))
  }

  /** Parse a CID /W width array (`[c [w1 .. wn] | cFirst cLast w ...]`,
    * glyph-space units) into code -> em. Malformed tails stop the walk. */
  private[pdf] def parseCidWidths(v: PVal): Map[Int, Double] = v match {
    case PArr(vs) =>
      val m = Map.newBuilder[Int, Double]
      var i = 0
      var ok = true
      while (ok && i < vs.length) {
        (vs(i), if (i + 1 < vs.length) vs(i + 1) else PNull) match {
          case (PNum(c), PArr(ws)) =>
            var k = 0
            while (k < ws.length) {
              ws(k) match { case PNum(w) => m += (c.toInt + k) -> w / 1000.0; case _ => () }
              k += 1
            }
            i += 2
          case (PNum(c1), PNum(c2)) if i + 2 < vs.length =>
            vs(i + 2) match {
              case PNum(w) =>
                var c = c1.toInt
                val hi = math.min(c2.toInt, c1.toInt + 65535) // range cap
                while (c <= hi) { m += c -> w / 1000.0; c += 1 }
              case _ => ()
            }
            i += 3
          case _ => ok = false
        }
      }
      m.result()
    case _ => Map.empty
  }

  /** Resolve a page's /Resources /Font dict into FontInfo per font name,
    * including width metrics: /FirstChar+/Widths on simple fonts and
    * /DescendantFonts[0] /W (+/DW default) on Type0 — advances in em (glyph
    * space / 1000). Fonts declaring no widths keep the flat
    * [[AvgGlyphWidthEm]] estimate (FontInfo.widthEm). */
  private def fontsOf(resources: Map[String, PVal], objs: Map[Int, PObj]): Map[String, FontInfo] = {
    // general deref: dict objects surface as PDict, scalar/array objects as
    // their stored body (PObj.value) — indirect /Widths arrays resolve too
    def deref(v: PVal): Option[PVal] = v match {
      case PRef(n) => derefObj(objs, n)
      case other   => Some(other)
    }
    resources.get("Font").flatMap(deref) match {
      case Some(PDict(fontDict)) =>
        val out = Map.newBuilder[String, FontInfo]
        // a named font whose dict is LOST (dangling ref, corrupt ObjStm)
        // becomes an unresolved sentinel instead of vanishing from the map:
        // Tf would otherwise null the current font and show strings would
        // fall back to the blind Latin-1 decode, bypassing the Type0
        // mojibake guard entirely
        for ((fname, fref) <- fontDict if deref(fref).forall(!_.isInstanceOf[PDict]))
          out += fname -> FontInfo(fname, type0 = false, codeLen = 1,
            cmap = Map.empty, unresolved = true)
        for ((fname, fref) <- fontDict; PDict(fd) <- deref(fref)) {
          val type0 = fd.get("Subtype").contains(PName("Type0"))
          val (cmap, seenLen) = fd.get("ToUnicode") match {
            case Some(PRef(n)) => objs.get(n) match {
              case Some(o) if o.data != null => parseToUnicode(o.data)
              case _                         => (Map.empty[Int, String], 1)
            }
            case _ => (Map.empty[Int, String], 1)
          }
          val codeLen = if (cmap.nonEmpty) seenLen else if (type0) 2 else 1
          val (widths, defaultW) =
            if (type0) {
              // descendant CIDFont carries /W and /DW
              val desc = fd.get("DescendantFonts").flatMap(deref) match {
                case Some(PArr(ds)) if ds.nonEmpty => deref(ds.head)
                case other                         => other
              }
              desc match {
                case Some(PDict(dfd)) =>
                  val w = dfd.get("W").flatMap(deref).map(parseCidWidths).getOrElse(Map.empty)
                  val dw = dfd.get("DW").flatMap(deref) match {
                    case Some(PNum(v)) if v > 0 => v / 1000.0
                    case _                      => if (w.nonEmpty) 1.0 else AvgGlyphWidthEm // spec DW default 1000
                  }
                  (w, dw)
                case _ => (Map.empty[Int, Double], AvgGlyphWidthEm)
              }
            } else {
              // FirstChar is dereffed like Widths: an indirect /FirstChar
              // must not silently discard a present, derefable /Widths table
              (fd.get("FirstChar").flatMap(deref), fd.get("Widths").flatMap(deref)) match {
                case (Some(PNum(fc)), Some(PArr(ws))) =>
                  val m = Map.newBuilder[Int, Double]
                  var k = 0
                  while (k < ws.length) {
                    ws(k) match {
                      // a 0 width means "use MissingWidth"; our fallback is the estimate
                      case PNum(w) if w > 0 => m += (fc.toInt + k) -> w / 1000.0
                      case _                => ()
                    }
                    k += 1
                  }
                  (m.result(), AvgGlyphWidthEm)
                case _ => (Map.empty[Int, Double], AvgGlyphWidthEm)
              }
            }
          // simple-font /Encoding: named base (WinAnsi = windows-1252 — its
          // 0x80-0x9F typographic range is what Latin-1 silently mangles) or
          // a dict with /BaseEncoding + /Differences glyph-name overrides.
          // Unknown Differences names become U+FFFD (marked, never wrong).
          val enc: Array[String] =
            if (type0) null
            else fd.get("Encoding").flatMap(deref) match {
              case Some(PName(n)) => Glyphs.baseTable(n)
              case Some(PDict(ed)) =>
                val base = ed.get("BaseEncoding") match {
                  case Some(PName(n)) => n
                  case _              => ""
                }
                val t = Glyphs.baseTable(base)
                ed.get("Differences").flatMap(deref) match {
                  case Some(PArr(vs)) =>
                    var code = -1
                    for (v <- vs) v match {
                      case PNum(c)  => code = c.toInt
                      case PName(g) =>
                        if (code >= 0 && code <= 255) {
                          t(code) = Glyphs.resolve(g).getOrElse("�")
                          code += 1
                        }
                      case _ => ()
                    }
                  case _ => ()
                }
                t
              case _ => null
            }
          // standard-14 metrics for fonts declaring no /Widths: Courier
          // family is a uniform 600/1000 (exact flat 0.6 em for EVERY code);
          // Helvetica/Arial/Times get their public AFM ASCII tables
          // (StdMetrics) — the spec lets standard-14 fonts omit /Widths, so
          // these are precisely the fonts the flat 0.5 em estimate hit most
          val flat = fd.get("BaseFont") match {
            case Some(PName(bf)) if bf.contains("Courier") || bf.contains("Mono") => 0.6
            case _ => AvgGlyphWidthEm
          }
          // EXACT flat metrics only for the genuine standard-14 Courier
          // family on a SIMPLE font ("Courier[-Bold|-Oblique…]", optional
          // subset prefix "ABCDEF+"): those take TJ kern / Tc/Tw folds.
          // Substring 'Mono' matches (MonotypeCorsiva, CJK mono CID fonts)
          // keep 0.6 as an ESTIMATE — folding precise spacing onto a
          // guessed grid is the false precision the gate exists to avoid.
          val flatExact = !type0 && (fd.get("BaseFont") match {
            case Some(PName(bf)) =>
              val fam = if (bf.length > 7 && bf.charAt(6) == '+') bf.substring(7) else bf
              fam == "Courier" || fam.startsWith("Courier-")
            case _ => false
          })
          val stdWidths: Map[Int, Double] =
            if (!type0 && widths.isEmpty && flat == AvgGlyphWidthEm)
              fd.get("BaseFont") match {
                case Some(PName(bf)) => StdMetrics.widthsFor(bf).getOrElse(Map.empty)
                case _               => Map.empty
              }
            else Map.empty
          out += fname -> FontInfo(fname, type0, codeLen, cmap,
            if (stdWidths.nonEmpty) stdWidths else widths, defaultW, enc, flat,
            flatExact = flatExact)
        }
        out.result()
      case _ => Map.empty
    }
  }

  // ---- object scan ---------------------------------------------------------

  private def find(b: Array[Byte], from: Int, needle: String): Int = {
    val n = needle.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    var i = math.max(0, from)
    val last = b.length - n.length
    while (i <= last) {
      var j = 0
      while (j < n.length && b(i + j) == n(j)) j += 1
      if (j == n.length) return i
      i += 1
    }
    -1
  }

  /** Skip an inline image; `from` points just past the consumed `BI` token.
    * Finds the delimited `ID` token (the BI..ID region is token space, not
    * binary), then the first DELIMITED `EI` after the payload: whitespace
    * before, whitespace/EOF/delimiter after — the standard heuristic absent
    * an explicit length, since raw image bytes can contain the pair "EI".
    * Returns the position just past EI, or end-of-data if none is found. */
  private[graft] def skipInlineImage(data: Array[Byte], from: Int): Int = {
    val n = data.length
    var i = math.max(1, from)
    var scanFrom = -1
    while (scanFrom < 0 && i + 1 < n) {
      if (data(i) == 'I' && data(i + 1) == 'D' &&
          (isWs(data(i - 1) & 0xff) || isDelim(data(i - 1) & 0xff)) &&
          (i + 2 >= n || isWs(data(i + 2) & 0xff)))
        scanFrom = i + 3 // ID + the single mandated whitespace byte
      i += 1
    }
    // malformed (no ID): still require a delimited EI from `from`
    var p = math.max(1, if (scanFrom < 0) from else scanFrom)
    while (p + 1 < n) {
      if (data(p) == 'E' && data(p + 1) == 'I' && isWs(data(p - 1) & 0xff) &&
          (p + 2 >= n || isWs(data(p + 2) & 0xff) || isDelim(data(p + 2) & 0xff)))
        return p + 2
      p += 1
    }
    n
  }

  /** ASCIIHexDecode: hex pairs, whitespace ignored, `>` terminator optional,
    * odd trailing digit zero-padded. Bad digits -> PdfParseException. */
  private[graft] def asciiHexDecode(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length / 2 + 1)
    var hi = -1
    var i = 0
    var done = false
    while (i < data.length && !done) {
      val c = data(i) & 0xFF
      if (c == '>') done = true
      else if (!isWs(c)) {
        val d = Character.digit(c, 16)
        if (d < 0) throw new PdfParseException(s"ASCIIHexDecode: bad digit at $i")
        if (hi < 0) hi = d else { out.write((hi << 4) | d); hi = -1 }
      }
      i += 1
    }
    // honesty (mirrors inflate/lzwDecode): the spec mandates the `>` EOD
    // (7.4.2); data ending without it is truncated — a decoded prefix would
    // be silently-partial text
    if (!done)
      throw new PdfParseException("truncated ASCIIHexDecode stream (no > EOD)")
    if (hi >= 0) out.write(hi << 4)
    out.toByteArray
  }

  /** ASCII85Decode: 5 chars '!'..'u' -> 4 bytes base-85; 'z' -> four zero
    * bytes; `~>` terminator; a partial final group of k chars yields k-1
    * bytes ('u'-padded). Whitespace ignored. */
  private[graft] def ascii85Decode(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length * 4 / 5 + 4)
    val grp = new Array[Int](5)
    var k = 0
    var i = 0
    // tolerate the optional `<~` opener
    if (data.length >= 2 && data(0) == '<' && data(1) == '~') i = 2
    var done = false
    def flush(n: Int): Unit = { // n = chars present (2..5)
      var j = n
      while (j < 5) { grp(j) = 84; j += 1 } // pad with 'u'
      var v = 0L
      var m = 0
      while (m < 5) { v = v * 85 + grp(m); m += 1 }
      val nOut = n - 1
      var s = 24
      var b = 0
      while (b < nOut) { out.write(((v >> s) & 0xFF).toInt); s -= 8; b += 1 }
    }
    while (i < data.length && !done) {
      val c = data(i) & 0xFF
      if (c == '~') done = true
      else if (c == 'z' && k == 0) { out.write(0); out.write(0); out.write(0); out.write(0) }
      else if (c >= '!' && c <= 'u') {
        grp(k) = c - '!'
        k += 1
        if (k == 5) { flush(5); k = 0 }
      } else if (!isWs(c)) throw new PdfParseException(s"ASCII85Decode: bad char at $i")
      i += 1
    }
    // honesty (mirrors inflate/lzwDecode): `~>` EOD is mandatory (7.4.3) —
    // input exhausted without it means truncation, never a silent prefix
    if (!done)
      throw new PdfParseException("truncated ASCII85Decode stream (no ~> EOD)")
    if (k == 1) throw new PdfParseException("ASCII85Decode: lone trailing char")
    if (k >= 2) flush(k)
    out.toByteArray
  }

  /** RunLengthDecode (spec 7.4.5): a length byte L selects `copy the next
    * L+1 bytes` (L 0..127) or `repeat the next byte 257-L times` (L 129..255);
    * L == 128 is the mandatory EOD. Truncated runs or missing EOD ->
    * PdfParseException (decoded prefixes are silently-partial text). */
  private[graft] def runLengthDecode(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(math.max(64, data.length * 2))
    var i = 0
    var done = false
    while (i < data.length && !done) {
      val l = data(i) & 0xFF
      i += 1
      if (l == 128) done = true
      else if (l < 128) {
        if (i + l + 1 > data.length)
          throw new PdfParseException("truncated RunLengthDecode literal run")
        out.write(data, i, l + 1)
        i += l + 1
      } else {
        if (i >= data.length)
          throw new PdfParseException("truncated RunLengthDecode repeat run")
        val b = data(i) & 0xFF
        i += 1
        var n = 257 - l
        while (n > 0) { out.write(b); n -= 1 }
      }
    }
    // honesty (mirrors the other filters): 128 EOD is mandatory (7.4.5)
    if (!done)
      throw new PdfParseException("truncated RunLengthDecode stream (no EOD)")
    out.toByteArray
  }

  /** LZWDecode, PDF/TIFF variant (spec 7.4.4): MSB-first variable-width
    * codes 9..12 bits, 256 = ClearTable, 257 = EOD, code width grows
    * `earlyChange` entries before the table fills (PDF default 1). Truncated
    * input (no EOD) decodes what is present, matching Flate leniency; an
    * out-of-range code -> PdfParseException. */
  private[graft] def lzwDecode(data: Array[Byte], earlyChange: Int = 1): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length * 3 + 16)
    val table = new scala.collection.mutable.ArrayBuffer[Array[Byte]](4096)
    def resetTable(): Unit = {
      table.clear()
      var i = 0
      while (i < 256) { table += Array(i.toByte); i += 1 }
      table += null; table += null // 256 = clear, 257 = EOD (never dereferenced)
    }
    resetTable()
    var width = 9
    var bitBuf = 0L
    var bitCnt = 0
    var pos = 0
    var prev: Array[Byte] = null
    var done = false
    var sawEod = false
    while (!done) {
      while (bitCnt < width && pos < data.length) {
        bitBuf = (bitBuf << 8) | (data(pos) & 0xFF); bitCnt += 8; pos += 1
      }
      if (bitCnt < width) done = true
      else {
        val code = ((bitBuf >> (bitCnt - width)) & ((1L << width) - 1)).toInt
        bitCnt -= width
        if (code == 257) { done = true; sawEod = true }
        else if (code == 256) { resetTable(); width = 9; prev = null }
        else {
          val entry: Array[Byte] =
            if (code < table.length) table(code)
            else if (code == table.length && prev != null) { // KwKwK
              val e = java.util.Arrays.copyOf(prev, prev.length + 1); e(prev.length) = prev(0); e
            } else throw new PdfParseException(s"LZWDecode: code $code outside table of ${table.length}")
          out.write(entry, 0, entry.length)
          if (prev != null && table.length < 4096) {
            val ne = java.util.Arrays.copyOf(prev, prev.length + 1); ne(prev.length) = entry(0)
            table += ne
          }
          prev = entry
          while (width < 12 && table.length >= (1 << width) - earlyChange) width += 1
        }
      }
    }
    // honesty (mirrors inflate): the spec REQUIRES the EOD marker (257,
    // 7.4.4.2); running out of bits without it means truncated data, and
    // returning the decoded prefix would be silently-partial text
    if (!sawEod)
      throw new PdfParseException("truncated LZWDecode stream (no EOD marker)")
    out.toByteArray
  }

  /** Undo a /DecodeParms predictor over already-decompressed bytes
    * (spec 7.4.4.4): predictor 2 = TIFF horizontal differencing (8-bit
    * components only here), predictors 10..15 = PNG row filters (None / Sub /
    * Up / Average / Paeth, per-row tag byte — the value 10..15 only selects
    * the ENCODER default; every decoded row honors its own tag). Real-world
    * xref/ObjStm streams are near-universally Flate + Predictor 12 (Up).
    * A trailing partial row is dropped (truncation leniency, matching the
    * inflate path); a malformed layout throws -> metadata-only upstream. */
  private[graft] def applyPredictor(data: Array[Byte], predictor: Int,
      colors: Int, bpc: Int, columns: Int): Array[Byte] = {
    if (predictor <= 1) return data
    if (colors < 1 || colors > 64 || columns < 1 || columns > (1 << 24))
      throw new PdfParseException(s"predictor: implausible Colors=$colors/Columns=$columns")
    if (predictor == 2) {
      if (bpc != 8) throw new PdfParseException(s"TIFF predictor with BitsPerComponent=$bpc unsupported")
      val rowLen = colors * columns
      val out = java.util.Arrays.copyOf(data, data.length - data.length % rowLen)
      var row = 0
      while (row + rowLen <= out.length) {
        var i = row + colors
        while (i < row + rowLen) { out(i) = ((out(i) + out(i - colors)) & 0xFF).toByte; i += 1 }
        row += rowLen
      }
      out
    } else if (predictor >= 10 && predictor <= 15) {
      if (bpc != 1 && bpc != 2 && bpc != 4 && bpc != 8 && bpc != 16)
        throw new PdfParseException(s"PNG predictor with BitsPerComponent=$bpc unsupported")
      val rowLen = (colors * bpc * columns + 7) / 8
      val bpp = math.max(1, colors * bpc / 8) // left-neighbor distance in bytes
      val nRows = data.length / (rowLen + 1)  // each row: 1 tag byte + rowLen
      val out = new Array[Byte](nRows * rowLen)
      val prior = new Array[Byte](rowLen)     // zero row above the first
      var r = 0
      while (r < nRows) {
        val src = r * (rowLen + 1)
        val dst = r * rowLen
        val tag = data(src) & 0xFF
        var i = 0
        while (i < rowLen) {
          val x = data(src + 1 + i) & 0xFF
          val left = if (i >= bpp) out(dst + i - bpp) & 0xFF else 0
          val above = prior(i) & 0xFF
          val upLeft = if (i >= bpp) prior(i - bpp) & 0xFF else 0
          val v = tag match {
            case 0 => x
            case 1 => x + left
            case 2 => x + above
            case 3 => x + ((left + above) >> 1)
            case 4 => // Paeth
              val p = left + above - upLeft
              val pa = math.abs(p - left); val pb = math.abs(p - above); val pc = math.abs(p - upLeft)
              x + (if (pa <= pb && pa <= pc) left else if (pb <= pc) above else upLeft)
            case other => throw new PdfParseException(s"PNG predictor: unknown row tag $other")
          }
          out(dst + i) = (v & 0xFF).toByte
          i += 1
        }
        System.arraycopy(out, dst, prior, 0, rowLen)
        r += 1
      }
      out
    } else throw new PdfParseException(s"unsupported /Predictor $predictor")
  }

  /** Apply the stream's /Filter chain (left-to-right, per spec order).
    * Supported: FlateDecode, LZWDecode, ASCIIHexDecode, ASCII85Decode,
    * RunLengthDecode —
    * alone or chained (e.g. [ASCII85Decode FlateDecode]) — plus
    * /DecodeParms /Predictor (TIFF 2 at 8 bpc, PNG 10..15) on Flate/LZW
    * stages, the real-world xref/ObjStm norm: either a single parms dict on
    * a single filter, or a per-filter parms ARRAY (7.3.8.2, null entries =
    * no parms) with each predictor undone right after its own stage.
    * Unsupported filters, an unsupported predictor shape (incl. a
    * single-dict predictor claiming a whole chain), or an indirect
    * /Filter//DecodeParms//element that `deref` cannot resolve (always the
    * case during the scan — [[redecode]] retries with the complete pool)
    * yield (null, false): the stream stays metadata-only rather than
    * risking corrupted text. Returns (decoded data, exact) where exact
    * means data IS the file slice. */
  private def applyFilters(b: Array[Byte], rawStart: Int, rawEnd: Int,
      dict: Map[String, PVal],
      /** indirect-ref resolver. During the scan no pool exists yet, so the
        * default resolves nothing and indirect /Filter//DecodeParms stay
        * metadata-only; [[parse]]'s late re-decode pass retries those
        * streams with the COMPLETE pool once the scan is done. */
      deref: Int => Option[PVal] = _ => None): (Array[Byte], Boolean) = {
    def resolved(v: Option[PVal]): Option[PVal] = v match {
      // an UNRESOLVABLE ref must stay "present but uninterpretable" (PNull
      // matches no shape below), never collapse to "absent" — absent means
      // "no filter"/"no predictor", which would silently mis-decode
      case Some(PRef(n)) => Some(deref(n).getOrElse(PNull))
      case other         => other
    }
    val names: Option[Vector[String]] = resolved(dict.get("Filter")) match {
      case None                => Some(Vector.empty)
      case Some(PName(n))      => Some(Vector(n))
      case Some(PArr(vs)) =>
        val ns = vs.collect { case PName(n) => n }
        if (ns.length == vs.length) Some(ns) else None
      case Some(_)             => None
    }
    // per-filter (predictor, colors, bpc, columns, earlyChange) aligned with
    // `names`; None = parms present but not interpretable here (unresolvable
    // indirect ref / length-mismatched array / non-numeric fields) ->
    // conservative metadata-only when a predictor may hide
    val DefaultParms = (1, 1, 8, 1, 1)
    def parseParmsDict(m: Map[String, PVal]): Option[(Int, Int, Int, Int, Int)] = {
      def num(k: String, d: Int): Option[Int] = resolved(m.get(k)) match {
        case Some(PNum(v)) => Some(v.toInt)
        case None          => Some(d)
        case _             => None // non-numeric, unresolvable-indirect field
      }
      for {
        p <- num("Predictor", 1); c <- num("Colors", 1)
        bits <- num("BitsPerComponent", 8); cols <- num("Columns", 1)
        ec <- num("EarlyChange", 1)
      } yield (p, c, bits, cols, ec)
    }
    val parms: Option[Vector[(Int, Int, Int, Int, Int)]] =
      resolved(dict.get("DecodeParms") orElse dict.get("DP")) match {
        case None => names.map(ns => Vector.fill(ns.length)(DefaultParms))
        case Some(PDict(m)) =>
          // spec shape: a single dict goes with a single filter; on a chain
          // tolerate it only when it carries no predictor (a no-op anywhere)
          parseParmsDict(m).flatMap { p =>
            names.flatMap { ns =>
              // predictor-free dict on a chain: replicate it (its predictor
              // is a no-op; /EarlyChange must keep reaching any LZW stage)
              if (ns.length <= 1 || p._1 <= 1) Some(Vector.fill(ns.length)(p))
              else None
            }
          }
        case Some(PArr(vs)) =>
          // per-filter array (7.3.8.2): same length as /Filter, null entries
          // for filters without parameters. Per-element indirect refs are
          // matched explicitly (NOT via `resolved`): an UNRESOLVABLE ref and
          // a literal null must not collapse to the same value — null means
          // "no parms", unresolvable means metadata-only until [[redecode]]
          names.flatMap { ns =>
            if (vs.length != ns.length) None
            else {
              val parsed = vs.map {
                case PNull    => Some(DefaultParms)
                case PDict(m) => parseParmsDict(m)
                case PRef(n) => deref(n) match {
                  case Some(PDict(m)) => parseParmsDict(m)
                  case Some(PNull)    => Some(DefaultParms) // literal-null object
                  case _              => None // unresolvable mid-scan
                }
                case _ => None
              }
              if (parsed.forall(_.isDefined)) Some(parsed.map(_.get)) else None
            }
          }
        case Some(_) => None
      }
    // a predictor is only defined on the OUTPUT of a decompression filter
    def shapeOk(name: String, pf: (Int, Int, Int, Int, Int)): Boolean = {
      val (p, c, bits, cols, _) = pf
      p <= 1 || {
        val decomp = name == "FlateDecode" || name == "LZWDecode"
        val shape =
          (p == 2 && bits == 8) || (p >= 10 && p <= 15 &&
            (bits == 1 || bits == 2 || bits == 4 || bits == 8 || bits == 16))
        decomp && shape && c >= 1 && c <= 64 && cols >= 1 && cols <= (1 << 24)
      }
    }
    val predictorOk = (names, parms) match {
      case (Some(ns), Some(ps)) => ns.lazyZip(ps).forall(shapeOk)
      case _                    => false
    }
    names match {
      case Some(Vector()) => (java.util.Arrays.copyOfRange(b, rawStart, rawEnd), true)
      case Some(ns) if predictorOk && ns.forall(SupportedFilters) =>
        var data: Array[Byte] = null
        for ((n, pf) <- ns.lazyZip(parms.get)) {
          data = n match {
            case "FlateDecode" =>
              if (data == null) inflate(b, rawStart, rawEnd - rawStart)
              else inflate(data, 0, data.length)
            case "LZWDecode" =>
              lzwDecode(if (data == null) java.util.Arrays.copyOfRange(b, rawStart, rawEnd) else data, pf._5)
            case "ASCIIHexDecode" =>
              asciiHexDecode(if (data == null) java.util.Arrays.copyOfRange(b, rawStart, rawEnd) else data)
            case "ASCII85Decode" =>
              ascii85Decode(if (data == null) java.util.Arrays.copyOfRange(b, rawStart, rawEnd) else data)
            case "RunLengthDecode" =>
              runLengthDecode(if (data == null) java.util.Arrays.copyOfRange(b, rawStart, rawEnd) else data)
          }
          // the predictor undoes a row filter applied BEFORE compression, so
          // it runs on this filter's output, before the next chain stage
          val (p, c, bits, cols, _) = pf
          if (p > 1) data = applyPredictor(data, p, c, bits, cols)
        }
        (data, false)
      case _ => (null, false) // unsupported filter / predictor: metadata only
    }
  }

  private val SupportedFilters =
    Set("FlateDecode", "LZWDecode", "ASCIIHexDecode", "ASCII85Decode", "RunLengthDecode")

  private def inflate(data: Array[Byte], off: Int, len: Int): Array[Byte] = {
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(data, off, len)
      val out = new java.io.ByteArrayOutputStream(math.max(64, len * 4))
      val buf = new Array[Byte](8192)
      while (!inf.finished() && !inf.needsInput() && !inf.needsDictionary()) {
        val k = inf.inflate(buf)
        if (k > 0) out.write(buf, 0, k)
      }
      // honesty: exiting before the zlib FINAL block (input exhausted, or a
      // preset dictionary we cannot supply) means the data is truncated —
      // returning the decoded prefix would be silently-PARTIAL page text,
      // invisible to the data==null gate downstream
      if (!inf.finished())
        throw new PdfParseException("truncated or dictionary-dependent FlateDecode stream")
      out.toByteArray
    } catch {
      case _: java.util.zip.DataFormatException =>
        throw new PdfParseException("corrupt FlateDecode stream")
    } finally inf.end()
  }

  /** Cost guard for [[scanObjects]]: after this many resyncs the scan stops
    * with whatever parsed (a genuinely damaged file needs a handful; hundreds
    * means adversarial bytes, where each failed attempt can cost a scan — the
    * per-row tensor-size-guard discipline, constants.rs:59 analogue). */
  val MaxResyncs = 256

  /** Start of the `N G obj` header whose ` obj` separator-space is at
    * `spaceAt`: walk back over ws, gen digits, ws, num digits. -1 when the
    * bytes before the match do not form a header (e.g. `endobj`). */
  private def headerStart(b: Array[Byte], spaceAt: Int): Int = {
    var p = spaceAt
    while (p > 0 && isWs(b(p - 1))) p -= 1
    val genEnd = p
    while (p > 0 && b(p - 1) >= '0' && b(p - 1) <= '9') p -= 1
    if (p == genEnd) return -1
    val genStart = p
    while (p > 0 && isWs(b(p - 1))) p -= 1
    if (p == genStart) return -1 // no ws between num and gen
    val numEnd = p
    while (p > 0 && b(p - 1) >= '0' && b(p - 1) <= '9') p -= 1
    if (p == numEnd) -1 else p
  }

  /** Next resync anchor at or after `from`: the start of the next plausible
    * `N G obj` header or a token-boundary `trailer` keyword, whichever comes
    * first; b.length when neither exists. Skipping straight to the next
    * anchor (instead of the next LINE) makes a 10k-entry xref table or a run
    * of binary garbage cost ONE resync, and bounds the attempt count by the
    * number of genuine-looking headers.
    *
    * Stateful across one [[scanObjects]] pass: `from` only moves forward
    * there, and an anchor found at p ≥ from stays the first anchor for every
    * later from' ≤ p, so each anchor kind is re-searched only past the last
    * hit. Without the cache a trailer-less adversarial payload re-scans its
    * whole tail for "trailer" on EVERY resync — O(MaxResyncs × n) byte
    * comparisons, the exact multiplicative cost MaxResyncs exists to bound. */
  private[graft] final class Resync(b: Array[Byte]) {
    private var objAt = -1 // first plausible header ≥ the from it was computed for
    private var trAt = -1  // ditto for token-boundary "trailer"; b.length = none
    // Both scans cap candidate checks per call at 256. A tripped cap returns
    // -(resume position): "no anchor in the first 256 candidates, continue
    // from here" — a FORWARD-PROGRESS hint, never cached (caching b.length
    // for it would stick: `cached < from` never fires again, and >256 junk
    // " obj" substrings — e.g. a text stream discussing PDF syntax — would
    // silently drop every later genuine object). The caller charges a resync
    // per hop, so MaxResyncs still bounds total work; `from` only moves
    // forward across one scan, so candidates are never re-checked.
    private def nextObj(from: Int): Int = {
      var search = from
      var guard = 0
      while (guard < 256) {
        guard += 1
        val o = find(b, search, " obj")
        if (o < 0) return b.length // genuinely none: cacheable
        val after = o + 4
        val okAfter = after >= b.length || isWs(b(after)) || isDelim(b(after))
        val hs = if (okAfter) headerStart(b, o) else -1
        if (hs >= from) return hs
        search = after
      }
      -search // cap tripped: uncacheable resume hint
    }
    private def nextTrailer(from: Int): Int = {
      var search = from
      var guard = 0
      while (guard < 256) {
        guard += 1
        val t = find(b, search, "trailer")
        if (t < 0) return b.length
        if ((t == 0 || isWs(b(t - 1)) || isDelim(b(t - 1))) &&
          (t + 7 >= b.length || isWs(b(t + 7)) || isDelim(b(t + 7)))) return t
        search = t + 7
      }
      -search
    }
    def target(from: Int): Int = {
      val obj =
        if (objAt >= from) objAt
        else nextObj(from) match {
          case r if r >= 0 => objAt = r; r
          case r           => math.max(from, -r)
        }
      val tr =
        if (trAt >= from) trAt
        else nextTrailer(from) match {
          case r if r >= 0 => trAt = r; r
          case r           => math.max(from, -r)
        }
      math.min(obj, tr)
    }
  }

  private[graft] def resyncTarget(b: Array[Byte], from: Int): Int =
    new Resync(b).target(from)

  /** Scan every `N G obj ... endobj` in file order, resyncing on junk (xref
    * tables, binary garbage, truncation) by skipping to the next plausible
    * object header / trailer keyword, with a [[MaxResyncs]] cost cap. Also
    * captures the last `trailer` dictionary. */
  private[pdf] def scanObjects(b: Array[Byte]): (Map[Int, PObj], Vector[Int], Option[PDict]) = {
    val objs = Map.newBuilder[Int, PObj]
    val order = Vector.newBuilder[Int]
    var trailer: Option[PDict] = None
    val lx = new Lexer(b, 0, b.length)
    val resync = new Resync(b)
    var pos = 0
    var resyncs = 0
    while (pos < b.length) {
      lx.pos = pos
      val parsed: Option[Int] =
        try {
          lx.skipWs()
          if (lx.pos >= b.length) Some(b.length)
          else {
            val start = lx.pos
            lx.nextToken() match {
              case Right("trailer") =>
                trailer = Some(lx.parseValue() match {
                  case d: PDict => d
                  case _        => throw new PdfParseException("trailer not a dict")
                })
                Some(lx.pos)
              case Left(PNum(numV)) if numV == math.floor(numV) && numV >= 0 =>
                // expect: gen obj <value> [stream...] endobj
                lx.nextToken() match {
                  case Left(PNum(_)) => ()
                  case _             => throw new PdfParseException("no gen")
                }
                lx.nextToken() match {
                  case Right("obj") => ()
                  case _            => throw new PdfParseException("no obj")
                }
                val num = numV.toInt
                var bodyDone = false // true when the body token was `endobj` itself
                var bodyVal: PVal = PNull // non-dict body (scalar/array), kept derefable
                val dict: Map[String, PVal] = lx.nextToken() match {
                  case Left(PDict(m))  => m
                  case Left(v)         => bodyVal = v; Map.empty // scalar/array object (e.g. a /Widths array)
                  case Right("endobj") => bodyDone = true; Map.empty // empty body
                  case Right(_)        => throw new PdfParseException("bad object body")
                }
                lx.skipWs()
                var obj: PObj = null
                if (!bodyDone && lx.pos < b.length && startsWithAt(b, lx.pos, "stream")) {
                  lx.pos += "stream".length
                  if (lx.pos < b.length && b(lx.pos) == '\r') lx.pos += 1
                  if (lx.pos < b.length && b(lx.pos) == '\n') lx.pos += 1
                  val rawStart = lx.pos
                  val rawEnd = dict.get("Length") match {
                    case Some(PNum(len)) if len >= 0 && rawStart + len.toInt <= b.length &&
                      endstreamNear(b, rawStart + len.toInt) => rawStart + len.toInt
                    case _ =>
                      val e = find(b, rawStart, "endstream")
                      if (e < 0) throw new PdfParseException("unterminated stream")
                      // zero-length streams: trimEol must not walk back over
                      // the stream-start EOL already consumed above
                      math.max(rawStart, trimEol(b, e))
                  }
                  // a decode throw (corrupt zlib, stray non-hex byte) must
                  // not drop the OBJECT — the dict still anchors downstream
                  // honesty: a corrupt page content stream must become an
                  // error row via the data==null gate, not a silently
                  // missing /Contents ref
                  val (data, exact) =
                    try applyFilters(b, rawStart, rawEnd, dict)
                    catch { case _: PdfParseException => (null, false) }
                  obj = PObj(num, dict, data, rawStart, rawEnd, exact)
                  val es = find(b, rawEnd, "endstream")
                  lx.pos = if (es >= 0) es + "endstream".length else rawEnd
                } else obj = PObj(num, dict, null, start, start, exact = false, bodyVal)
                objs += num -> obj
                order += num
                // PDF 1.5 object streams: the compressed objects join the
                // pool here, in file order, so last-wins semantics match
                // incremental updates (spec 7.5.7)
                if (obj.dict.get("Type").contains(PName("ObjStm")) && obj.data != null)
                  for (inner <- unpackObjStm(obj)) { objs += inner.num -> inner; order += inner.num }
                if (bodyDone) Some(lx.pos)
                else {
                  val eo = find(b, lx.pos, "endobj")
                  Some(if (eo >= 0) eo + "endobj".length else lx.pos)
                }
              case _ => None // not an object header; resync
            }
          }
        } catch { case _: PdfParseException => None }

      pos = parsed match {
        case Some(next) if next > pos => next
        case _ =>
          resyncs += 1
          if (resyncs > MaxResyncs) b.length // cost cap: keep what parsed
          else math.max(pos + 1, resync.target(pos + 1))
      }
    }
    (objs.result(), order.result(), trailer)
  }

  /** Shared PObj→PVal projection for indirect-ref resolution: dict objects
    * surface as PDict, scalar/array objects as their stored body. Used by
    * both font resolution and the late re-decode pass — one definition so
    * the two deref semantics cannot silently diverge. */
  private def derefObj(objs: Map[Int, PObj], n: Int): Option[PVal] =
    objs.get(n).map(o => if (o.dict.nonEmpty) PDict(o.dict) else o.value)

  /** Late re-decode pass: streams whose scan-time decode was skipped only
    * because /Filter or /DecodeParms (or a field inside it) was an INDIRECT
    * ref — unresolvable mid-scan, when the pool is incomplete — get a second
    * [[applyFilters]] with the complete pool as deref. A late-decoded
    * /ObjStm unpacks too; its inner objects fill ABSENT numbers only (a
    * number also defined at top level keeps the top-level definition: the
    * exact file-order last-wins slot is unrecoverable here, and before this
    * pass such files lost the whole ObjStm, so absent-only is strictly more
    * coverage, never less). Fixpoint-iterated for ref chains (an ObjStm
    * whose parms object lives in another late-decoded ObjStm), bounded. */
  private[pdf] def redecode(b: Array[Byte], objs0: Map[Int, PObj],
      order0: Vector[Int]): (Map[Int, PObj], Vector[Int]) = {
    var objs = objs0
    var order = order0
    var progress = true
    var rounds = 0
    while (progress && rounds < 8) {
      progress = false
      rounds += 1
      val deref: Int => Option[PVal] = derefObj(objs, _)
      for (num <- order) {
        val o = objs(num)
        // data == null with rawEnd > rawStart marks a stream that failed to
        // decode; only /Filter-bearing ones can succeed on retry (filterless
        // streams always decode at scan time)
        if (o.data == null && o.rawEnd > o.rawStart && o.dict.contains("Filter")) {
          // decode throws (corrupt zlib behind a now-resolved ref) are
          // contained per-stream, like the scan's per-object catch: the
          // stream just stays metadata-only and the page-content check
          // decides — an unreferenced corrupt stream must not error a
          // document that previously extracted fully
          val (data, exact) =
            try applyFilters(b, o.rawStart, o.rawEnd, o.dict, deref)
            catch { case _: PdfParseException => (null, false) }
          if (data != null) {
            val upd = o.copy(data = data, exact = exact)
            objs += num -> upd
            progress = true
            if (upd.dict.get("Type").contains(PName("ObjStm")))
              for (inner <- unpackObjStm(upd) if !objs.contains(inner.num)) {
                objs += inner.num -> inner
                order :+= inner.num
              }
          }
        }
      }
    }
    (objs, order)
  }

  /** Unpack one /Type /ObjStm object stream (PDF 1.5+, spec 7.5.7): the
    * decoded stream holds `/N` (num, offset) integer pairs, then the
    * contained objects themselves starting at `/First`. Contained objects
    * carry no streams by spec, so each becomes a data-less PObj. A malformed
    * pair table or object is skipped, not fatal — the top-level scan already
    * resyncs the same way. */
  private[pdf] def unpackObjStm(o: PObj): Vector[PObj] = {
    val out = Vector.newBuilder[PObj]
    try {
      val n = o.dict.get("N") match {
        case Some(PNum(v)) if v >= 0 && v <= 65536 => v.toInt
        case _                                     => return Vector.empty
      }
      val first = o.dict.get("First") match {
        case Some(PNum(v)) if v >= 0 && v <= o.data.length => v.toInt
        case _                                             => return Vector.empty
      }
      val hdr = new Lexer(o.data, 0, first)
      val pairs = Vector.newBuilder[(Int, Int)]
      var i = 0
      var ok = true
      while (i < n && ok) {
        try {
          (hdr.parseValue(), hdr.parseValue()) match {
            case (PNum(num), PNum(off)) if num >= 0 && off >= 0 =>
              pairs += ((num.toInt, first + off.toInt))
            case _ => ok = false
          }
        } catch { case _: PdfParseException => ok = false }
        i += 1
      }
      for ((num, at) <- pairs.result() if at < o.data.length) {
        try {
          val lx = new Lexer(o.data, at, o.data.length)
          val (dict, value) = lx.parseValue() match {
            case PDict(m) => (m, PNull: PVal)
            case other    => (Map.empty[String, PVal], other) // scalar/array object
          }
          out += PObj(num, dict, null, 0, 0, exact = false, value)
        } catch { case _: PdfParseException => () }
      }
    } catch { case _: PdfParseException => () }
    out.result()
  }

  @inline private def startsWithAt(b: Array[Byte], at: Int, s: String): Boolean = {
    if (at + s.length > b.length) return false
    var i = 0
    while (i < s.length) { if (b(at + i) != s.charAt(i)) return false; i += 1 }
    true
  }

  /** Is `endstream` at or just after pos (allowing EOL bytes)? */
  private def endstreamNear(b: Array[Byte], pos: Int): Boolean = {
    var p = pos
    var k = 0
    while (p < b.length && k < 4 && (b(p) == '\r' || b(p) == '\n' || b(p) == ' ')) { p += 1; k += 1 }
    startsWithAt(b, p, "endstream")
  }

  /** Back off EOL bytes immediately before `endstream`. */
  private def trimEol(b: Array[Byte], e: Int): Int = {
    var p = e
    while (p > 0 && (b(p - 1) == '\n' || b(p - 1) == '\r')) p -= 1
    p
  }

  // ---- page tree -----------------------------------------------------------

  /** MediaBox with its origin — real cropped/offset files have non-zero
    * lower-left corners, which shift every coordinate. */
  private[pdf] final case class MBox(x0: Double, y0: Double, w: Double, h: Double)

  private final case class PageRec(dict: Map[String, PVal], mediaBox: MBox,
      resources: Map[String, PVal], rotate: Int)

  private def mediaBoxOf(dict: Map[String, PVal], inherited: MBox): MBox =
    dict.get("MediaBox") match {
      case Some(PArr(Vector(PNum(ax), PNum(ay), PNum(bx), PNum(by)))) =>
        MBox(math.min(ax, bx), math.min(ay, by), math.abs(bx - ax), math.abs(by - ay))
      case _ => inherited
    }

  private def rotateOf(dict: Map[String, PVal], inherited: Int): Int =
    dict.get("Rotate") match {
      case Some(PNum(r)) => (((r.toInt % 360) + 360) % 360) / 90 * 90
      case _             => inherited
    }

  private val DefaultMediaBox = MBox(0, 0, 612.0, 792.0)

  /** Upright page dims + the normalization CTM for a page's MediaBox origin
    * and /Rotate attribute — the analogue of the reference's orientation
    * classify/correct stage (preprocess.rs:101-143: rotate the image back,
    * keep the corrected dims). Content interpreted under this initial CTM
    * lands in upright (0,0)-origin coordinates; null when it is identity. */
  private[pdf] def normalizeCtm(mb: MBox, rot: Int): ((Double, Double), Array[Double]) = rot match {
    case 90  => ((mb.h, mb.w), Array(0.0, -1.0, 1.0, 0.0, -mb.y0, mb.w + mb.x0))
    case 180 => ((mb.w, mb.h), Array(-1.0, 0.0, 0.0, -1.0, mb.w + mb.x0, mb.h + mb.y0))
    case 270 => ((mb.h, mb.w), Array(0.0, 1.0, -1.0, 0.0, mb.h + mb.y0, -mb.x0))
    case _ =>
      ((mb.w, mb.h),
        if (mb.x0 == 0 && mb.y0 == 0) null else Array(1.0, 0.0, 0.0, 1.0, -mb.x0, -mb.y0))
  }

  private def collectPages(objs: Map[Int, PObj], order: Vector[Int],
      trailer: Option[PDict]): Vector[PageRec] = {
    def dictOf(ref: PVal): Option[Map[String, PVal]] = ref match {
      case PRef(n)  => objs.get(n).map(_.dict)
      case PDict(m) => Some(m)
      case _        => None
    }
    val out = Vector.newBuilder[PageRec]
    var found = false
    def walk(node: Map[String, PVal], inherited: MBox,
        inhRes: Map[String, PVal], inhRot: Int, depth: Int): Unit = {
      if (depth > 32) return
      val mb = mediaBoxOf(node, inherited)
      val res = node.get("Resources").flatMap(dictOf).getOrElse(inhRes)
      val rot = rotateOf(node, inhRot)
      node.get("Type") match {
        case Some(PName("Pages")) =>
          node.get("Kids") match {
            case Some(PArr(kids)) =>
              for (k <- kids) dictOf(k) match {
                case Some(d) => walk(d, mb, res, rot, depth + 1)
                // a kid the pool cannot resolve (its object lost to damage —
                // typically a corrupt /ObjStm that could not be unpacked)
                // would make the document silently SHORTER: error row, the
                // same contract as an undecodable content stream
                case None => throw new PdfParseException(
                  s"page tree kid $k unresolvable (object lost to damage): pages would be silently missing")
              }
            case _ => ()
          }
        case Some(PName("Page")) => out += PageRec(node, mb, res, rot); found = true
        case _ => ()
      }
    }
    // /Root from the trailer keyword; xref-stream files have no `trailer` —
    // their trailer dict IS the /Type /XRef stream dict; failing both, any
    // /Type /Catalog object anchors the walk (damaged-but-treed files)
    val rootDict: Option[Map[String, PVal]] =
      trailer.flatMap(t => t.m.get("Root").flatMap(dictOf))
        .orElse(order.reverseIterator.map(objs)
          .find(_.dict.get("Type").contains(PName("XRef")))
          .flatMap(_.dict.get("Root")).flatMap(dictOf))
        .orElse(order.reverseIterator.map(objs)
          .find(_.dict.get("Type").contains(PName("Catalog"))).map(_.dict))
    for {
      root <- rootDict
      pagesRef <- root.get("Pages")
      pages <- dictOf(pagesRef)
    } walk(pages, DefaultMediaBox, Map.empty, 0, 0)
    if (!found) {
      // no walkable tree at all: file order of Page objects. `order` lists
      // every redefinition (incremental updates); keep only the LAST
      // occurrence per object number, matching the map's last-wins semantics.
      val seen = scala.collection.mutable.HashSet.empty[Int]
      val lastWins = order.reverseIterator.filter(seen.add).toVector.reverse
      for (n <- lastWins) {
        val o = objs(n)
        if (o.dict.get("Type").contains(PName("Page")))
          out += PageRec(o.dict, mediaBoxOf(o.dict, DefaultMediaBox),
            o.dict.get("Resources").flatMap(dictOf).getOrElse(Map.empty),
            rotateOf(o.dict, 0))
      }
    }
    out.result()
  }

  // ---- content interpretation ----------------------------------------------

  /** Allocator for the page's decoded-offset space: every decoded (non-exact)
    * stream claims a contiguous range in interpretation order, so `_dec` span
    * offsets stay total even when Form XObjects interleave with the page's
    * own content streams. */
  private[pdf] final class DecodedSpace {
    private var next = 0L
    def claim(n: Int): Long = { val b = next; next += n; b }
    /** total decoded bytes claimed so far — the exclusive upper bound every
      * decoded-space span offset must respect (parse asserts it per unit) */
    def total: Long = next
    // Per-page Form-XObject EXECUTION budget: the depth cap alone still
    // allows breadth^depth amplification (one self-inheriting form invoked
    // 200× per level = 200^4 stream executions from a ~100 KB file). Real
    // pages run a handful of forms; exhaustion throws (error row), never
    // silently truncates.
    private var forms = MaxFormExecs
    def claimForm(): Unit = {
      forms -= 1
      if (forms < 0)
        throw new PdfParseException(
          s"Form XObject execution budget exceeded ($MaxFormExecs per page)")
    }
  }

  /** One resolved /Subtype /Form XObject: its stream, placement /Matrix, and
    * its own resolved resources (empty maps inherit the caller's). */
  private[pdf] final case class XForm(obj: PObj, matrix: Array[Double],
      fonts: Map[String, FontInfo], xobjs: Map[String, XForm])

  /** Max form-recursion depth (resolution AND interpretation) — real nesting
    * is 1-2 deep; a reference cycle is adversarial. */
  private val MaxFormDepth = 4

  /** Max Form-XObject EXECUTIONS per page ([[DecodedSpace.claimForm]]) —
    * the global budget complementing the per-chain depth cap. */
  private val MaxFormExecs = 64

  /** Resolve a /Resources /XObject dict into Form XObjects (images and other
    * subtypes are ignored — no raster path here). Nested form resources
    * resolve recursively, depth-capped. A /Subtype /Form whose stream could
    * NOT be decoded (unsupported filter/predictor, data == null) is KEPT in
    * the map: executing it throws (error row) instead of silently dropping
    * its text. `memo` is shared across the whole parse, keyed (obj, depth):
    * pages sharing /Resources resolve each form (and its fonts' ToUnicode
    * CMaps) once, and repeated references cannot amplify resolution cost
    * breadth^depth. */
  private def xobjectsOf(resources: Map[String, PVal], objs: Map[Int, PObj],
      depth: Int,
      memo: scala.collection.mutable.HashMap[(Int, Int), Option[XForm]] =
        scala.collection.mutable.HashMap.empty): Map[String, XForm] = {
    // one level PAST the execution cap: a form running at the deepest legal
    // formDepth still resolves its nested names, so exceeding the cap is the
    // execution-side honesty THROW (acyclic) — not a silent name-miss here
    if (depth > MaxFormDepth) return Map.empty
    def dictOf(v: PVal): Option[Map[String, PVal]] = v match {
      case PRef(n)  => objs.get(n).map(_.dict)
      case PDict(m) => Some(m)
      case _        => None
    }
    resources.get("XObject").flatMap(dictOf) match {
      case Some(xd) =>
        val out = Map.newBuilder[String, XForm]
        for ((name, ref) <- xd) ref match {
          case PRef(n) =>
            // explicit get/compute/update: the compute recurses into this
            // same memo, which getOrElseUpdate's reentrancy contract forbids
            val xf = memo.get((n, depth)) match {
              case Some(v) => v
              case None =>
                val v: Option[XForm] = objs.get(n) match {
                  case Some(o) if o.dict.get("Subtype").contains(PName("Form")) =>
                    val matrix = o.dict.get("Matrix") match {
                      case Some(PArr(Vector(PNum(a), PNum(b), PNum(c), PNum(d), PNum(e), PNum(f)))) =>
                        Array(a, b, c, d, e, f)
                      case _ => Array(1.0, 0.0, 0.0, 1.0, 0.0, 0.0)
                    }
                    if (o.data == null) // undecodable: keep, execution throws
                      Some(XForm(o, matrix, Map.empty, Map.empty))
                    else {
                      val res = o.dict.get("Resources").flatMap(dictOf).getOrElse(Map.empty)
                      Some(XForm(o, matrix, fontsOf(res, objs),
                        xobjectsOf(res, objs, depth + 1, memo)))
                    }
                  case _ => None // image/other XObjects: no raster path, skipped
                }
                memo.update((n, depth), v)
                v
            }
            for (x <- xf) out += name -> x
          case _ => ()
        }
        out.result()
      case _ => Map.empty
    }
  }

  /** One recognized text run in page space (PDF coords, y up, baseline).
    * `widthEm` is the run's advance in em (real /Widths//W metrics when the
    * font declared any, else [[AvgGlyphWidthEm]] per decoded char; Tz
    * horizontal scaling always folded in, Tc/Tw spacing folded in under
    * real metrics); `decoded`
    * marks byte offsets in DECODED-stream space (compressed content — the
    * offsets index the concatenation of the page's decoded content streams)
    * instead of raw-file space. */
  private[pdf] final case class GlyphRun(x: Double, yBase: Double, size: Double,
      text: String, widthEm: Double, beginByte: Long, endByte: Long,
      decoded: Boolean)

  /** One painted `re` rectangle in PDF user space (x, y, w, h; y up). */
  private[pdf] final case class PaintedRect(x: Double, y: Double, w: Double, h: Double)

  /** Interpret one content stream's text operators. `base` maps content
    * offsets to file offsets when `exact`; otherwise every run carries
    * DECODED-stream offsets (a range claimed from `space`, the page's
    * decoded-offset allocator covering content streams and executed Form
    * XObjects in interpretation order) and is flagged `decoded` — the
    * coordinate-space contract surfaces as span kind `*_dec` downstream,
    * mirroring the `charset` column precedent for transcoded HTML.
    * Painted `re` rectangles (committed
    * by a stroke/fill operator, discarded by `n`) are collected into `rects`
    * for ruling-line table detection. `fonts` are the page's resolved
    * /Resources fonts: show-time strings re-decode through the active font's
    * /ToUnicode CMap; a Type0 font without one throws (error-row contract).
    * The CTM (cm) and the text state (font/size/leading/spacing) are
    * saved/restored by q/Q; the CTM is tracked and applied to emitted
    * positions, sizes and rectangles, so translated/scaled content places
    * correctly; all six coefficients compose, so rotated content lands at
    * its rotated position (its box stays axis-aligned — documented bound). */
  private[pdf] def interpretContent(data: Array[Byte], base: Int, exact: Boolean,
      out: scala.collection.mutable.ArrayBuffer[GlyphRun],
      rects: scala.collection.mutable.ArrayBuffer[PaintedRect] = scala.collection.mutable.ArrayBuffer.empty,
      fonts: Map[String, FontInfo] = Map.empty,
      xobjs: Map[String, XForm] = Map.empty,
      space: DecodedSpace = new DecodedSpace,
      ctm0: Array[Double] = null, formDepth: Int = 0,
      /** caller's text state for Form XObject execution — forms inherit the
        * full graphics state incl. font/size/spacing (PDF 32000-1 §8.10.2);
        * a form showing text without an inner Tf relies on it. null = page
        * entry defaults. Changes inside the form do NOT leak back (Do is an
        * implicit q/Q; the recursion's locals provide that). */
      ts0: (Double, FontInfo, Double, Double, Double, Double) = null,
      /** object numbers of the forms on the current execution stack:
        * distinguishes a CYCLE (re-entering a form already running — its
        * content is an infinite fixpoint; one pass IS the content, terminate
        * silently) from acyclic depth exhaustion (real nested text below the
        * cap — error row, never silent truncation). */
      formPath: Set[Int] = Set.empty): Unit = {
    // decoded streams claim their offset range on entry (interpretation order)
    val decodedBase = if (exact) 0L else space.claim(data.length)
    val lx = new Lexer(data, 0, data.length)
    // text matrix (a b c d e f) and line matrix; leading; font size
    var a = 1.0; var bb = 0.0; var c = 0.0; var d = 1.0; var e = 0.0; var f = 0.0
    var la = 1.0; var lb = 0.0; var lc = 0.0; var ld = 1.0; var le = 0.0; var lf = 0.0
    // current transformation matrix + q/Q save stack; a Form XObject starts
    // from the caller's CTM composed with its /Matrix (passed via ctm0)
    var ca = 1.0; var cb = 0.0; var cc = 0.0; var cd = 1.0; var ce = 0.0; var cf = 0.0
    if (ctm0 != null) { ca = ctm0(0); cb = ctm0(1); cc = ctm0(2); cd = ctm0(3); ce = ctm0(4); cf = ctm0(5) }
    val ctmStack = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    val textStack = scala.collection.mutable.ArrayBuffer
      .empty[(Double, FontInfo, Double, Double, Double, Double)]
    var leading = if (ts0 != null) ts0._3 else 0.0
    var fontSize = if (ts0 != null) ts0._1 else 12.0
    var curFont: FontInfo = if (ts0 != null) ts0._2 else null
    // text-state spacing (PDF 32000-1 §9.3): Tc char spacing / Tw word
    // spacing (text-space units) and Tz horizontal scaling (stored as a
    // fraction). Graphics-state params: saved/restored by q/Q alongside
    // the CTM (with font, size and leading).
    var charSp = if (ts0 != null) ts0._4 else 0.0
    var wordSp = if (ts0 != null) ts0._5 else 0.0
    var hScale = if (ts0 != null) ts0._6 else 1.0
    var operands = List.empty[PVal] // reversed
    val pendingRects = scala.collection.mutable.ArrayBuffer.empty[PaintedRect]
    def num(v: PVal): Double = v match { case PNum(x) => x; case _ => 0.0 }
    def setTm(v: Array[Double]): Unit = {
      a = v(0); bb = v(1); c = v(2); d = v(3); e = v(4); f = v(5)
      la = a; lb = bb; lc = c; ld = d; le = e; lf = f
    }
    def td(tx: Double, ty: Double): Unit = {
      // tlm = translate(tx,ty) x tlm; tm = tlm
      le = tx * la + ty * lc + le
      lf = tx * lb + ty * ld + lf
      a = la; bb = lb; c = lc; d = ld; e = le; f = lf
    }
    def offs(s: PStr): (Long, Long) =
      if (exact) ((base + s.b).toLong, (base + s.e).toLong)
      else (decodedBase + s.b, decodedBase + s.e)
    def showText(s: PStr): String =
      if (curFont == null) s.s else curFont.decode(s.raw, s.s)
    def widthOf(s: PStr, text: String): Double = {
      val glyphs =
        if (curFont == null) AvgGlyphWidthEm * text.length
        else curFont.widthEm(s.raw, text.length)
      // Tc/Tw are additive text-space units, folded to em via the active
      // size — applied only under REAL width metrics (same policy as TJ
      // kerning: on the flat 0.5 em grid they would be false precision).
      // Tw hits single-byte code 0x20 only; multi-byte/Type0 codes never
      // word-space (PDF 32000-1 §9.3.3). Tz, a pure multiplier meaningful
      // at any precision, applies in both modes.
      val spaced =
        if (curFont != null && curFont.hasMetrics && fontSize != 0.0 &&
            (charSp != 0.0 || wordSp != 0.0)) {
          val cl = math.max(1, curFont.codeLen)
          val nCodes = s.raw.length / cl
          var nSp = 0
          if (cl == 1 && !curFont.type0) {
            var i = 0
            while (i < s.raw.length) { if (s.raw(i) == 0x20) nSp += 1; i += 1 }
          }
          glyphs + (nCodes * charSp + nSp * wordSp) / fontSize
        } else glyphs
      math.max(0.0, spaced * hScale) // adversarial negative Tc: clamp like TJ
    }
    def emit(text: String, widthEm: Double, b0: Long, e0: Long): Unit = {
      if (text.nonEmpty) {
        val detTm = math.sqrt(math.abs(a * d - bb * c))
        val detCtm = math.sqrt(math.abs(ca * cd - cb * cc))
        val scale = (if (detTm == 0.0) 1.0 else detTm) * (if (detCtm == 0.0) 1.0 else detCtm)
        // device position = text-space origin through Tm (already in e,f) then CTM
        val dx = e * ca + f * cc + ce
        val dy = e * cb + f * cd + cf
        out += GlyphRun(dx, dy, fontSize * scale, text, widthEm, b0, e0, !exact)
      }
      // the pen advances for every SHOWN glyph — including runs whose
      // ToUnicode maps every code to the empty string (bfchar <03> <> on
      // control/ornament glyphs): skipping the advance would stack the next
      // run on top of the skipped one and corrupt line/column geometry.
      // Advance along the text-space x axis through BOTH Tm components, so
      // rotated text matrices advance correctly.
      e += widthEm * fontSize * a
      f += widthEm * fontSize * bb
    }
    var guard = 0
    while (!lx.atEnd && guard < 2000000) {
      guard += 1
      val tok =
        try lx.nextToken()
        catch {
          case e: PdfParseException =>
            // skipping the rest of the stream here would silently drop
            // every remaining Tj/TJ — partial page text with error="" —
            // the same class the undecodable-stream throw above guards;
            // propagate to the document-level error row instead
            throw new PdfParseException(
              s"content stream token error at offset ${lx.pos}: ${e.getMessage}")
        }
      tok match {
        case Left(v) => operands ::= v
        case Right(op) =>
          op match {
            case "BT" =>
              a = 1; bb = 0; c = 0; d = 1; e = 0; f = 0
              la = 1; lb = 0; lc = 0; ld = 1; le = 0; lf = 0
            case "ET" => ()
            case "Tf" => operands match {
              case PNum(s) :: rest =>
                fontSize = s
                rest match {
                  case PName(fn) :: _ => curFont = fonts.getOrElse(fn, null)
                  case _              => ()
                }
              case _ => ()
            }
            case "TL" => operands match {
              case PNum(l) :: _ => leading = l
              case _            => ()
            }
            case "Tc" => operands match {
              case PNum(x) :: _ => charSp = x
              case _            => ()
            }
            case "Tw" => operands match {
              case PNum(x) :: _ => wordSp = x
              case _            => ()
            }
            case "Tz" => operands match {
              // |x|: a mirrored run still occupies its absolute width
              case PNum(x) :: _ => hScale = math.abs(x) / 100.0
              case _            => ()
            }
            case "Td" => operands match {
              case PNum(ty) :: PNum(tx) :: _ => td(tx, ty)
              case _                         => ()
            }
            case "TD" => operands match {
              case PNum(ty) :: PNum(tx) :: _ => leading = -ty; td(tx, ty)
              case _                         => ()
            }
            case "Tm" => operands match {
              case PNum(f6) :: PNum(e5) :: PNum(d4) :: PNum(c3) :: PNum(b2) :: PNum(a1) :: _ =>
                setTm(Array(a1, b2, c3, d4, e5, f6))
              case _ => ()
            }
            case "T*" => td(0, -leading)
            case "Tj" => operands match {
              case (s: PStr) :: _ =>
                val (b0, e0) = offs(s); val t = showText(s); emit(t, widthOf(s, t), b0, e0)
              case _ => ()
            }
            case "'" => operands match {
              case (s: PStr) :: _ =>
                td(0, -leading); val (b0, e0) = offs(s); val t = showText(s); emit(t, widthOf(s, t), b0, e0)
              case _ => ()
            }
            case "\"" => operands match {
              // aw ac string " — sets word/char spacing STATE, then shows
              case (s: PStr) :: rest =>
                rest match {
                  case PNum(ac) :: PNum(aw) :: _ => charSp = ac; wordSp = aw
                  case _                         => ()
                }
                td(0, -leading); val (b0, e0) = offs(s); val t = showText(s); emit(t, widthOf(s, t), b0, e0)
              case _ => ()
            }
            case "TJ" => operands match {
              case PArr(parts) :: _ =>
                val sb = new java.lang.StringBuilder(32)
                var w = 0.0
                // kerning adjustments (thousandths of text space, subtracted
                // from the advance) are applied only under REAL width metrics
                // — in flat-estimate mode the coarse 0.5 em grid is the whole
                // geometry and kerning would just add noise to it
                val kern = curFont != null && curFont.hasMetrics
                var b0 = -1L; var e0 = -1L
                for (p <- parts) p match {
                  case s: PStr =>
                    val t = showText(s)
                    sb.append(t)
                    w += widthOf(s, t)
                    val (pb, pe) = offs(s)
                    if (b0 < 0) b0 = pb
                    e0 = pe
                  // horizontal scaling multiplies kern displacements too
                  // (widthOf already folds it into the string parts)
                  case PNum(adj) if kern => w -= adj / 1000.0 * hScale
                  case _                 => ()
                }
                if (w < 0) w = 0 // adversarial positive adjustments
                if (sb.length > 0) emit(sb.toString, w, b0, e0)
              case _ => ()
            }
            case "re" => operands match {
              // current path gains a rectangle; committed only when painted.
              // Corners map through the CTM; the kept rect is the bounding
              // box (exact under translate/scale, the common real-PDF case).
              case PNum(h) :: PNum(w) :: PNum(y) :: PNum(x) :: _ =>
                val x1 = x * ca + y * cc + ce; val y1 = x * cb + y * cd + cf
                val x2 = (x + w) * ca + (y + h) * cc + ce
                val y2 = (x + w) * cb + (y + h) * cd + cf
                pendingRects += PaintedRect(math.min(x1, x2), math.min(y1, y2),
                  math.abs(x2 - x1), math.abs(y2 - y1))
              case _ => ()
            }
            case "S" | "s" | "f" | "F" | "f*" | "B" | "B*" | "b" | "b*" =>
              rects ++= pendingRects; pendingRects.clear()
            case "n" => pendingRects.clear() // no-paint (clip path): discard
            case "q" =>
              ctmStack += Array(ca, cb, cc, cd, ce, cf)
              // text-state params are part of the graphics state (PDF
              // 32000-1 §8.4.1): generators rely on q .. Tf/Tc/Tz .. Q
              // restoring the outer font and spacing
              textStack += ((fontSize, curFont, leading, charSp, wordSp, hScale))
            case "Q" =>
              if (ctmStack.nonEmpty) {
                val m = ctmStack.remove(ctmStack.length - 1)
                ca = m(0); cb = m(1); cc = m(2); cd = m(3); ce = m(4); cf = m(5)
              }
              if (textStack.nonEmpty) {
                val t = textStack.remove(textStack.length - 1)
                fontSize = t._1; curFont = t._2; leading = t._3
                charSp = t._4; wordSp = t._5; hScale = t._6
              }
            case "cm" => operands match {
              // ctm' = M x ctm (new matrix composes BEFORE the old one)
              case PNum(f6) :: PNum(e5) :: PNum(d4) :: PNum(c3) :: PNum(b2) :: PNum(a1) :: _ =>
                val na = a1 * ca + b2 * cc; val nb = a1 * cb + b2 * cd
                val nc = c3 * ca + d4 * cc; val nd = c3 * cb + d4 * cd
                val ne = e5 * ca + f6 * cc + ce; val nf = e5 * cb + f6 * cd + cf
                ca = na; cb = nb; cc = nc; cd = nd; ce = ne; cf = nf
              case _ => ()
            }
            case "Do" => operands match {
              // Form XObject execution: real generators put headers, stamps,
              // and sometimes ALL content in forms; the form's content runs
              // under CTM' = /Matrix × CTM with its own resources (falling
              // back to the caller's), depth-capped against cycles. Image
              // XObjects are not in `xobjs` and are ignored.
              case PName(nm) :: _ => xobjs.get(nm) match {
                // cycle: this form is already ON the execution stack — its
                // expansion is infinite and one pass already emitted its
                // content; terminating silently is the fixpoint, not a loss
                case Some(xf) if formPath.contains(xf.obj.num) => ()
                case Some(xf) =>
                  // acyclic depth exhaustion: real text sits below the cap —
                  // silently skipping would truncate the document (contract)
                  if (formDepth >= MaxFormDepth)
                    throw new PdfParseException(
                      s"Form XObject nesting deeper than MaxFormDepth=$MaxFormDepth (acyclic): text would be silently missing")
                  // an executed form whose stream could not be decoded would
                  // silently LOSE its text — error row instead (contract)
                  if (xf.obj.data == null)
                    throw new PdfParseException(
                      s"Form XObject /$nm cannot be decoded (unsupported or corrupt filter/predictor): text would be silently missing")
                  space.claimForm() // global per-page budget; throws when spent
                  val m = xf.matrix
                  val na = m(0) * ca + m(1) * cc; val nb = m(0) * cb + m(1) * cd
                  val nc = m(2) * ca + m(3) * cc; val nd = m(2) * cb + m(3) * cd
                  val ne = m(4) * ca + m(5) * cc + ce; val nf = m(4) * cb + m(5) * cd + cf
                  interpretContent(xf.obj.data, xf.obj.rawStart, xf.obj.exact,
                    out, rects,
                    if (xf.fonts.nonEmpty) xf.fonts else fonts,
                    if (xf.xobjs.nonEmpty) xf.xobjs else xobjs,
                    space, Array(na, nb, nc, nd, ne, nf), formDepth + 1,
                    // forms inherit the caller's text state (§8.10.2): a
                    // form showing text without an inner Tf must use the
                    // inherited font — NOT the Latin-1 lexer default, which
                    // on an inherited Type0 font would be silent mojibake
                    ts0 = (fontSize, curFont, leading, charSp, wordSp, hScale),
                    formPath = formPath + xf.obj.num)
                case _ => ()
              }
              case _ => ()
            }
            case "BI" =>
              // inline image: skip BI <dict> ID <binary> EI. The payload is
              // raw binary that can contain the byte pair "EI", so a naive
              // search can resume the lexer MID-IMAGE where junk bytes may
              // parse as (string) Tj — silently wrong text. Skip from the
              // delimited ID token to a DELIMITED EI instead.
              lx.pos = skipInlineImage(data, lx.pos)
            case _ => () // W/m/l/gs/color ops: consumed, ignored
          }
          operands = Nil
      }
    }
  }

  // ---- ruling-line table detection -----------------------------------------

  /** Merge sorted coordinates closer than `tol` into one representative
    * (mean of the run) — ruling strokes drawn twice or a half-point apart
    * are one grid line. */
  private def dedupCoords(sorted: Vector[Double], tol: Double): Vector[Double] = {
    if (sorted.isEmpty) return Vector.empty
    val out = Vector.newBuilder[Double]
    var runStart = 0
    var i = 1
    def flush(end: Int): Unit = {
      var s = 0.0; var k = runStart
      while (k < end) { s += sorted(k); k += 1 }
      out += s / (end - runStart)
    }
    while (i < sorted.length) {
      if (sorted(i) - sorted(i - 1) > tol) { flush(i); runStart = i }
      i += 1
    }
    flush(sorted.length)
    out.result()
  }

  /** Geometric cell detection from drawn ruling lines — the genuine-bytes
    * analogue of the reference's wired-table cell detector (it finds ruling
    * lines in the rendered raster; we read them from the painted `re`
    * rectangles that drew them). Thin painted rects are rulings; touching
    * rulings cluster into one grid; distinct vertical x's and horizontal y's
    * become the cell boundaries. Returns specs in page space (y down). */
  private[pdf] def detectRulingTables(rects: Vector[PaintedRect], ph: Double): Vector[TableSpec] = {
    val rulings: Vector[Box] = rects.flatMap { r0 =>
      // normalize negative extents (PDF permits negative w/h rects)
      val x = math.min(r0.x, r0.x + r0.w); val w = math.abs(r0.w)
      val y = math.min(r0.y, r0.y + r0.h); val h = math.abs(r0.h)
      val thin = math.min(w, h) <= RulingMaxThickness
      val long = math.max(w, h) >= RulingMinLen
      if (thin && long) Some(Box(x, ph - y - h, x + w, ph - y)) else None
    }
    val n = rulings.length
    if (n < 4 || n > MaxRulings) return Vector.empty // minimal grid = 2H + 2V; cap vs O(n²)
    val parent = Array.tabulate(n)(identity)
    def root(i: Int): Int = { var r = i; while (parent(r) != r) r = parent(r); r }
    for (i <- 0 until n; j <- (i + 1) until n) {
      val a = rulings(i); val b = rulings(j)
      val touch = a.x1 - 1.0 <= b.x2 && b.x1 - 1.0 <= a.x2 &&
        a.y1 - 1.0 <= b.y2 && b.y1 - 1.0 <= a.y2
      if (touch) {
        val (ri, rj) = (root(i), root(j))
        if (ri != rj) parent(math.max(ri, rj)) = math.min(ri, rj)
      }
    }
    val out = Vector.newBuilder[TableSpec]
    for ((_, g) <- rulings.indices.groupBy(root).toVector.sortBy(_._1)) {
      val hs = g.map(rulings).filter(r => r.w >= r.h)
      val vs = g.map(rulings).filter(r => r.h > r.w)
      if (hs.size >= 2 && vs.size >= 2) {
        val ys = dedupCoords(hs.map(_.cy).sorted.toVector, RulingCoordTol)
        val xs = dedupCoords(vs.map(_.cx).sorted.toVector, RulingCoordTol)
        val rows = ys.size - 1
        val cols = xs.size - 1
        if (rows >= 1 && cols >= 1 && rows * cols >= 2) {
          val cells = Vector.newBuilder[Box]
          for (rj <- 0 until rows; ci <- 0 until cols)
            cells += Box(xs(ci), ys(rj), xs(ci + 1), ys(rj + 1))
          out += TableSpec(Box(xs.head, ys.head, xs.last, ys.last), cells.result())
        }
      }
    }
    out.result()
  }

  // ---- assembly ------------------------------------------------------------

  /** Parse a real PDF into `PdfParser`'s page model, or throw
    * [[PdfParseException]]. */
  def parse(bytes: Array[Byte]): Vector[PdfPage] = {
    val (objs0, order0, trailer) = scanObjects(bytes)
    if (objs0.isEmpty)
      throw new PdfParseException("real PDF: no parseable objects (truncated or binary-damaged)")
    // /Encrypt honesty gate: encrypted streams would either fail as "corrupt
    // FlateDecode" or — worse — surface ciphertext as text from an
    // unencrypted-looking literal. Detect the trailer /Encrypt (keyword
    // trailer or xref-stream dict) and error CLEANLY before touching content.
    if (trailer.exists(_.m.contains("Encrypt")) ||
      order0.exists { n =>
        val d = objs0(n).dict
        d.get("Type").contains(PName("XRef")) && d.contains("Encrypt")
      })
      throw new PdfParseException("encrypted PDF (/Encrypt present): decryption not supported")
    val (objs, order) = redecode(bytes, objs0, order0)
    val pageRecs = collectPages(objs, order, trailer)
    val orphanMode = pageRecs.isEmpty
    // orphan fallback: no page tree at all — every BT-bearing stream is a page
    val orphanStreams: Vector[PObj] =
      if (orphanMode) {
        // incremental updates list a redefined object number twice in `order`;
        // keep the last occurrence (matching the map's last-wins content)
        val seen = scala.collection.mutable.HashSet.empty[Int]
        order.reverseIterator.filter(seen.add).toVector.reverse
          .map(objs).filter(o => o.data != null && find(o.data, 0, "BT") >= 0)
      } else Vector.empty
    if (orphanMode && orphanStreams.isEmpty)
      throw new PdfParseException("real PDF: no page objects and no text-bearing streams")

    def contentsOf(rec: PageRec): Vector[PObj] = {
      // a missing element of a content chain is LOST TEXT, not a skippable
      // detail — partial page text with error="" would violate the
      // never-silently-partial contract
      def expand(vs: Vector[PVal]): Vector[PObj] = vs.map {
        case PRef(n) => objs.getOrElse(n,
          throw new PdfParseException(
            s"page /Contents references missing object $n: text would be silently missing"))
        case other => throw new PdfParseException(
          s"page /Contents array holds a non-reference entry ($other)")
      }
      rec.dict.get("Contents") match {
        case Some(PRef(n)) => objs.get(n) match {
          // spec 7.7.3.3: /Contents may be a ref to an ARRAY object of
          // stream refs — a data-less PObj whose value is the array
          case Some(o) if o.data == null && o.value.isInstanceOf[PArr] =>
            expand(o.value.asInstanceOf[PArr].vs.toVector)
          case Some(o) => Vector(o)
          case None => throw new PdfParseException(
            s"page /Contents references missing object $n: text would be silently missing")
        }
        case Some(PArr(vs)) => expand(vs.toVector)
        case _              => Vector.empty
      }
    }

    val pages = Vector.newBuilder[PdfPage]
    var totalRuns = 0
    // font and XObject maps are shared across pages with identical
    // /Resources (the norm); xformMemo additionally shares each resolved
    // form (and its fonts' parsed ToUnicode CMaps) across DIFFERENT
    // resources dicts referencing the same form object
    val fontCache = scala.collection.mutable.HashMap.empty[Map[String, PVal], Map[String, FontInfo]]
    val xobjCache = scala.collection.mutable.HashMap.empty[Map[String, PVal], Map[String, XForm]]
    val xformMemo = scala.collection.mutable.HashMap.empty[(Int, Int), Option[XForm]]
    val units: Vector[(Vector[PObj], (Double, Double), Map[String, FontInfo], Map[String, XForm], Array[Double])] =
      if (orphanMode) orphanStreams.map(o =>
        (Vector(o), (DefaultMediaBox.w, DefaultMediaBox.h),
          Map.empty[String, FontInfo], Map.empty[String, XForm], null))
      else pageRecs.map { r =>
        // orientation normalization: MediaBox origin + /Rotate fold into the
        // initial CTM so every run lands in upright (0,0)-origin coordinates
        val (dims, ctm0) = normalizeCtm(r.mediaBox, r.rotate)
        (contentsOf(r), dims,
          fontCache.getOrElseUpdate(r.resources, fontsOf(r.resources, objs)),
          xobjCache.getOrElseUpdate(r.resources,
            xobjectsOf(r.resources, objs, 0, xformMemo)), ctm0)
      }
    for ((streams, (pw, ph), fonts, xobjs, ctm0) <- units) {
      val runs = new scala.collection.mutable.ArrayBuffer[GlyphRun]()
      val rects = new scala.collection.mutable.ArrayBuffer[PaintedRect]()
      // decoded-space offsets accumulate over the page's decoded streams in
      // interpretation order (content streams AND executed forms), so
      // multi-stream pages keep a total `_dec` contract (DecodedSpace)
      val space = new DecodedSpace
      for (o <- streams) {
        // a page CONTENT stream that could not be decoded (even by the late
        // re-decode pass) would silently LOSE its text if skipped — mixed
        // pages would emit PARTIAL text with error="" — so it is an error
        // row instead, same contract as undecodable Form XObjects. The
        // rawEnd > rawStart guard scopes the throw to genuine failed
        // STREAMS: a /Contents ref to a non-stream object (null/dict/scalar,
        // stored with rawStart == rawEnd) carries no text to lose and is
        // skipped exactly as before.
        if (o.data == null) {
          if (o.rawEnd > o.rawStart)
            throw new PdfParseException(
              s"page content stream ${o.num} cannot be decoded (unsupported or corrupt filter/predictor): text would be silently missing")
        } else
          interpretContent(o.data, o.rawStart, o.exact,
            runs, rects, fonts, xobjs, space, ctm0)
      }
      totalRuns += runs.length
      // decoded-space invariant: every decoded-flagged run's byte range must
      // lie inside the space actually claimed this unit — offset drift (a
      // DecodedSpace accounting bug, a span split gone wrong upstream) is a
      // loud error row here, never a silently unsliceable span (the golden
      // gate cannot bound `_dec` offsets, so the bound lives at the source)
      for (r <- runs if r.decoded)
        if (r.beginByte < 0 || r.endByte < r.beginByte || r.endByte > space.total)
          throw new PdfParseException(
            s"decoded-space span [${r.beginByte},${r.endByte}) outside claimed total ${space.total}")
      val tables = detectRulingTables(rects.toVector, ph)
      // font-size-derived titles: a run much larger than the page's
      // (lower-)median body size is a heading. A run inside a detected table grid is always cell
      // content (a large-font header row must not escape its table).
      val titles = Vector.newBuilder[TitleBox]
      val body = Vector.newBuilder[TextBox]
      val median =
        if (runs.isEmpty) 0.0
        else {
          val sorted = runs.map(_.size).toArray.sorted
          sorted((sorted.length - 1) / 2)
        }
      for (r <- runs) {
        val w = r.widthEm * r.size
        val yTop = ph - r.yBase - AscentEm * r.size
        val tb = TextBox(Box(r.x, yTop, r.x + w, yTop + r.size), r.text, r.beginByte, r.endByte, r.decoded)
        val inTable = tables.exists(t =>
          tb.box.cx >= t.box.x1 && tb.box.cx <= t.box.x2 &&
            tb.box.cy >= t.box.y1 && tb.box.cy <= t.box.y2)
        if (!inTable && median > 0 && r.size >= TitleSizeRatio * median)
          titles += TitleBox(if (r.size >= DocTitleSizeRatio * median) 1 else 2, tb)
        else body += tb
      }
      pages += PdfPage(pw, ph, body.result(), titles.result(), tables)
    }
    if (totalRuns == 0)
      throw new PdfParseException("real PDF: pages contain no text operators (image-only or filtered content)")
    pages.result()
  }
}

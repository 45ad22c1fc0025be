package graft.functions

import java.io.ByteArrayOutputStream
import java.util.zip.{Deflater, Inflater}

/** PDF text extraction — after HTML, the largest text modality in a
  * real crawl. Executor-side, JDK-only, loud failures: the
  * [[HtmlText]] discipline on ISO 32000's carrier format.
  *
  * Layout implemented: the classic cross-reference TABLE resolved from
  * `startxref` (with `/Prev` chains, newest entry wins), indirect
  * objects (`N G obj … endobj`) over the full object syntax —
  * dictionaries, arrays, names with `#xx` escapes, literal strings
  * with octal/char escapes and balanced parens, hex strings, refs —
  * streams framed by `/Length` (direct or indirect) and decoded
  * through `/FlateDecode` (the repo's existing zlib inflate), the
  * Catalog → `/Pages` → `/Kids` page-tree walk, and the content-stream
  * text operators: `BT`/`ET`, `Tj`, `TJ`, `'`, `"`, with `Td`/`TD`
  * (dy ≠ 0), `T*`, and `Tm` as line breaks. Shown bytes decode as
  * strict UTF-8 when valid, else Windows-1252 (the de-facto simple-
  * font byte encoding).
  *
  * r18: the PDF 1.5+ layout — the default of every post-2005 writer —
  * is first-class: cross-reference STREAMS (`/Type/XRef`, `/W` fields,
  * `/Index` subsections, type-0/1/2 entries), object streams
  * (`/Type/ObjStm`, `/N`+`/First` header pairs), FlateDecode
  * PREDICTORS (PNG 10–15 incl. Sub/Up/Average/Paeth per-row filters,
  * TIFF 2), and hybrid files (`/XRefStm` in a classic trailer).
  * Newest-section-wins includes DELETIONS: a free entry in a newer
  * section shadows any older in-use entry. `/Filter` arrays chain in
  * order (legacy PDFs routinely stack `[ASCII85Decode, FlateDecode]`);
  * ASCIIHexDecode, ASCII85Decode, LZWDecode, and RunLengthDecode all
  * decode natively (r18). Image filters (DCT/JBIG2/JPX/CCITT) and
  * inline images still fail loudly — silently-wrong text is worse
  * than no text in a training corpus.
  *
  * r19: ENCRYPTED files with an empty user password decrypt through
  * [[PdfCrypt]] (standard security handler: RC4-40/128, AES-128
  * /AESV2 crypt filters, per-object keys); files needing a real user
  * password, /V 5 (AES-256), and non-/Standard handlers reject by
  * name.
  *
  * r19: show strings decode through the page's FONTS (ISO 32000 9.6–
  * 9.10): `Tf` selects from the page (or inherited) `/Resources/Font`;
  * a `/ToUnicode` CMap (bfchar/bfrange, incl. 2-byte CID codespaces)
  * takes precedence; simple fonts map through `/Encoding` — the named
  * Standard/WinAnsi/MacRoman tables or a `/BaseEncoding` +
  * `//Differences` dict resolved via the Adobe Glyph List
  * ([[PdfFonts]]); `Type0` requires `Identity-H/V` + `/ToUnicode`. A
  * USED font whose codes carry no public mapping — a symbolic subset
  * without `/Encoding`/`/ToUnicode`, an unmapped code, a private
  * `gNN` glyph name — is a LOUD reject, not cp1252 guesswork; only
  * encoding-less NONSYMBOLIC fonts (the standard-14 pattern) keep the
  * UTF-8-else-cp1252 byte heuristic.
  *
  * Scale shape: PDFs are SCAN INPUT (binaryFile rows or a bytes
  * column); extraction is a narrow per-document kernel — document
  * bytes never shuffle.
  */
object PdfText {

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"malformed PDF: $msg")

  // ------------------------------------------------------------------
  // Object model + lexer
  // ------------------------------------------------------------------

  final case class PRef(num: Int)
  final case class PName(v: String)
  final case class PStream(dict: Map[String, Any], raw: Array[Byte])

  private final class Lexer(b: Array[Byte], var p: Int) {
    def ws(): Unit = {
      var go = true
      while (go) {
        if (p < b.length && (b(p) == ' ' || b(p) == '\n' || b(p) == '\r' ||
            b(p) == '\t' || b(p) == '\f' || b(p) == 0)) p += 1
        else if (p < b.length && b(p) == '%') {
          while (p < b.length && b(p) != '\n' && b(p) != '\r') p += 1
        } else go = false
      }
    }

    def expect(s: String): Unit = {
      ws()
      if (!startsWith(s)) fail(s"expected '$s' at offset $p")
      p += s.length
    }

    def startsWith(s: String): Boolean =
      p + s.length <= b.length &&
        (0 until s.length).forall(i => b(p + i) == s.charAt(i))

    private def isDelim(c: Byte): Boolean =
      c == '(' || c == ')' || c == '<' || c == '>' || c == '[' || c == ']' ||
        c == '{' || c == '}' || c == '/' || c == '%'
    private def isWs(c: Byte): Boolean =
      c == ' ' || c == '\n' || c == '\r' || c == '\t' || c == '\f' || c == 0

    def keywordAhead(): String = {
      ws()
      var q = p
      while (q < b.length && !isWs(b(q)) && !isDelim(b(q))) q += 1
      new String(b, p, q - p, "US-ASCII")
    }

    def name(): PName = {
      // '/' already known present
      p += 1
      val sb = new java.lang.StringBuilder()
      while (p < b.length && !isWs(b(p)) && !isDelim(b(p))) {
        if (b(p) == '#' && p + 2 < b.length) {
          sb.append(Integer.parseInt(
            new String(b, p + 1, 2, "US-ASCII"), 16).toChar)
          p += 3
        } else { sb.append((b(p) & 0xff).toChar); p += 1 }
      }
      PName(sb.toString)
    }

    def literalString(): Array[Byte] = {
      // '(' already consumed by caller? No: consume here
      p += 1
      val out = new ByteArrayOutputStream()
      var depth = 1
      while (depth > 0) {
        if (p >= b.length) fail("unterminated literal string")
        val c = b(p)
        if (c == '\\') {
          p += 1
          if (p >= b.length) fail("dangling escape in string")
          b(p) match {
            case 'n' => out.write('\n'); p += 1
            case 'r' => out.write('\r'); p += 1
            case 't' => out.write('\t'); p += 1
            case 'b' => out.write('\b'); p += 1
            case 'f' => out.write('\f'); p += 1
            case '(' => out.write('('); p += 1
            case ')' => out.write(')'); p += 1
            case '\\' => out.write('\\'); p += 1
            case '\r' =>
              p += 1; if (p < b.length && b(p) == '\n') p += 1 // continuation
            case '\n' => p += 1 // continuation
            case d if d >= '0' && d <= '7' =>
              var v = 0; var n = 0
              while (n < 3 && p < b.length && b(p) >= '0' && b(p) <= '7') {
                v = v * 8 + (b(p) - '0'); p += 1; n += 1
              }
              out.write(v & 0xff)
            case other => out.write(other); p += 1 // \x -> x
          }
        } else if (c == '(') { depth += 1; out.write(c); p += 1 }
        else if (c == ')') {
          depth -= 1
          if (depth > 0) out.write(c)
          p += 1
        } else { out.write(c); p += 1 }
      }
      out.toByteArray
    }

    def hexString(): Array[Byte] = {
      // '<' consumed by caller context check; here p is at '<'
      p += 1
      val out = new ByteArrayOutputStream()
      var hi = -1
      var done = false
      while (!done) {
        if (p >= b.length) fail("unterminated hex string")
        val c = b(p)
        if (c == '>') { done = true; p += 1 }
        else if (isWs(c)) p += 1
        else {
          val v = Character.digit(c.toChar, 16)
          if (v < 0) fail(s"bad hex-string char '${c.toChar}'")
          if (hi < 0) hi = v else { out.write((hi << 4) | v); hi = -1 }
          p += 1
        }
      }
      if (hi >= 0) out.write(hi << 4) // odd count: pad 0
      out.toByteArray
    }

    /** One object-syntax value (no stream handling — caller's job). */
    def value(): Any = {
      ws()
      if (p >= b.length) fail("unexpected end of objects")
      val c = b(p)
      if (c == '/') name()
      else if (c == '(') literalString()
      else if (c == '<' && p + 1 < b.length && b(p + 1) == '<') {
        p += 2
        val m = Map.newBuilder[String, Any]
        var done = false
        while (!done) {
          ws()
          if (startsWith(">>")) { p += 2; done = true }
          else {
            if (p >= b.length || b(p) != '/') fail(s"dict key not a name at $p")
            val k = name().v
            m += (k -> value())
          }
        }
        m.result()
      }
      else if (c == '<') hexString()
      else if (c == '[') {
        p += 1
        val arr = Vector.newBuilder[Any]
        var done = false
        while (!done) {
          ws()
          if (p < b.length && b(p) == ']') { p += 1; done = true }
          else arr += value()
        }
        arr.result()
      }
      else if (c == '+' || c == '-' || c == '.' || (c >= '0' && c <= '9')) {
        // number — or an "N G R" indirect reference
        val save = p
        val n1 = numberToken()
        if (n1.isInstanceOf[Long]) {
          val save2 = p
          ws()
          if (p < b.length && b(p) >= '0' && b(p) <= '9') {
            val n2 = numberToken()
            ws()
            if (n2.isInstanceOf[Long] && p < b.length && b(p) == 'R' &&
                (p + 1 >= b.length || isWs(b(p + 1)) || isDelim(b(p + 1)))) {
              p += 1
              return PRef(n1.asInstanceOf[Long].toInt)
            }
          }
          p = save2
          n1
        } else { p = save; numberToken() }
      }
      else {
        val kw = keywordAhead()
        kw match {
          case "true" => p += 4; true
          case "false" => p += 5; false
          case "null" => p += 4; null
          case other => fail(s"unexpected token '$other' at $p")
        }
      }
    }

    def numberToken(): Any = {
      ws()
      val start = p
      if (p < b.length && (b(p) == '+' || b(p) == '-')) p += 1
      var isReal = false
      while (p < b.length &&
          ((b(p) >= '0' && b(p) <= '9') || b(p) == '.')) {
        if (b(p) == '.') isReal = true
        p += 1
      }
      val s = new String(b, start, p - start, "US-ASCII")
      if (s.isEmpty || s == "+" || s == "-") fail(s"bad number at $start")
      if (isReal) s.toDouble else s.toLong
    }
  }

  // ------------------------------------------------------------------
  // Document structure
  // ------------------------------------------------------------------

  /** Where an object lives: at a byte offset in the file, or as entry
    * `idx` of the object stream whose object number is `stm` (a PDF
    * 1.5 type-2 cross-reference entry).
    */
  private sealed trait Loc
  private final case class InFile(off: Long) extends Loc
  private final case class InObjStm(stm: Int, idx: Int) extends Loc

  private final class Doc(bytes: Array[Byte]) {
    private val (offsets, trailer) = readXref()
    private val cache = scala.collection.mutable.Map.empty[Int, Any]

    // ---- decryption (r19): the newest trailer's /Encrypt governs ----
    // Declared as vars and ASSIGNED by the init block at the END of the
    // class body, after every helper structure exists: the setup derefs
    // the (indirect) /Encrypt dict through the ordinary loader, and
    // while it runs `decryptor` is still null, so the dict itself —
    // whose /O //U strings are unencrypted by spec — loads untouched;
    // `encryptNum` exempts it from later cache-less reloads.
    private var encryptNum: Int = -1
    private var decryptor: PdfCrypt.Decryptor = null

    /** Decrypt every string and stream of a freshly-loaded top-level
      * object with its own (num, gen) key — Algorithm 1's unit. Objects
      * inside an ObjStm never come through here: the CONTAINER stream
      * decrypted as one unit, per spec. Cross-reference streams are
      * never encrypted and pass through.
      */
    private def decryptValue(num: Int, gen: Int, v: Any): Any = v match {
      case PStream(d, raw) =>
        if (d.get("Type").contains(PName("XRef"))) v
        else PStream(
          d.map { case (k, dv) => k -> decryptValue(num, gen, dv) },
          decryptor.stream(num, gen, raw))
      case b: Array[Byte] => decryptor.string(num, gen, b)
      case m: Map[String @unchecked, Any @unchecked] =>
        m.map { case (k, mv) => k -> decryptValue(num, gen, mv) }
      case arr: Vector[Any @unchecked] => arr.map(decryptValue(num, gen, _))
      case other => other
    }
    // decoded object streams, memoized per ObjStm object number:
    // (payload, header pairs (objnum, relative offset), /First)
    private val objStmCache =
      scala.collection.mutable.Map.empty[Int, (Array[Byte], Vector[(Int, Int)], Int)]

    private def asLong(v: Any, what: String): Long = v match {
      case n: Long => n
      case o => fail(s"$what is not an integer: $o")
    }

    private def readXref(): (Map[Int, Loc], Map[String, Any]) = {
      if (!new String(bytes, 0, math.min(8, bytes.length), "US-ASCII")
          .startsWith("%PDF-")) fail("missing %PDF- header")
      val tailStart = math.max(0, bytes.length - 2048)
      val tail = new String(bytes, tailStart, bytes.length - tailStart, "ISO-8859-1")
      val sx = tail.lastIndexOf("startxref")
      if (sx < 0) fail("missing startxref")
      val lx = new Lexer(bytes, tailStart + sx + "startxref".length)
      val first = lx.value() match {
        case n: Long => n
        case other => fail(s"bad startxref offset $other")
      }
      var offs = Map.empty[Int, Loc]
      // every object number a NEWER section has spoken for — in-use OR
      // free — so older sections can neither override nor resurrect
      val seen = scala.collection.mutable.Set.empty[Int]
      def add(num: Int, loc: Option[Loc]): Unit =
        if (seen.add(num)) loc.foreach(l => offs += (num -> l))

      var trailerDict: Map[String, Any] = null
      var next = first
      var hops = 0
      while (next >= 0) {
        if (hops > 32) fail("xref /Prev chain too deep")
        hops += 1
        if (next > Int.MaxValue || next >= bytes.length || next < 0)
          fail(s"xref offset $next out of range")
        val l = new Lexer(bytes, next.toInt)
        l.ws()
        val t: Map[String, Any] = if (l.startsWith("xref")) {
          l.p += 4
          // table entries buffer: in a HYBRID file the /XRefStm has
          // precedence over this table's entries (ISO 32000 7.5.8.4 —
          // the table typically marks ObjStm-compressed objects free),
          // so the table applies only after the stream's entries
          val section = scala.collection.mutable.ArrayBuffer.empty[(Int, Option[Loc])]
          var parsingSections = true
          while (parsingSections) {
            l.ws()
            if (l.startsWith("trailer")) parsingSections = false
            else {
              val start = l.value() match {
                case n: Long => n.toInt
                case o => fail(s"bad xref subsection start $o")
              }
              val count = l.value() match {
                case n: Long => n.toInt
                case o => fail(s"bad xref subsection count $o")
              }
              l.ws()
              if (count < 0 || l.p + 20L * count > bytes.length)
                fail(s"xref table truncated: $count entries at ${l.p}")
              for (i <- 0 until count) {
                val entry = new String(bytes, l.p, 20, "US-ASCII")
                val off = entry.substring(0, 10).toLongOption
                  .getOrElse(fail(s"bad xref entry '$entry'"))
                val kind = entry.charAt(17)
                section += ((start + i,
                  if (kind == 'n') Some(InFile(off)) else None))
                l.p += 20
              }
            }
          }
          l.expect("trailer")
          val td = l.value() match {
            case d: Map[String @unchecked, Any @unchecked] => d
            case o => fail(s"trailer is not a dict: $o")
          }
          td.get("XRefStm").foreach { v =>
            val at = asLong(v, "/XRefStm")
            if (at > Int.MaxValue || at >= bytes.length || at < 0)
              fail(s"/XRefStm offset $at out of range")
            readXrefStreamAt(at.toInt, add)
          }
          section.foreach { case (n, loc) => add(n, loc) }
          td
        } else {
          readXrefStreamAt(next.toInt, add)
        }
        if (trailerDict == null) trailerDict = t
        next = t.get("Prev") match {
          case Some(n: Long) => n
          case Some(o) => fail(s"bad /Prev $o")
          case None => -1
        }
      }
      (offs, trailerDict)
    }

    /** Parse a `/Type/XRef` cross-reference STREAM object at `off`,
      * feed its entries to `add`, return its dict (which doubles as the
      * trailer in PDF 1.5+ files). All dict values an xref stream needs
      * before the table exists (/Length, /W, /Index) must be direct.
      */
    private def readXrefStreamAt(off: Int, add: (Int, Option[Loc]) => Unit): Map[String, Any] = {
      val l = new Lexer(bytes, off)
      l.value() match {
        case _: Long => ()
        case o => fail(s"startxref target at $off is neither an xref table nor an xref stream: $o")
      }
      l.value() // generation
      l.expect("obj")
      val dict = l.value() match {
        case d: Map[String @unchecked, Any @unchecked] => d
        case o => fail(s"startxref target at $off is neither an xref table nor an xref stream: $o")
      }
      dict.get("Type") match {
        case Some(PName("XRef")) => ()
        case o => fail(s"object at startxref is not /Type/XRef (got $o)")
      }
      l.ws()
      if (!l.startsWith("stream")) fail("xref stream object has no stream")
      l.p += "stream".length
      if (l.p < bytes.length && bytes(l.p) == '\r') l.p += 1
      if (l.p < bytes.length && bytes(l.p) == '\n') l.p += 1
      val len = dict.getOrElse("Length", fail("xref stream missing /Length")) match {
        case n: Long => n
        case _: PRef => fail("xref stream /Length must be direct")
        case o => fail(s"bad xref stream /Length $o")
      }
      if (len < 0 || l.p + len > bytes.length) fail(s"xref stream of $len exceeds file")
      val raw = java.util.Arrays.copyOfRange(bytes, l.p, l.p + len.toInt)
      val data = decodeStreamPayload(dict, raw, {
        case PRef(_) => fail("xref stream dict values must be direct")
        case v => v
      })
      val w = dict.getOrElse("W", fail("xref stream missing /W")) match {
        case arr: Vector[Any @unchecked] if arr.size == 3 =>
          arr.map(asLong(_, "/W field").toInt)
        case o => fail(s"bad /W $o")
      }
      if (w.exists(x => x < 0 || x > 8)) fail(s"bad /W widths $w")
      val size = asLong(dict.getOrElse("Size", fail("xref stream missing /Size")), "/Size")
      val index: Vector[Long] = dict.get("Index") match {
        case None => Vector(0L, size)
        case Some(arr: Vector[Any @unchecked]) if arr.size % 2 == 0 =>
          arr.map(asLong(_, "/Index element"))
        case Some(o) => fail(s"bad /Index $o")
      }
      val entryLen = w.sum
      if (entryLen == 0) fail("/W is all-zero")
      var pos = 0
      def field(width: Int, dflt: Long): Long = {
        if (width == 0) return dflt
        var v = 0L
        var i = 0
        while (i < width) { v = (v << 8) | (data(pos + i) & 0xffL); i += 1 }
        pos += width
        v
      }
      index.grouped(2).foreach { pair =>
        val (start, count) = (pair(0), pair(1))
        if (count < 0 || pos + entryLen * count > data.length)
          fail(s"xref stream truncated: $count entries of $entryLen B at $pos")
        var i = 0L
        while (i < count) {
          val typ = field(w(0), 1L)
          val f2 = field(w(1), 0L)
          val f3 = field(w(2), 0L)
          val num = (start + i).toInt
          typ match {
            case 0 => add(num, None) // free — shadows older sections
            case 1 => add(num, Some(InFile(f2)))
            case 2 => add(num, Some(InObjStm(f2.toInt, f3.toInt)))
            case _ => () // ISO 32000 7.5.8.3: unknown types read as null
          }
          i += 1
        }
      }
      dict
    }

    def deref(v: Any): Any = {
      // iterative with a seen-set: a ref→ref cycle (2 0 R ↔ 3 0 R) must
      // fail loudly, not loop forever over cached PRefs
      var cur = v
      val seen = scala.collection.mutable.Set.empty[Int]
      while (cur.isInstanceOf[PRef]) {
        val num = cur.asInstanceOf[PRef].num
        if (!seen.add(num)) fail(s"circular reference through object $num")
        cur = load(num)
      }
      cur
    }

    // objects currently being loaded: a hostile file with a reference
    // cycle (A → B → A, or an ObjStm whose /Length resolves through
    // itself) must fail LOUDLY, not recurse to StackOverflowError
    private val loading = scala.collection.mutable.Set.empty[Int]

    private def load(num: Int): Any = cache.getOrElse(num, {
      if (!loading.add(num)) fail(s"circular reference through object $num")
      try {
        val v = offsets.getOrElse(num, fail(s"object $num not in xref")) match {
          case InFile(off) => loadAt(num, off)
          case InObjStm(stm, idx) => loadFromObjStm(num, stm, idx)
        }
        cache(num) = v
        v
      } finally loading.remove(num)
    })

    private def loadAt(num: Int, off: Long): Any = {
      if (off < 0 || off > Int.MaxValue || off >= bytes.length)
        fail(s"xref offset $off for object $num out of range")
      val l = new Lexer(bytes, off.toInt)
      val gotNum = l.value() match {
        case n: Long => n.toInt
        case o => fail(s"bad object header at $off: $o")
      }
      if (gotNum != num) fail(s"xref points $num at object $gotNum")
      val gen = l.value() match {
        case n: Long => n.toInt
        case o => fail(s"bad object generation at $off: $o")
      }
      l.expect("obj")
      def decrypted(v: Any): Any =
        if (decryptor == null || num == encryptNum) v
        else decryptValue(num, gen, v)
      val v = l.value()
      l.ws()
      if (l.startsWith("stream")) {
        val dict = v match {
          case d: Map[String @unchecked, Any @unchecked] => d
          case o => fail(s"stream without dict: $o")
        }
        l.p += "stream".length
        if (l.p < bytes.length && bytes(l.p) == '\r') l.p += 1
        if (l.p < bytes.length && bytes(l.p) == '\n') l.p += 1
        val len = deref(dict.getOrElse("Length", fail("stream missing /Length"))) match {
          case n: Long => n.toInt
          case o => fail(s"bad /Length $o")
        }
        if (len < 0 || l.p + len > bytes.length) fail(s"stream of $len exceeds file")
        val raw = java.util.Arrays.copyOfRange(bytes, l.p, l.p + len)
        l.p += len
        l.expect("endstream")
        decrypted(PStream(dict, raw))
      } else decrypted(v)
    }

    /** Resolve entry `idx` of object stream `stm` (a type-2 xref
      * entry). The ObjStm payload and its header pairs are decoded once
      * per stream and memoized; contained objects are plain values (the
      * spec forbids streams inside an ObjStm).
      */
    private def loadFromObjStm(num: Int, stm: Int, idx: Int): Any = {
      val (payload, pairs, first) = objStmCache.getOrElseUpdate(stm, {
        offsets.get(stm) match {
          case Some(InObjStm(_, _)) => fail(s"ObjStm $stm nested inside another ObjStm")
          case Some(InFile(off)) =>
            loadAt(stm, off) match {
              case PStream(d, raw) =>
                d.get("Type") match {
                  case Some(PName("ObjStm")) => ()
                  case o => fail(s"type-2 xref entry names object $stm which is not /Type/ObjStm (got $o)")
                }
                val n = asLong(deref(d.getOrElse("N", fail("ObjStm missing /N"))), "/N").toInt
                val fst = asLong(deref(d.getOrElse("First", fail("ObjStm missing /First"))), "/First").toInt
                val data = decodeStreamPayload(d, raw, deref)
                if (fst < 0 || fst > data.length) fail(s"ObjStm /First $fst out of range")
                val hl = new Lexer(data, 0)
                val ps = Vector.newBuilder[(Int, Int)]
                for (_ <- 0 until n) {
                  val on = asLong(hl.value(), "ObjStm header objnum").toInt
                  val oo = asLong(hl.value(), "ObjStm header offset").toInt
                  if (hl.p > fst) fail("ObjStm header overruns /First")
                  ps += ((on, oo))
                }
                (data, ps.result(), fst)
              case o => fail(s"object $stm is not a stream: $o")
            }
          case None => fail(s"ObjStm $stm not in xref")
        }
      })
      if (idx < 0 || idx >= pairs.length)
        fail(s"ObjStm $stm has ${pairs.length} objects; index $idx out of range")
      val (onum, ooff) = pairs(idx)
      if (onum != num) fail(s"ObjStm $stm entry $idx is object $onum, xref claims $num")
      if (first.toLong + ooff > payload.length) fail(s"ObjStm offset $ooff out of range")
      new Lexer(payload, first + ooff).value()
    }

    def decodedStream(v: Any): Array[Byte] = deref(v) match {
      case PStream(dict, raw) => decodeStreamPayload(dict, raw, deref)
      case o => fail(s"not a stream: $o")
    }

    /** Pages in document order: decoded content stream + lazy font
      * resolver over the page's (or an ancestor's — /Resources is
      * inheritable, ISO 32000 7.7.3.4) /Font resources. Fonts resolve
      * on first `Tf` USE, so a declared-but-unused unsupported font
      * never rejects a document.
      */
    def pages(): Seq[PdfPage] = {
      val root = deref(trailer.getOrElse("Root", fail("trailer missing /Root"))) match {
        case d: Map[String @unchecked, Any @unchecked] => d
        case o => fail(s"/Root is not a dict: $o")
      }
      val pagesRef = root.getOrElse("Pages", fail("catalog missing /Pages"))
      val out = Vector.newBuilder[PdfPage]
      def walk(node: Any, inherited: Option[Map[String, Any]]): Unit = deref(node) match {
        case d: Map[String @unchecked, Any @unchecked] =>
          val res: Option[Map[String, Any]] = d.get("Resources").map(deref) match {
            case Some(m: Map[String @unchecked, Any @unchecked]) => Some(m)
            case Some(o) => fail(s"/Resources is not a dict: $o")
            case None => inherited
          }
          deref(d.getOrElse("Type", PName(""))) match {
            case PName("Pages") =>
              deref(d.getOrElse("Kids", fail("/Pages missing /Kids"))) match {
                case kids: Vector[Any @unchecked] => kids.foreach(walk(_, res))
                case o => fail(s"/Kids is not an array: $o")
              }
            case PName("Page") =>
              val content = d.get("Contents").map(deref) match {
                case None => Array.emptyByteArray
                case Some(PStream(sd, raw)) =>
                  decodedStream(PStream(sd, raw))
                case Some(arr: Vector[Any @unchecked]) =>
                  // multiple content streams form ONE logical stream,
                  // separated by whitespace
                  val joined = new ByteArrayOutputStream()
                  arr.foreach { s =>
                    joined.write(decodedStream(s)); joined.write('\n')
                  }
                  joined.toByteArray
                case Some(o) => fail(s"bad /Contents: $o")
              }
              val fonts: Map[String, Any] =
                res.flatMap(_.get("Font")).map(deref) match {
                  case Some(m: Map[String @unchecked, Any @unchecked]) => m
                  case Some(o) => fail(s"/Font resource is not a dict: $o")
                  case None => Map.empty
                }
              out += PdfPage(content, name => fontDecoder(fonts, name))
            case o => fail(s"page-tree node of type $o")
          }
        case o => fail(s"page-tree node is not a dict: $o")
      }
      walk(pagesRef, None)
      out.result()
    }

    // ---------------------------------------------------------------
    // Fonts (r19): Tf-name → show-string decoder
    // ---------------------------------------------------------------

    // keyed by the font OBJECT (ref number or direct dict) so the same
    // font shared across pages builds once per document
    private val fontCache = scala.collection.mutable.Map.empty[Any, Array[Byte] => String]

    private def fontDecoder(fonts: Map[String, Any], res: String): Array[Byte] => String = {
      val raw = fonts.getOrElse(res,
        fail(s"content stream selects undefined font /$res"))
      val key: Any = raw match { case PRef(n) => n; case other => other }
      fontCache.getOrElseUpdate(key, buildFont(res, deref(raw)))
    }

    private def buildFont(res: String, v: Any): Array[Byte] => String = {
      val d = v match {
        case m: Map[String @unchecked, Any @unchecked] => m
        case o => fail(s"font /$res is not a dict: $o")
      }
      val subtype = deref(d.getOrElse("Subtype", fail(s"font /$res missing /Subtype"))) match {
        case PName(n) => n
        case o => fail(s"font /$res: bad /Subtype $o")
      }
      val desc = s"font /$res ($subtype)"
      // /ToUnicode wins for extraction whenever present (ISO 32000 9.10.2)
      val toUni: Option[ToUnicode] = d.get("ToUnicode").map { s =>
        parseToUnicode(decodedStream(s), desc,
          defaultLen = if (subtype == "Type0") 2 else 1)
      }
      subtype match {
        case "Type0" =>
          deref(d.getOrElse("Encoding", fail(s"$desc missing /Encoding"))) match {
            case PName("Identity-H") | PName("Identity-V") => ()
            case o => fail(s"$desc: unsupported composite /Encoding $o " +
              "(Identity-H | Identity-V)")
          }
          val cmap = toUni.getOrElse(fail(
            s"$desc: Type0 without /ToUnicode — CID codes are unmappable"))
          b => cmap.decode(b, desc)
        case "Type1" | "MMType1" | "TrueType" | "Type3" =>
          toUni match {
            case Some(cmap) => b => cmap.decode(b, desc)
            case None => d.get("Encoding").map(deref) match {
              case Some(PName(encName)) =>
                simpleDecoder(desc, encName, Map.empty)
              case Some(ed: Map[String @unchecked, Any @unchecked]) =>
                val base = deref(ed.getOrElse("BaseEncoding",
                  PName("StandardEncoding"))) match {
                  case PName(n) => n
                  case o => fail(s"$desc: bad /BaseEncoding $o")
                }
                val diffs = ed.get("Differences").map(deref) match {
                  case None => Map.empty[Int, String]
                  case Some(arr: Vector[Any @unchecked]) =>
                    parseDifferences(desc, arr)
                  case Some(o) => fail(s"$desc: bad /Differences $o")
                }
                simpleDecoder(desc, base, diffs)
              case Some(o) => fail(s"$desc: bad /Encoding $o")
              case None =>
                // no declared mapping: a NONSYMBOLIC font defaults to
                // its standard (ASCII-compatible) built-in encoding —
                // the byte heuristic reads it; a SYMBOLIC font's codes
                // are font-program-internal, so guessing would emit
                // silently wrong text
                if (isSymbolic(d)) fail(s"$desc: symbolic font with " +
                  "neither /Encoding nor /ToUnicode — codes are unmappable")
                decodeShown _
            }
          }
        case other => fail(s"font /$res: unsupported subtype /$other")
      }
    }

    /** /Differences: [code name name ... code name ...] → code→Unicode
      * via the Adobe Glyph List (uniXXXX/uXXXX conventions included).
      * A glyph name with no public mapping rejects loudly — it denotes
      * a subset-private glyph we cannot transcribe.
      */
    private def parseDifferences(desc: String, arr: Vector[Any]): Map[Int, String] = {
      var code = -1
      val m = Map.newBuilder[Int, String]
      arr.map(deref).foreach {
        case n: Long =>
          if (n < 0 || n > 255) fail(s"$desc: /Differences code $n out of range")
          code = n.toInt
        case PName(g) =>
          if (code < 0) fail(s"$desc: /Differences glyph name before any code")
          if (code > 255) fail(s"$desc: /Differences runs past code 255")
          val u = PdfFonts.glyphToUnicode(g).getOrElse {
            if (g == ".notdef") "" else fail(s"$desc: glyph /$g in " +
              "/Differences has no public Unicode mapping")
          }
          m += (code -> u)
          code += 1
        case o => fail(s"$desc: bad /Differences element $o")
      }
      m.result()
    }

    private def simpleDecoder(
        desc: String, base: String, diffs: Map[Int, String]): Array[Byte] => String = {
      base match {
        case "StandardEncoding" | "WinAnsiEncoding" | "MacRomanEncoding" => ()
        case other => fail(s"$desc: unsupported base encoding /$other")
      }
      val table = Array.tabulate[String](256)(c =>
        diffs.getOrElse(c, PdfFonts.baseEncodingChar(base, c).orNull))
      b => {
        val sb = new java.lang.StringBuilder(b.length)
        var i = 0
        while (i < b.length) {
          val s = table(b(i) & 0xff)
          if (s == null) fail(f"$desc: code 0x${b(i) & 0xff}%02X is " +
            s"unassigned in $base and /Differences")
          sb.append(s)
          i += 1
        }
        sb.toString
      }
    }

    private def isSymbolic(d: Map[String, Any]): Boolean =
      d.get("FontDescriptor").map(deref) match {
        case Some(fd: Map[String @unchecked, Any @unchecked]) =>
          deref(fd.getOrElse("Flags", 0L)) match {
            case f: Long => (f & 4L) != 0L // bit 3 = Symbolic
            case _ => false
          }
        case _ => false
      }

    // decryption setup — LAST in the body so `cache`/`loading`/
    // `objStmCache` are initialized before the /Encrypt deref below
    // exercises the loader (Scala initializes in declaration order)
    trailer.get("Encrypt").foreach { encV =>
      encryptNum = encV match {
        case PRef(n) => n
        case _ => -1
      }
      val enc = deref(encV) match {
        case d: Map[String @unchecked, Any @unchecked] => d
        case o => fail(s"/Encrypt is not a dict: $o")
      }
      val id0: Array[Byte] = trailer.get("ID").map(deref) match {
        case Some(arr: Vector[Any @unchecked]) if arr.nonEmpty =>
          deref(arr(0)) match {
            case b: Array[Byte] => b
            case o => fail(s"file /ID entry is not a string: $o")
          }
        case None => Array.emptyByteArray // some writers omit /ID
        case Some(o) => fail(s"bad file /ID: $o")
      }
      decryptor = PdfCrypt.decryptor(enc, id0, deref)
      // the Encrypt dict was cached UNdecrypted (correct) — but any
      // object loaded through it (an indirect /O, say) was too; drop
      // everything except the dict itself so later loads decrypt
      cache.filterInPlace { case (k, _) => k == encryptNum }
    }
  }

  /** One page, parsed: decoded content plus the Tf-name → show-string
    * decoder over its /Resources/Font (fonts build lazily on first use).
    */
  private final case class PdfPage(
      content: Array[Byte], fontFor: String => Array[Byte] => String)

  // ------------------------------------------------------------------
  // /ToUnicode CMaps (r19)
  // ------------------------------------------------------------------

  /** A parsed /ToUnicode CMap: codespace ranges fix the code byte
    * LENGTHS (Identity-H CIDs are 2 bytes; simple fonts 1), bfchar +
    * materialized bfranges map each code to its Unicode string. Decoding
    * is total-or-loud: a code outside every codespace range, or inside
    * one but unmapped, rejects with the code and font named.
    */
  private final class ToUnicode(
      codeLens: Seq[Int],
      spaces: Seq[(Int, Long, Long)],
      map: java.util.HashMap[Long, String]) {

    private def key(len: Int, code: Long): Long = (len.toLong << 56) | code

    def decode(b: Array[Byte], desc: String): String = {
      val sb = new java.lang.StringBuilder(b.length)
      var i = 0
      while (i < b.length) {
        var matched = false
        var li = 0
        while (!matched && li < codeLens.length) {
          val len = codeLens(li)
          if (i + len <= b.length) {
            var code = 0L
            var k = 0
            while (k < len) { code = (code << 8) | (b(i + k) & 0xffL); k += 1 }
            if (spaces.isEmpty ||
                spaces.exists { case (l, lo, hi) => l == len && code >= lo && code <= hi }) {
              val s = map.get(key(len, code))
              if (s == null) fail(
                f"$desc%s: code 0x$code%X has no /ToUnicode mapping")
              sb.append(s)
              i += len
              matched = true
            }
          }
          li += 1
        }
        if (!matched) fail(
          s"$desc: show-string byte at offset $i outside every /ToUnicode codespace range")
      }
      sb.toString
    }
  }

  /** Parse a /ToUnicode CMap stream (ISO 32000 9.10.3 / Adobe CMap
    * syntax): `begincodespacerange`, `beginbfchar` (src → UTF-16BE hex
    * string), `beginbfrange` (lo hi dst, dst a hex string incremented
    * per code or an array of hex strings). PostScript scaffolding
    * (findresource, begin/end, def, the CIDSystemInfo dict) is skipped;
    * `usecmap` rejects loudly (a composed CMap we did not load would
    * silently drop mappings).
    */
  private def parseToUnicode(
      data: Array[Byte], desc: String, defaultLen: Int): ToUnicode = {
    val l = new Lexer(data, 0)
    val operands = scala.collection.mutable.ArrayBuffer.empty[Any]
    val spaces = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
    val map = new java.util.HashMap[Long, String]()
    def codeOf(b: Array[Byte]): Long = {
      var v = 0L
      var i = 0
      while (i < b.length) { v = (v << 8) | (b(i) & 0xffL); i += 1 }
      v
    }
    def key(len: Int, code: Long): Long = (len.toLong << 56) | code
    def utf16(b: Array[Byte]): String = {
      if (b.length % 2 != 0) fail(s"$desc: odd-length UTF-16BE destination in CMap")
      new String(b, java.nio.charset.StandardCharsets.UTF_16BE)
    }
    def incremented(dst: Array[Byte], off: Long): String = {
      if (off == 0) return utf16(dst)
      if (dst.length < 2) fail(s"$desc: bfrange destination too short to increment")
      val last = ((dst(dst.length - 2) & 0xff) << 8) | (dst(dst.length - 1) & 0xff)
      val v = last + off
      if (v > 0xFFFF) fail(s"$desc: bfrange increment overflows the final UTF-16 unit")
      val b2 = dst.clone()
      b2(dst.length - 2) = (v >> 8).toByte
      b2(dst.length - 1) = v.toByte
      utf16(b2)
    }
    def hexOperand(what: String): Array[Byte] = l.value() match {
      case b: Array[Byte] => b
      case o => fail(s"$desc: $what in CMap is not a hex string: $o")
    }
    while ({ l.ws(); l.p < data.length }) {
      val c = data(l.p)
      if (c == '/' || c == '(' || c == '<' || c == '[' ||
          c == '+' || c == '-' || c == '.' || (c >= '0' && c <= '9')) {
        operands += l.value()
      } else {
        val kw = l.keywordAhead()
        if (kw.isEmpty) fail(s"$desc: stray delimiter in CMap at ${l.p}")
        l.p += kw.length
        kw match {
          case "begincodespacerange" =>
            var done = false
            while (!done) {
              l.ws()
              if (l.startsWith("endcodespacerange")) {
                l.p += "endcodespacerange".length; done = true
              } else {
                val lo = hexOperand("codespace low")
                val hi = hexOperand("codespace high")
                if (lo.length != hi.length || lo.length < 1 || lo.length > 4)
                  fail(s"$desc: bad codespace range widths ${lo.length}/${hi.length}")
                spaces += ((lo.length, codeOf(lo), codeOf(hi)))
              }
            }
          case "beginbfchar" =>
            var done = false
            while (!done) {
              l.ws()
              if (l.startsWith("endbfchar")) { l.p += "endbfchar".length; done = true }
              else {
                val src = hexOperand("bfchar source")
                val dst = hexOperand("bfchar destination")
                map.put(key(src.length, codeOf(src)), utf16(dst))
              }
            }
          case "beginbfrange" =>
            var done = false
            while (!done) {
              l.ws()
              if (l.startsWith("endbfrange")) { l.p += "endbfrange".length; done = true }
              else {
                val lo = hexOperand("bfrange low")
                val hi = hexOperand("bfrange high")
                if (lo.length != hi.length)
                  fail(s"$desc: bfrange endpoint widths differ")
                val loC = codeOf(lo)
                val hiC = codeOf(hi)
                if (hiC < loC || hiC - loC >= 65536)
                  fail(s"$desc: bfrange [$loC, $hiC] is invalid or oversized")
                l.ws()
                l.value() match {
                  case dst: Array[Byte] =>
                    var o = 0L
                    while (loC + o <= hiC) {
                      map.put(key(lo.length, loC + o), incremented(dst, o))
                      o += 1
                    }
                  case arr: Vector[Any @unchecked] =>
                    if (arr.size != (hiC - loC + 1))
                      fail(s"$desc: bfrange array size ${arr.size} != range span")
                    arr.zipWithIndex.foreach {
                      case (d: Array[Byte], i) =>
                        map.put(key(lo.length, loC + i), utf16(d))
                      case (o, _) => fail(s"$desc: bad bfrange array element $o")
                    }
                  case o => fail(s"$desc: bad bfrange destination $o")
                }
              }
            }
          case "usecmap" => fail(
            s"$desc: CMap composes another via usecmap — unsupported")
          case _ => () // findresource/begin/def/endcmap/... scaffolding
        }
        operands.clear()
      }
    }
    val lens =
      if (spaces.isEmpty) Seq(defaultLen)
      else spaces.map(_._1).distinct.sorted.toSeq
    new ToUnicode(lens, spaces.toSeq, map)
  }

  /** Filter pipeline for one stream: /Filter is a name or an ARRAY of
    * names applied in order (r18 — legacy PDFs routinely chain
    * `[ASCII85Decode, FlateDecode]`), /DecodeParms a matching scalar or
    * array. Supported filters: FlateDecode (with Predictor 1 = none,
    * 2 = TIFF horizontal, 10–15 = PNG per-row filters — the value ≥10
    * only declares "PNG"; each row's leading filter byte picks
    * None/Sub/Up/Average/Paeth), ASCIIHexDecode, ASCII85Decode.
    * Anything else is a loud reject.
    */
  private def decodeStreamPayload(dict: Map[String, Any], raw: Array[Byte],
      deref: Any => Any): Array[Byte] = {
    val filters: Vector[String] = dict.get("Filter").map(deref) match {
      case None => Vector.empty
      case Some(PName(n)) => Vector(n)
      case Some(v: Vector[Any @unchecked]) => v.map(deref).map {
        case PName(n) => n
        case o => fail(s"bad /Filter element $o")
      }
      case Some(o) => fail(s"bad /Filter $o")
    }
    val parms: Vector[Option[Map[String, Any]]] =
      dict.get("DecodeParms").orElse(dict.get("DP")).map(deref) match {
        case None | Some(null) => Vector.fill(filters.size)(None)
        case Some(d: Map[String @unchecked, Any @unchecked]) =>
          if (filters.size != 1)
            fail(s"scalar /DecodeParms with ${filters.size} filters")
          Vector(Some(d))
        case Some(v: Vector[Any @unchecked]) =>
          if (v.size != filters.size)
            fail(s"/DecodeParms length ${v.size} != /Filter length ${filters.size}")
          v.map(deref).map {
            case null => None
            case d: Map[String @unchecked, Any @unchecked] => Some(d)
            case o => fail(s"bad /DecodeParms element $o")
          }
        case Some(o) => fail(s"bad /DecodeParms $o")
      }
    if (filters.isEmpty && dict.get("DecodeParms").exists(_ != null))
      fail("/DecodeParms without a /Filter")
    var data = raw
    filters.zip(parms).foreach {
      case ("FlateDecode", p) =>
        data = inflate(data)
        p.foreach(pp => data = unpredict(pp, data, deref))
      case ("LZWDecode", p) =>
        val early = p.flatMap(_.get("EarlyChange")).map(deref) match {
          case None => 1
          case Some(n: Long) if n == 0L || n == 1L => n.toInt
          case Some(o) => fail(s"bad /EarlyChange $o")
        }
        data = lzwDecode(data, early)
        p.foreach { pp =>
          if (pp.contains("Predictor")) data = unpredict(pp, data, deref)
        }
      case ("RunLengthDecode", p) =>
        if (p.nonEmpty) fail("RunLengthDecode takes no /DecodeParms")
        data = runLengthDecode(data)
      case ("ASCIIHexDecode", p) =>
        if (p.nonEmpty) fail("ASCIIHexDecode takes no /DecodeParms")
        data = asciiHexDecode(data)
      case ("ASCII85Decode", p) =>
        if (p.nonEmpty) fail("ASCII85Decode takes no /DecodeParms")
        data = ascii85Decode(data)
      case (other, _) => fail(s"unsupported stream filter PName($other)")
    }
    data
  }

  /** LZWDecode (ISO 32000 7.4.4 — the TIFF variant): MSB-first codes of
    * 9–12 bits, 256 = clear table, 257 = EOD, table entries added per
    * emitted string; `EarlyChange` 1 (default) widens the code ONE
    * entry before the table boundary. Distinct from GIF's LSB-first
    * LZW ([[GifCodec]]) — the two bit orders are not interchangeable.
    */
  private def lzwDecode(b: Array[Byte], earlyChange: Int): Array[Byte] = {
    val out = new ByteArrayOutputStream(b.length * 3)
    // table: entries 0-255 single bytes, 256/257 reserved
    val table = new scala.collection.mutable.ArrayBuffer[Array[Byte]](4096)
    def resetTable(): Unit = {
      table.clear()
      for (i <- 0 until 256) table += Array(i.toByte)
      table += null; table += null // 256 clear, 257 EOD
    }
    resetTable()
    var width = 9
    var acc = 0L
    var nBits = 0
    var pos = 0
    var prev: Array[Byte] = null
    var done = false
    while (!done) {
      while (nBits < width && pos < b.length) {
        acc = (acc << 8) | (b(pos) & 0xffL); nBits += 8; pos += 1
      }
      if (nBits < width) fail("LZW stream ends without EOD")
      val code = ((acc >>> (nBits - width)) & ((1 << width) - 1)).toInt
      nBits -= width
      if (code == 257) done = true
      else if (code == 256) {
        resetTable(); width = 9; prev = null
      } else {
        val entry: Array[Byte] =
          if (code < table.length) {
            if (table(code) == null) fail(s"LZW code $code is reserved")
            table(code)
          } else if (code == table.length && prev != null)
            prev :+ prev(0) // the KwKwK case
          else fail(s"LZW code $code beyond table of ${table.length}")
        out.write(entry)
        if (prev != null) {
          if (table.length >= 4096) fail("LZW table overflow without clear")
          table += (prev :+ entry(0))
        }
        prev = entry
        // width bump: at table size 511/1023/2047 with EarlyChange 1,
        // one later with 0 (capped at 12 bits)
        if (width < 12 && table.length + earlyChange >= (1 << width))
          width += 1
      }
    }
    out.toByteArray
  }

  /** RunLengthDecode (ISO 32000 7.4.5): length byte 0–127 copies the
    * next length+1 bytes, 129–255 repeats the next byte 257−length
    * times, 128 is EOD.
    */
  private def runLengthDecode(b: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(b.length * 2)
    var i = 0
    var done = false
    while (!done) {
      if (i >= b.length) fail("RunLength stream ends without EOD")
      val len = b(i) & 0xff
      i += 1
      if (len == 128) done = true
      else if (len < 128) {
        if (i + len + 1 > b.length) fail("RunLength literal run truncated")
        out.write(b, i, len + 1)
        i += len + 1
      } else {
        if (i >= b.length) fail("RunLength repeat run truncated")
        val n = 257 - len
        val v = b(i)
        i += 1
        for (_ <- 0 until n) out.write(v)
      }
    }
    out.toByteArray
  }

  /** ASCIIHexDecode: hex pairs to the `>` EOD marker, whitespace
    * ignored, odd final digit padded with 0 (ISO 32000 7.4.2).
    */
  private def asciiHexDecode(b: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(b.length / 2)
    var hi = -1
    var i = 0
    var done = false
    while (i < b.length && !done) {
      val c = b(i)
      if (c == '>') done = true
      else if (c == ' ' || c == '\n' || c == '\r' || c == '\t' ||
          c == '\f' || c == 0) ()
      else {
        val v = Character.digit(c.toChar, 16)
        if (v < 0) fail(s"bad ASCIIHex char '${c.toChar}'")
        if (hi < 0) hi = v else { out.write((hi << 4) | v); hi = -1 }
      }
      i += 1
    }
    if (!done) fail("ASCIIHex stream missing '>' EOD")
    if (hi >= 0) out.write(hi << 4)
    out.toByteArray
  }

  /** ASCII85Decode: 5 chars `!`..`u` per 4 bytes base-85 big-endian,
    * `z` for a zero group, whitespace ignored, `~>` EOD; a final
    * partial group of n chars yields n-1 bytes (ISO 32000 7.4.3).
    */
  private def ascii85Decode(b: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(b.length * 4 / 5 + 4)
    val group = new Array[Int](5)
    var n = 0
    var i = 0
    var done = false
    def flush(count: Int): Unit = {
      // pad the partial group with 'u' (84), emit count-1 bytes
      var v = 0L
      var k = 0
      while (k < 5) { v = v * 85 + (if (k < count) group(k) else 84); k += 1 }
      if (v > 0xffffffffL) fail("ASCII85 group overflows 32 bits")
      val bytes = Array[Byte]((v >>> 24).toByte, (v >>> 16).toByte,
        (v >>> 8).toByte, v.toByte)
      out.write(bytes, 0, count - 1)
    }
    while (i < b.length && !done) {
      val c = b(i)
      if (c == '~') {
        if (i + 1 >= b.length || b(i + 1) != '>') fail("ASCII85 bad EOD")
        done = true
      } else if (c == 'z') {
        if (n != 0) fail("ASCII85 'z' inside a group")
        out.write(Array[Byte](0, 0, 0, 0), 0, 4)
      } else if (c == ' ' || c == '\n' || c == '\r' || c == '\t' ||
          c == '\f' || c == 0) ()
      else if (c >= '!' && c <= 'u') {
        group(n) = c - '!'
        n += 1
        if (n == 5) { flush(5); n = 0 }
      } else fail(s"bad ASCII85 char '${c.toChar}'")
      i += 1
    }
    if (!done) fail("ASCII85 stream missing '~>' EOD")
    if (n == 1) fail("ASCII85 final group of one char is invalid")
    if (n > 1) flush(n)
    out.toByteArray
  }

  private def unpredict(parms: Map[String, Any], data: Array[Byte],
      deref: Any => Any): Array[Byte] = {
    def intOf(key: String, dflt: Long): Int = deref(parms.getOrElse(key, dflt)) match {
      case n: Long => n.toInt
      case o => fail(s"bad /$key $o")
    }
    val pred = intOf("Predictor", 1L)
    if (pred == 1) return data
    val columns = intOf("Columns", 1L)
    val colors = intOf("Colors", 1L)
    val bpc = intOf("BitsPerComponent", 8L)
    if (columns <= 0 || colors <= 0 || !Set(1, 2, 4, 8, 16).contains(bpc))
      fail(s"bad predictor geometry: Columns=$columns Colors=$colors BitsPerComponent=$bpc")
    val rowLen = (columns.toLong * colors * bpc + 7) / 8
    if (rowLen > Int.MaxValue - 1) fail(s"predictor row of $rowLen B too large")
    val bpp = math.max(1, colors * bpc / 8)
    if (pred == 2) {
      // TIFF horizontal differencing (byte-aligned samples only)
      if (bpc != 8) fail(s"TIFF predictor with BitsPerComponent=$bpc is unsupported")
      if (data.length % rowLen != 0) fail("TIFF-predicted data is not whole rows")
      val out = data.clone()
      var row = 0
      while (row < out.length) {
        var i = bpp
        while (i < rowLen) {
          out(row + i) = (out(row + i) + out(row + i - bpp)).toByte
          i += 1
        }
        row += rowLen.toInt
      }
      out
    } else if (pred >= 10 && pred <= 15) {
      val stride = rowLen.toInt + 1 // +1: per-row filter byte
      if (data.length % stride != 0)
        fail(s"PNG-predicted data (${data.length} B) is not whole rows of $stride B")
      val rows = data.length / stride
      val out = new Array[Byte](rows * rowLen.toInt)
      var r = 0
      while (r < rows) {
        val ft = data(r * stride) & 0xff
        val src = r * stride + 1
        val dst = r * rowLen.toInt
        val prev = dst - rowLen.toInt
        var i = 0
        while (i < rowLen) {
          val x = data(src + i) & 0xff
          val a = if (i >= bpp) out(dst + i - bpp) & 0xff else 0 // left
          val b = if (r > 0) out(prev + i) & 0xff else 0 // up
          val c = if (r > 0 && i >= bpp) out(prev + i - bpp) & 0xff else 0 // up-left
          val v = ft match {
            case 0 => x
            case 1 => x + a
            case 2 => x + b
            case 3 => x + (a + b) / 2
            case 4 =>
              val pa = math.abs(b - c); val pb = math.abs(a - c)
              val pc = math.abs(a + b - 2 * c)
              x + (if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c)
            case other => fail(s"bad PNG row filter $other")
          }
          out(dst + i) = v.toByte
          i += 1
        }
        r += 1
      }
      out
    } else fail(s"unsupported /Predictor $pred")
  }

  private def inflate(raw: Array[Byte]): Array[Byte] = {
    val inf = new Inflater()
    inf.setInput(raw)
    val out = new ByteArrayOutputStream(raw.length * 4)
    val buf = new Array[Byte](8192)
    try {
      while (!inf.finished()) {
        val n = inf.inflate(buf)
        if (n == 0 && inf.needsInput()) fail("truncated FlateDecode stream")
        out.write(buf, 0, n)
      }
    } catch {
      case e: java.util.zip.DataFormatException =>
        fail(s"bad FlateDecode stream: ${e.getMessage}")
    } finally inf.end()
    out.toByteArray
  }

  // ------------------------------------------------------------------
  // Content-stream text extraction
  // ------------------------------------------------------------------

  private def decodeShown(b: Array[Byte]): String = {
    // ISO 32000 7.9.2.2: a text string opening with the FE FF BOM is
    // UTF-16BE (PDF 2.0 adds the EF BB BF UTF-8 marker) — without this
    // a UTF-16 string would silently mis-decode as cp1252 garbage.
    // Show strings are font-encoded rather than text strings, so the
    // BOM here is a heuristic: commit to UTF-16BE only when the
    // remainder is even-length and decodes STRICTLY (no unpaired
    // surrogates), else fall through to the byte path — a cp1252
    // string legitimately starting 'þÿ' stays cp1252 (r18 ADVICE).
    if (b.length >= 2 && b(0) == 0xFE.toByte && b(1) == 0xFF.toByte &&
        (b.length - 2) % 2 == 0) {
      val d16 = java.nio.charset.StandardCharsets.UTF_16BE.newDecoder()
      try return d16.decode(
        java.nio.ByteBuffer.wrap(b, 2, b.length - 2)).toString
      catch { case _: java.nio.charset.CharacterCodingException => () }
    }
    if (b.length >= 3 && b(0) == 0xEF.toByte && b(1) == 0xBB.toByte &&
        b(2) == 0xBF.toByte)
      return new String(b, 3, b.length - 3,
        java.nio.charset.StandardCharsets.UTF_8)
    val dec = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
    try dec.decode(java.nio.ByteBuffer.wrap(b)).toString
    catch {
      case _: java.nio.charset.CharacterCodingException =>
        new String(b, java.nio.charset.Charset.forName("windows-1252"))
    }
  }

  /** Extract the text of ONE page's content stream with NO font
    * information: every shown string decodes through the byte heuristic
    * (UTF-16BE-BOM / UTF-8 / cp1252). The document-level API
    * ([[extractPages]]) decodes through the page's fonts instead.
    */
  def extractPageText(content: Array[Byte]): String =
    extractText(content, None)

  /** The operator walk. With `fontFor` present (the document path),
    * `Tf` resolves the named font from the page resources and show
    * strings decode through it — a show operator before any `Tf` is a
    * loud reject (the spec requires a selected font). Without it (the
    * raw-content API), shows fall back to the byte heuristic.
    */
  private def extractText(
      content: Array[Byte],
      fontFor: Option[String => Array[Byte] => String]): String = {
    val l = new Lexer(content, 0)
    var curFont: Array[Byte] => String = null
    def shown(b: Array[Byte]): String = fontFor match {
      case None => decodeShown(b)
      case Some(_) =>
        if (curFont == null) fail("show operator before any Tf font selection")
        curFont(b)
    }
    val lines = Vector.newBuilder[String]
    val cur = new java.lang.StringBuilder()
    val operands = scala.collection.mutable.ArrayBuffer.empty[Any]
    var inText = false
    var any = false
    // breaks are separators BETWEEN shown text: positioning before the
    // first show op (the initial Td) must not open with an empty line
    def newline(): Unit = if (any) {
      lines += cur.toString
      cur.setLength(0)
    }
    while ({ l.ws(); l.p < content.length }) {
      val c = content(l.p)
      if (c == '/' || c == '(' || c == '<' || c == '[' ||
          c == '+' || c == '-' || c == '.' || (c >= '0' && c <= '9')) {
        operands += l.value()
      } else {
        val op = l.keywordAhead()
        if (op.isEmpty) fail(s"stray delimiter '${c.toChar}' in content stream")
        l.p += op.length
        op match {
          case "BT" => inText = true
          case "ET" => inText = false
          case "BI" => fail("inline images (BI) are unsupported")
          case "Tj" if inText =>
            operands.lastOption match {
              case Some(b: Array[Byte]) => cur.append(shown(b)); any = true
              case o => fail(s"Tj without a string operand: $o")
            }
          case "TJ" if inText =>
            operands.lastOption match {
              case Some(arr: Vector[Any @unchecked]) =>
                arr.foreach {
                  case b: Array[Byte] => cur.append(shown(b)); any = true
                  case _: Long | _: Double => () // kerning adjustments
                  case o => fail(s"bad TJ element $o")
                }
              case o => fail(s"TJ without an array operand: $o")
            }
          case "'" if inText =>
            newline()
            operands.lastOption match {
              case Some(b: Array[Byte]) => cur.append(shown(b)); any = true
              case o => fail(s"' without a string operand: $o")
            }
          case "\"" if inText =>
            newline()
            operands.lastOption match {
              case Some(b: Array[Byte]) => cur.append(shown(b)); any = true
              case o => fail(s"\" without a string operand: $o")
            }
          case "Td" | "TD" if inText =>
            val dy = operands.lastOption match {
              case Some(n: Long) => n.toDouble
              case Some(d: Double) => d
              case o => fail(s"$op without numeric operands: $o")
            }
            if (dy != 0.0) newline()
          case "T*" if inText => newline()
          case "Tm" if inText => newline()
          case "Tf" =>
            // font selection is graphics state — honored inside or
            // outside BT (the spec allows Tf before BT)
            fontFor.foreach { ff =>
              if (operands.size < 2) fail("Tf needs a font name and size")
              operands(operands.size - 2) match {
                case PName(n) => curFont = ff(n)
                case o => fail(s"Tf without a font name operand: $o")
              }
            }
          case _ => () // graphics/state operators: ignored
        }
        operands.clear()
      }
    }
    newline()
    lines.result().mkString("\n")
  }

  /** ONE parse, per-page texts — the API every caller that also wants
    * the page count should use: `extract` + `pageCount` each rebuild
    * the Doc (xref walk, FlateDecode, page tree), doubling the
    * per-document cost (r17 ADVICE).
    */
  def extractPages(bytes: Array[Byte]): Seq[String] =
    new Doc(bytes).pages().map(p => extractText(p.content, Some(p.fontFor)))

  /** Whole-document text: pages joined with '\n'. */
  def extract(bytes: Array[Byte]): String = extractPages(bytes).mkString("\n")

  /** Number of pages (a cheap structural probe). */
  def pageCount(bytes: Array[Byte]): Int = new Doc(bytes).pages().size

  // ------------------------------------------------------------------
  // Writer (fixture path): a real two-object-tree PDF with
  // Flate-compressed content streams, correct xref offsets, and the
  // text as one Tj per line with TD line breaks — so every reader must
  // prove extraction survives compression, string escaping, and the
  // operator walk.
  // ------------------------------------------------------------------

  private def escapeString(s: String): Array[Byte] = {
    val utf8 = s.getBytes("UTF-8")
    val out = new ByteArrayOutputStream(utf8.length + 8)
    utf8.foreach { b =>
      if (b == '(' || b == ')' || b == '\\') { out.write('\\'); out.write(b) }
      else if (b == '\n') out.write("\\n".getBytes("US-ASCII"))
      else if (b == '\r') out.write("\\r".getBytes("US-ASCII"))
      else out.write(b)
    }
    out.toByteArray
  }

  private def deflate(b: Array[Byte]): Array[Byte] = {
    val d = new Deflater()
    d.setInput(b); d.finish()
    val out = new ByteArrayOutputStream(b.length / 2 + 64)
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  /** Greedy line layout at single-space boundaries (never inside a run
    * of spaces): every break replaces exactly one ' ', so
    * `lines.mkString(" ")` reproduces the input byte-for-byte — the
    * invariant that lets an extraction oracle replay a laid-out
    * document as plain text identity.
    */
  def layoutLines(text: String, width: Int): Seq[String] = {
    require(width > 0, s"width must be positive, got $width")
    val breaks = (1 until math.max(1, text.length - 1)).filter { i =>
      text.charAt(i) == ' ' &&
        text.charAt(i - 1) != ' ' && text.charAt(i + 1) != ' '
    }
    val out = Vector.newBuilder[String]
    var start = 0
    while (start < text.length) {
      val inRange = breaks.filter(b => b > start && b <= start + width)
      val cut =
        if (start + width >= text.length) -1
        else if (inRange.nonEmpty) inRange.last
        else breaks.find(_ > start).getOrElse(-1)
      if (cut < 0) { out += text.substring(start); start = text.length }
      else { out += text.substring(start, cut); start = cut + 1 }
    }
    val r = out.result()
    if (r.isEmpty) Seq("") else r
  }

  /** Build one PDF: one page per element of `pages`, each page's lines
    * shown as `Tj` + `TD` breaks inside a Flate-compressed content
    * stream.
    */
  def writePdf(pages: Seq[Seq[String]]): Array[Byte] = {
    require(pages.nonEmpty, "PDF writer needs at least one page")
    val out = new ByteArrayOutputStream()
    val offsets = scala.collection.mutable.ArrayBuffer.empty[Long]
    def obj(body: Array[Byte]): Unit = {
      offsets += out.size().toLong
      out.write(s"${offsets.size} 0 obj\n".getBytes("US-ASCII"))
      out.write(body)
      out.write("\nendobj\n".getBytes("US-ASCII"))
    }
    out.write("%PDF-1.4\n%âãÏÓ\n".getBytes("ISO-8859-1"))
    // object numbering: 1 catalog, 2 pages, 3 font, then per page
    // 2 objects (page, contents)
    val nPages = pages.size
    val kidNums = (0 until nPages).map(i => 4 + 2 * i)
    obj(("<< /Type /Catalog /Pages 2 0 R >>").getBytes("US-ASCII"))
    obj((s"<< /Type /Pages /Count $nPages /Kids [" +
      kidNums.map(n => s"$n 0 R").mkString(" ") + "] >>").getBytes("US-ASCII"))
    obj(("<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
      .getBytes("US-ASCII"))
    for ((lines, i) <- pages.zipWithIndex) {
      val contentNum = 4 + 2 * i + 1
      obj((s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        s"/Resources << /Font << /F1 3 0 R >> >> " +
        s"/Contents $contentNum 0 R >>").getBytes("US-ASCII"))
      val content = new ByteArrayOutputStream()
      content.write("BT /F1 12 Tf 72 720 Td\n".getBytes("US-ASCII"))
      for ((line, j) <- lines.zipWithIndex) {
        if (j > 0) content.write("0 -14 TD\n".getBytes("US-ASCII"))
        content.write('(')
        content.write(escapeString(line))
        content.write(") Tj\n".getBytes("US-ASCII"))
      }
      content.write("ET".getBytes("US-ASCII"))
      val z = deflate(content.toByteArray)
      val head = s"<< /Length ${z.length} /Filter /FlateDecode >>\nstream\n"
      offsets += out.size().toLong
      out.write(s"${offsets.size} 0 obj\n".getBytes("US-ASCII"))
      out.write(head.getBytes("US-ASCII"))
      out.write(z)
      out.write("\nendstream\nendobj\n".getBytes("US-ASCII"))
    }
    val xrefAt = out.size()
    val n = offsets.size
    out.write(s"xref\n0 ${n + 1}\n".getBytes("US-ASCII"))
    out.write("0000000000 65535 f \n".getBytes("US-ASCII"))
    offsets.foreach { o =>
      out.write(f"$o%010d 00000 n \n".getBytes("US-ASCII"))
    }
    out.write((s"trailer\n<< /Size ${n + 1} /Root 1 0 R >>\n" +
      s"startxref\n$xrefAt\n%%EOF\n").getBytes("US-ASCII"))
    out.toByteArray
  }

  /** Build the SAME document in the PDF 1.5+ framing every modern
    * writer emits by default: all non-stream objects (catalog, page
    * tree, font, page dicts) packed into ONE Flate-compressed object
    * stream, content streams file-resident, and a `/Type/XRef`
    * cross-reference STREAM (W=[1 4 2], type-1/2 entries) compressed
    * through the PNG-Up predictor (/DecodeParms /Predictor 12). Text
    * identity with [[writePdf]]'s classic framing is the q230 fixture
    * contract: extraction must survive BOTH layouts byte-for-byte.
    *
    * Object numbering: 1 = ObjStm, 2 = catalog, 3 = pages, 4 = font,
    * 5..4+n = page dicts (all compressed, in that ObjStm order),
    * 5+n..4+2n = content streams, 5+2n = the xref stream.
    */
  def writePdfXrefStream(pages: Seq[Seq[String]]): Array[Byte] = {
    require(pages.nonEmpty, "PDF writer needs at least one page")
    val out = new ByteArrayOutputStream()
    out.write("%PDF-1.5\n%âãÏÓ\n".getBytes("ISO-8859-1"))
    val nPages = pages.size
    val contentNum = (i: Int) => 5 + nPages + i
    val xrefNum = 5 + 2 * nPages

    // --- the compressed objects, in ObjStm order (index = xref type-2 idx)
    val compressed: Seq[(Int, String)] =
      Seq(
        2 -> "<< /Type /Catalog /Pages 3 0 R >>",
        3 -> (s"<< /Type /Pages /Count $nPages /Kids [" +
          (0 until nPages).map(i => s"${5 + i} 0 R").mkString(" ") + "] >>"),
        4 -> "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>") ++
        (0 until nPages).map { i =>
          (5 + i) -> (s"<< /Type /Page /Parent 3 0 R /MediaBox [0 0 612 792] " +
            s"/Resources << /Font << /F1 4 0 R >> >> " +
            s"/Contents ${contentNum(i)} 0 R >>")
        }
    val bodies = compressed.map(_._2.getBytes("US-ASCII"))
    val relOffs = bodies.scanLeft(0)(_ + _.length + 1).init
    val header = compressed.map(_._1).zip(relOffs)
      .map { case (n, o) => s"$n $o" }.mkString("", " ", "\n")
    val objStmPayload = new ByteArrayOutputStream()
    objStmPayload.write(header.getBytes("US-ASCII"))
    val first = objStmPayload.size()
    bodies.foreach { b => objStmPayload.write(b); objStmPayload.write('\n') }
    val zStm = deflate(objStmPayload.toByteArray)

    val fileOffsets = scala.collection.mutable.Map.empty[Int, Long]
    def streamObj(num: Int, head: String, payload: Array[Byte]): Unit = {
      fileOffsets(num) = out.size().toLong
      out.write(s"$num 0 obj\n$head\nstream\n".getBytes("US-ASCII"))
      out.write(payload)
      out.write("\nendstream\nendobj\n".getBytes("US-ASCII"))
    }
    streamObj(1, s"<< /Type /ObjStm /N ${compressed.size} /First $first " +
      s"/Length ${zStm.length} /Filter /FlateDecode >>", zStm)
    for ((lines, i) <- pages.zipWithIndex) {
      val content = new ByteArrayOutputStream()
      content.write("BT /F1 12 Tf 72 720 Td\n".getBytes("US-ASCII"))
      for ((line, j) <- lines.zipWithIndex) {
        if (j > 0) content.write("0 -14 TD\n".getBytes("US-ASCII"))
        content.write('(')
        content.write(escapeString(line))
        content.write(") Tj\n".getBytes("US-ASCII"))
      }
      content.write("ET".getBytes("US-ASCII"))
      val z = deflate(content.toByteArray)
      streamObj(contentNum(i),
        s"<< /Length ${z.length} /Filter /FlateDecode >>", z)
    }

    // --- xref stream rows (W = [1 4 2]), PNG-Up predicted then deflated
    val xrefAt = out.size().toLong
    fileOffsets(xrefNum) = xrefAt
    val size = xrefNum + 1
    val rowLen = 7
    def row(typ: Int, f2: Long, f3: Int): Array[Byte] = Array[Byte](
      typ.toByte,
      (f2 >>> 24).toByte, (f2 >>> 16).toByte, (f2 >>> 8).toByte, f2.toByte,
      (f3 >>> 8).toByte, f3.toByte)
    val rows: Seq[Array[Byte]] = (0 until size).map { n =>
      if (n == 0) row(0, 0L, 0xffff)
      else compressed.indexWhere(_._1 == n) match {
        case -1 => row(1, fileOffsets(n), 0)
        case idx => row(2, 1L, idx)
      }
    }
    val predicted = new Array[Byte](size * (rowLen + 1))
    val prev = new Array[Byte](rowLen)
    for ((r, i) <- rows.zipWithIndex) {
      predicted(i * (rowLen + 1)) = 2 // PNG Up
      var j = 0
      while (j < rowLen) {
        predicted(i * (rowLen + 1) + 1 + j) = (r(j) - prev(j)).toByte
        prev(j) = r(j)
        j += 1
      }
    }
    val zx = deflate(predicted)
    out.write((s"$xrefNum 0 obj\n<< /Type /XRef /Size $size /W [1 4 2] " +
      s"/Root 2 0 R /Filter /FlateDecode " +
      s"/DecodeParms << /Predictor 12 /Columns $rowLen >> " +
      s"/Length ${zx.length} >>\nstream\n").getBytes("US-ASCII"))
    out.write(zx)
    out.write("\nendstream\nendobj\n".getBytes("US-ASCII"))
    out.write(s"startxref\n$xrefAt\n%%EOF\n".getBytes("US-ASCII"))
    out.toByteArray
  }

  /** Build the SAME document with a Type0 (composite) font: show
    * strings are 2-byte Identity-H CID codes (hex strings), and a
    * generated `/ToUnicode` CMap (codespace `<0000><FFFF>`, bfchar
    * blocks of ≤100 per the CMap spec's recommendation) maps each code
    * back to its source code point — non-BMP text maps through
    * surrogate-pair destinations. This is the layout every subset-
    * embedded LaTeX/Word export uses; q230 alternates it with the
    * classic and xref-stream framings so extraction-identity covers
    * the font-decode path (r19) end to end at both SFs. Classic xref
    * framing; numbering: 1 catalog, 2 pages, 3 font, 4 descendant
    * CIDFont, 5 ToUnicode, then per page (page, contents).
    */
  def writePdfType0(pages: Seq[Seq[String]]): Array[Byte] = {
    require(pages.nonEmpty, "PDF writer needs at least one page")
    // code-point → CID, assigned in first-use order from 1
    val cids = scala.collection.mutable.LinkedHashMap.empty[Int, Int]
    pages.foreach(_.foreach { line =>
      line.codePoints().forEach { cp =>
        if (!cids.contains(cp)) cids(cp) = cids.size + 1
      }
    })
    require(cids.size <= 0xFFFE,
      s"Type0 writer: ${cids.size} distinct code points exceed the 2-byte CID space")
    val cmap = new StringBuilder()
    cmap ++= "/CIDInit /ProcSet findresource begin\n12 dict begin\nbegincmap\n"
    cmap ++= "/CIDSystemInfo << /Registry (Adobe) /Ordering (UCS) /Supplement 0 >> def\n"
    cmap ++= "/CMapName /Adobe-Identity-UCS def\n/CMapType 2 def\n"
    cmap ++= "1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
    cids.toSeq.grouped(100).foreach { block =>
      cmap ++= s"${block.size} beginbfchar\n"
      block.foreach { case (cp, cid) =>
        val dst = new String(Character.toChars(cp))
          .map(c => f"${c.toInt}%04X").mkString
        cmap ++= f"<$cid%04X> <$dst>" + "\n"
      }
      cmap ++= "endbfchar\n"
    }
    cmap ++= "endcmap\nCMapName currentdict /CMap defineresource pop\nend\nend\n"
    val zCmap = deflate(cmap.toString.getBytes("US-ASCII"))

    val out = new ByteArrayOutputStream()
    val offsets = scala.collection.mutable.ArrayBuffer.empty[Long]
    def obj(body: Array[Byte]): Unit = {
      offsets += out.size().toLong
      out.write(s"${offsets.size} 0 obj\n".getBytes("US-ASCII"))
      out.write(body)
      out.write("\nendobj\n".getBytes("US-ASCII"))
    }
    out.write("%PDF-1.4\n%âãÏÓ\n".getBytes("ISO-8859-1"))
    val nPages = pages.size
    val kidNums = (0 until nPages).map(i => 6 + 2 * i)
    obj("<< /Type /Catalog /Pages 2 0 R >>".getBytes("US-ASCII"))
    obj((s"<< /Type /Pages /Count $nPages /Kids [" +
      kidNums.map(n => s"$n 0 R").mkString(" ") + "] >>").getBytes("US-ASCII"))
    obj(("<< /Type /Font /Subtype /Type0 /BaseFont /GRAFTA+Synth " +
      "/Encoding /Identity-H /DescendantFonts [4 0 R] " +
      "/ToUnicode 5 0 R >>").getBytes("US-ASCII"))
    obj(("<< /Type /Font /Subtype /CIDFontType2 /BaseFont /GRAFTA+Synth " +
      "/CIDSystemInfo << /Registry (Adobe) /Ordering (Identity) " +
      "/Supplement 0 >> /DW 500 >>").getBytes("US-ASCII"))
    offsets += out.size().toLong
    out.write((s"5 0 obj\n<< /Length ${zCmap.length} /Filter /FlateDecode " +
      ">>\nstream\n").getBytes("US-ASCII"))
    out.write(zCmap)
    out.write("\nendstream\nendobj\n".getBytes("US-ASCII"))
    for ((lines, i) <- pages.zipWithIndex) {
      val contentNum = 6 + 2 * i + 1
      obj((s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        s"/Resources << /Font << /F1 3 0 R >> >> " +
        s"/Contents $contentNum 0 R >>").getBytes("US-ASCII"))
      val content = new ByteArrayOutputStream()
      content.write("BT /F1 12 Tf 72 720 Td\n".getBytes("US-ASCII"))
      for ((line, j) <- lines.zipWithIndex) {
        if (j > 0) content.write("0 -14 TD\n".getBytes("US-ASCII"))
        content.write('<')
        line.codePoints().forEach { cp =>
          content.write(f"${cids(cp)}%04X".getBytes("US-ASCII"))
        }
        content.write("> Tj\n".getBytes("US-ASCII"))
      }
      content.write("ET".getBytes("US-ASCII"))
      val z = deflate(content.toByteArray)
      offsets += out.size().toLong
      out.write((s"$contentNum 0 obj\n<< /Length ${z.length} " +
        "/Filter /FlateDecode >>\nstream\n").getBytes("US-ASCII"))
      out.write(z)
      out.write("\nendstream\nendobj\n".getBytes("US-ASCII"))
    }
    val xrefAt = out.size()
    val n = offsets.size
    out.write(s"xref\n0 ${n + 1}\n".getBytes("US-ASCII"))
    out.write("0000000000 65535 f \n".getBytes("US-ASCII"))
    offsets.foreach { o =>
      out.write(f"$o%010d 00000 n \n".getBytes("US-ASCII"))
    }
    out.write((s"trailer\n<< /Size ${n + 1} /Root 1 0 R >>\n" +
      s"startxref\n$xrefAt\n%%EOF\n").getBytes("US-ASCII"))
    out.toByteArray
  }
}

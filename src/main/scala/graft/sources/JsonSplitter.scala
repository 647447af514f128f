package graft.sources

import java.io.InputStream

/** Splits one gigantic single-object JSON document (a CMS
  * machine-readable file: `{header…, "provider_references": […],
  * "in_network": […], header…}`) into independently parseable chunks
  * without ever holding the document in memory.
  *
  * This is the engine's only genuinely custom computation — everything
  * downstream is declarative Spark. It replaces the reference's
  * bidirectional byte scans (`ByteParser.scala:13-259`) and recursive
  * driver parse (`JsonMRFSource.scala:74-134`) with ONE forward-only,
  * resumable lexer, [[JsonSplitter.ValueScan]], which skips one JSON
  * value at a time. Both sides of the split run on it: this streaming
  * splitter feeds it one read buffer at a time and is STRICT (EOF or a
  * delimiter where a value should start fails the file, see
  * `scanValue`), and the executor-side re-split
  * [[JsonSplitter.splitTopLevelElements]] feeds it one element run and
  * is LENIENT (an unterminated value ends at the end of the run). By
  * design it fixes three reference defects:
  *   - the unimplemented "array key not in buffer" hole
  *     (`JsonMRFSource.scala:114` `???`) — keys are captured on the way
  *     in, never re-discovered by scanning backwards;
  *   - the 25-character key-length cap (`ByteParser.scala:36`);
  *   - chunk boundaries that depend on the read buffer size — here
  *     chunks are cut purely by `chunkTargetBytes`/`maxElementsPerChunk`,
  *     so the split is DETERMINISTIC for a given file + options. That is
  *     what makes streaming-checkpoint recovery idempotent (SURVEY.md
  *     §2.8 T7): ordinal offsets re-derive identical byte ranges on
  *     restart.
  *
  * Scale design: scanning is inherently sequential per file (bracket
  * matching), so the unit of parallelism is the FILE — run one splitter
  * per file concurrently (the batch table does exactly that) — while
  * each splitter streams through a bounded buffer at memory O(buffer +
  * largest single element). Emitted chunks are byte ranges; executors
  * re-read their own ranges in parallel, so the driver never holds
  * payload bytes.
  *
  * Output contract (mirrors the reference bronze rows,
  * `JsonMRFSource.scala:242-258`):
  *   - [[JsonSplitter.ArrayChunk]]: byte range `[start, end)` covering a
  *     run of complete elements of the top-level array `headerKey`,
  *     separators included, enclosing brackets excluded — wrapping the
  *     range in `[`/`]` yields a valid JSON array.
  *   - [[JsonSplitter.HeaderChunk]]: all non-array top-level members,
  *     reassembled into one small valid JSON object (`header_key = ""`).
  */
object JsonSplitter {

  sealed trait Chunk

  /** `[start, end)` byte range of `elements` complete array elements of
    * top-level array `headerKey`.
    */
  final case class ArrayChunk(headerKey: String, start: Long, end: Long, elements: Int)
      extends Chunk

  /** Scalar/object residue of the top-level document, already valid JSON. */
  final case class HeaderChunk(json: String) extends Chunk

  /** @param chunkTargetBytes cut an array chunk once it spans this many
    *   bytes (one oversized element still becomes its own chunk);
    * @param maxElementsPerChunk cap on elements per chunk — bounds the
    *   per-row explode width downstream;
    * @param bufferSize read-buffer size; affects throughput only, never
    *   chunk boundaries;
    * @param maxResidueBytes guard against a pathological non-array
    *   member (e.g. a multi-GB nested object) ballooning driver memory.
    */
  final case class Options(
      chunkTargetBytes: Long = 8L << 20,
      maxElementsPerChunk: Int = 10000,
      bufferSize: Int = 4 << 20,
      maxResidueBytes: Long = 64L << 20)

  /** Structural byte classes. */
  private final val Quote = '"'.toByte
  private final val Backslash = '\\'.toByte

  private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\n' || b == '\t' || b == '\r'

  private def isDelim(b: Byte): Boolean =
    isWs(b) || b == ','.toByte || b == ']'.toByte || b == '}'.toByte

  /** The one JSON lexer: a resumable skip over ONE value — a string, a
    * `{…}`/`[…]` container or a bare scalar — fed any number of byte
    * ranges in order. Depth, in-string and escape state carry across
    * ranges, so the streaming splitter feeds it one read buffer at a
    * time and [[splitTopLevelElements]] one whole element run.
    *
    * A container's first byte sets depth 1 and the value ends when depth
    * returns to 0; a string is a depth-0 value that ends at its closing
    * quote; a scalar always takes its first byte and ends before the
    * next whitespace, `,`, `]` or `}`. The lexer has no policy of its own
    * for input that is not JSON: the callers decide what EOF or a
    * delimiter where a value should start means.
    */
  private[sources] final class ValueScan {
    private var started = false
    private var scalar = false
    private var depth = 0
    private var inString = false
    private var escape = false

    /** The value ended inside the last range [[scan]] was given. */
    var done = false

    def reset(): Unit = {
      started = false; scalar = false; depth = 0
      inString = false; escape = false; done = false
    }

    /** Scans `bytes[from, until)`; returns the offset just past the value
      * when it ends in the range (`done`, the offset of the delimiter for
      * a scalar), else `until`.
      */
    def scan(bytes: Array[Byte], from: Int, until: Int): Int = {
      var p = from
      if (!started && p < until) {
        started = true
        val b = bytes(p)
        if (b == Quote) inString = true
        else if (b == '{'.toByte || b == '['.toByte) depth = 1
        else scalar = true
        p += 1
      }
      if (scalar) scalarEnd(bytes, p, until) else nestedEnd(bytes, p, until)
    }

    private def scalarEnd(bytes: Array[Byte], from: Int, until: Int): Int = {
      var p = from
      while (p < until && !isDelim(bytes(p))) p += 1
      done = p < until
      p
    }

    /** The hot loop for multi-GB `in_network` elements: the state lives
      * in locals while it runs and is stored back only when the range
      * ends first.
      */
    private def nestedEnd(bytes: Array[Byte], from: Int, until: Int): Int = {
      var p = from
      var d = depth
      var s = inString
      var e = escape
      while (p < until) {
        val b = bytes(p)
        p += 1
        if (s) {
          if (e) e = false
          else if (b == Backslash) e = true
          else if (b == Quote) {
            s = false
            if (d == 0) { done = true; return p }
          }
        } else if (b == Quote) s = true
        else if (b == '{'.toByte || b == '['.toByte) d += 1
        else if (b == '}'.toByte || b == ']'.toByte) {
          d -= 1
          if (d == 0) { done = true; return p }
        }
      }
      depth = d; inString = s; escape = e
      p
    }
  }

  /** Splits a chunk's payload bytes (no enclosing brackets) back into
    * per-element `[start, end)` offsets with [[ValueScan]], once per
    * element. Executor-side counterpart of the driver's chunking — used
    * for the `perElement` and `payloadAsArray` output shapes and by
    * silver's element path ([[MrfElements]]; reference:
    * `JsonChunks.scala:69-83`). Pure, in-memory, O(n).
    *
    * Lenient by design, since [[MrfElements]] reads any bronze string:
    * a value left open at `until` ends there, and a stray `]`/`}` is a
    * one-byte (malformed) element that the silver parse drops. Ranges are
    * never empty, never overlap and never leave `[from, until)`.
    */
  def splitTopLevelElements(bytes: Array[Byte], from: Int, until: Int): IndexedSeq[(Int, Int)] = {
    val out = IndexedSeq.newBuilder[(Int, Int)]
    val lexer = new ValueScan
    var p = from
    while (p < until) {
      while (p < until && (isWs(bytes(p)) || bytes(p) == ','.toByte)) p += 1
      if (p < until) {
        val start = p
        lexer.reset()
        p = lexer.scan(bytes, p, until)
        out += ((start, p))
      }
    }
    out.result()
  }

  /** Minimal JSON string unescape for header keys (reference never
    * unescapes — its keys are plain ASCII; we stay correct for escapes).
    */
  private[sources] def unescape(s: String): String = {
    if (!s.contains('\\')) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case '"' => sb += '"'; i += 2
          case '\\' => sb += '\\'; i += 2
          case '/' => sb += '/'; i += 2
          case 'b' => sb += '\b'; i += 2
          case 'f' => sb += '\f'; i += 2
          case 'n' => sb += '\n'; i += 2
          case 'r' => sb += '\r'; i += 2
          case 't' => sb += '\t'; i += 2
          case 'u' if i + 6 <= s.length =>
            val hex = s.substring(i + 2, i + 6)
            val cp =
              try Integer.parseInt(hex, 16)
              catch {
                case _: NumberFormatException => throw new IllegalArgumentException(
                  s"malformed \\u escape '\\u$hex' in object key")
              }
            sb += cp.toChar
            i += 6
          case other => sb += other; i += 2
        }
      } else { sb += c; i += 1 }
    }
    sb.toString
  }
}

/** One-shot forward scanner over `in`. Not thread-safe; use one instance
  * per file. See [[JsonSplitter]] for the contract.
  */
final class JsonSplitter(
    in: InputStream,
    opts: JsonSplitter.Options = JsonSplitter.Options()) {
  import JsonSplitter._

  private val buf = new Array[Byte](opts.bufferSize)
  private var bufLen = 0
  private var bufPos = 0
  private var base = 0L // absolute file offset of buf(0)
  private var eof = false

  /** Absolute offset of the next unread byte. */
  private def abs: Long = base + bufPos

  /** Ensure ≥1 unread byte is available; false at end of input. */
  private def refill(): Boolean = {
    if (bufPos < bufLen) return true
    if (eof) return false
    base += bufLen
    bufPos = 0
    bufLen = 0
    var n = 0
    while (bufLen == 0 && { n = in.read(buf, 0, buf.length); n >= 0 })
      bufLen = n
    if (bufLen == 0) { eof = true; false } else true
  }

  private def peek(): Int = if (refill()) buf(bufPos) & 0xff else -1

  private def advance(): Unit = bufPos += 1

  private def skipWs(): Unit = {
    while (refill() && isWs(buf(bufPos))) bufPos += 1
  }

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"malformed JSON at byte $abs: $msg")

  /** Fails unless the next byte is `c`; consumes nothing. */
  private def check(c: Char): Unit = {
    val b = peek()
    if (b != c.toInt) fail(s"expected '$c', got ${if (b < 0) "EOF" else s"'${b.toChar}'"}")
  }

  private def expect(c: Char): Unit = { check(c); advance() }

  private val lexer = new ValueScan

  /** Scan any JSON value starting at the current (non-ws) position;
    * optionally collect its raw bytes. The strict policy lives here, not
    * in [[ValueScan]]: a delimiter where a value should start fails, and
    * so does EOF before the value ends. EOF never ends a scalar either —
    * a valid document closes with the top-level '}', so every scalar is
    * followed by a delimiter BYTE; ending one at EOF would let a
    * truncated file "complete" its final element and emit a chunk the
    * full file never produces, breaking the truncation-prefix invariant
    * ignoreCorruptFiles depends on.
    */
  private def scanValue(collect: java.io.ByteArrayOutputStream): Unit = {
    peek() match {
      case -1 => fail("EOF, expected a value")
      case ',' | ']' | '}' => fail("expected a JSON value")
      case _ =>
    }
    lexer.reset()
    while (!lexer.done) {
      if (!refill()) fail("EOF inside value")
      val p = lexer.scan(buf, bufPos, bufLen)
      if (collect != null) collect.write(buf, bufPos, p - bufPos)
      bufPos = p
    }
  }

  /** Consume the elements of a top-level array (opening `[` already
    * consumed), emitting [[JsonSplitter.ArrayChunk]]s cut at
    * `chunkTargetBytes`/`maxElementsPerChunk` boundaries.
    */
  private def scanTopLevelArray(key: String, onChunk: Chunk => Unit): Unit = {
    skipWs()
    if (peek() == ']') { advance(); return }
    var chunkStart = abs
    var lastEnd = abs
    var elems = 0
    var done = false
    while (!done) {
      scanValue(null)
      lastEnd = abs
      elems += 1
      val cut = lastEnd - chunkStart >= opts.chunkTargetBytes ||
        elems >= opts.maxElementsPerChunk
      if (cut) {
        onChunk(ArrayChunk(key, chunkStart, lastEnd, elems))
        elems = 0
        chunkStart = -1L
      }
      skipWs()
      peek() match {
        case ',' =>
          advance(); skipWs()
          if (chunkStart < 0) chunkStart = abs
        case ']' =>
          advance()
          if (elems > 0) onChunk(ArrayChunk(key, chunkStart, lastEnd, elems))
          done = true
        case -1 => fail("EOF inside array")
        case c => fail(s"expected ',' or ']' in array, got '${c.toChar}'")
      }
    }
  }

  /** Buffer that fails the parse AS the cap is crossed: checking only
    * after a member is fully buffered would defeat the guard for the
    * very input it exists for — ONE multi-GB member OOMs the driver
    * before any post-hoc size check runs.
    */
  private final class CappedBuffer(cap: Long, what: String)
      extends java.io.ByteArrayOutputStream {
    private def check(extra: Int): Unit =
      if (size().toLong + extra > cap) fail(s"$what exceeds $cap bytes (maxResidueBytes)")
    override def write(b: Int): Unit = { check(1); super.write(b) }
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      check(len); super.write(b, off, len)
    }
  }

  /** Stream the whole document, invoking `onChunk` for every emitted
    * chunk in document order. Single pass; throws on malformed input.
    */
  def run(onChunk: Chunk => Unit): Unit = {
    val residue = new CappedBuffer(opts.maxResidueBytes, "non-array header members")
    var members = 0
    // tolerate a UTF-8 BOM (real-world MRF exports carry one)
    if (peek() == 0xef) {
      advance()
      if (peek() == 0xbb) advance()
      if (peek() == 0xbf) advance()
    }
    skipWs()
    expect('{')
    skipWs()
    var done = peek() == '}'
    if (done) advance()
    while (!done) {
      skipWs()
      val keyRaw = new CappedBuffer(opts.maxResidueBytes, "object key")
      check('"')
      scanValue(keyRaw)
      skipWs()
      expect(':')
      skipWs()
      if (peek() == '[') {
        advance()
        val quoted = keyRaw.toString("UTF-8")
        scanTopLevelArray(unescape(quoted.substring(1, quoted.length - 1)), onChunk)
      } else {
        if (members > 0) residue.write(','.toByte)
        keyRaw.writeTo(residue)
        residue.write(':'.toByte)
        scanValue(residue) // the capped buffer enforces maxResidueBytes mid-stream
        members += 1
      }
      skipWs()
      peek() match {
        case ',' => advance()
        case '}' => advance(); done = true
        case -1 => fail("EOF, expected ',' or '}'")
        case c => fail(s"expected ',' or '}', got '${c.toChar}'")
      }
    }
    if (members > 0)
      onChunk(HeaderChunk("{" + residue.toString("UTF-8") + "}"))
  }
}

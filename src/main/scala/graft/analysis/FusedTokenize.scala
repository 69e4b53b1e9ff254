package graft.analysis

/** Receives tokens from [[FusedTokenize.run]]. The char buffer is REUSED
  * across calls — implementations must copy what they keep.
  *
  * @param buf      token characters (exactly `len` valid)
  * @param len      character count
  * @param rawBytes UTF-8 byte length of the ORIGINAL (pre-lowercase) token —
  *                 the remove-long filter measures this
  * @param pos      pre-filter token ordinal (stop/long-dropped tokens still
  *                 advance it — phrase adjacency is pre-filter, see [[Token]])
  * @param ascii    every char is < 0x80 (enables exact in-place lowercasing)
  */
trait TokenSink {
  def token(buf: Array[Char], len: Int, rawBytes: Int, pos: Int, ascii: Boolean): Unit
}

/** Allocation-free streaming variants of the three word-run tokenizers
  * ([[SummaTokenizer]] / [[SimpleWordTokenizer]] / [[WhitespaceTokenizer]]):
  * identical token streams, but emitted through a [[TokenSink]] over a reused
  * char buffer instead of materializing `Vector[Token]` — the indexing hot
  * path consumes tokens exactly once, so the per-token `Token` objects and
  * the filter-chain Vector copies were pure allocation churn (the measured
  * memory-bandwidth tax of the wide build phase).
  *
  * Byte offsets are not produced (indexing never reads them); position and
  * UTF-8 length semantics are pinned equal to the `Token`-vector tokenizers by
  * FusedAnalyzeSpec.
  */
object FusedTokenize {

  /** [[Analyzer.fusedKind]] of a base this object does not stream. */
  final val KindNone = -1
  final val KindSumma = 0
  final val KindSimple = 1
  final val KindWhitespace = 2

  /** Mutable cursor state for one [[run]] pass — a nested `def flush()`
    * capturing local `var`s compiles to Ref-box indirection per token (it
    * showed up as a top JFR leaf); plain fields on a throwaway object don't.
    */
  private final class Cursor {
    var buf = new Array[Char](64)
    var blen = 0
    var bbytes = 0
    var ascii = true
    var pos = -1

    def flush(sink: TokenSink): Unit =
      if (blen > 0) {
        pos += 1
        sink.token(buf, blen, bbytes, pos, ascii)
        blen = 0; bbytes = 0; ascii = true
      }
  }

  /** Tokenize `text`, pushing each token into `sink`. Semantics per kind:
    * maximal runs of the kind's token-character class; KindSumma additionally
    * emits every CJK ideograph as its own single-char token (reference
    * `tokenizer.rs:70-127`).
    */
  def run(kind: Int, text: String, sink: TokenSink): Unit = {
    val c = new Cursor
    var ci = 0
    val n = text.length

    while (ci < n) {
      val cp = text.codePointAt(ci)
      val bw = Utf8.len(cp)
      val isTok = kind match {
        case KindSumma => SummaTokenizer.isTokenChar(cp)
        case KindSimple =>
          Character.isLetter(cp) || {
            val t = Character.getType(cp)
            t == Character.DECIMAL_DIGIT_NUMBER || t == Character.LETTER_NUMBER ||
            t == Character.OTHER_NUMBER
          }
        case _ => !Character.isWhitespace(cp)
      }
      if (kind == KindSumma && SummaTokenizer.isCjk(cp)) {
        c.flush(sink)
        c.pos += 1
        val cc = Character.charCount(cp)
        if (cc == 1) c.buf(0) = cp.toChar
        else { c.buf(0) = Character.highSurrogate(cp); c.buf(1) = Character.lowSurrogate(cp) }
        sink.token(c.buf, cc, bw, c.pos, ascii = false)
      } else if (isTok) {
        if (c.blen + 2 > c.buf.length) c.buf = java.util.Arrays.copyOf(c.buf, c.buf.length * 2)
        if (cp < 0x10000) { c.buf(c.blen) = cp.toChar; c.blen += 1 }
        else {
          c.buf(c.blen) = Character.highSurrogate(cp)
          c.buf(c.blen + 1) = Character.lowSurrogate(cp)
          c.blen += 2
        }
        c.bbytes += bw
        if (cp >= 0x80) c.ascii = false
      } else c.flush(sink)
      ci += Character.charCount(cp)
    }
    c.flush(sink)
  }

  /** ASCII fast path over raw UTF-8 bytes: for pure-ASCII input every byte
    * IS a codepoint (1 UTF-8 byte, 1 char, never CJK, never a surrogate), so
    * the per-codepoint semantics of [[run]] collapse to a straight byte
    * scan — no String materialization at all. Returns `false` the moment a
    * non-ASCII byte (sign bit set) appears; the caller must then reset its
    * sink and re-run the String-based [[run]], which preserves full Unicode
    * semantics bit-for-bit. Token-char classification per kind is identical
    * to [[run]] (same predicates, on codepoints < 0x80).
    */
  def runAscii(bytes: Array[Byte], n: Int, kind: Int, sink: TokenSink): Boolean = {
    val c = new Cursor
    var i = 0
    while (i < n) {
      val b = bytes(i)
      if (b < 0) return false
      val cp = b.toInt
      val isTok = kind match {
        case KindSumma => SummaTokenizer.isTokenChar(cp)
        case KindSimple =>
          Character.isLetter(cp) || {
            val t = Character.getType(cp)
            t == Character.DECIMAL_DIGIT_NUMBER || t == Character.LETTER_NUMBER ||
            t == Character.OTHER_NUMBER
          }
        case _ => !Character.isWhitespace(cp)
      }
      if (isTok) {
        if (c.blen + 1 > c.buf.length) c.buf = java.util.Arrays.copyOf(c.buf, c.buf.length * 2)
        c.buf(c.blen) = cp.toChar
        c.blen += 1
        c.bbytes += 1
      } else c.flush(sink)
      i += 1
    }
    c.flush(sink)
    true
  }

  /** Stop-list membership probe addressable by a raw char buffer — a
    * `Set[String]` lookup would force a String allocation per token just to
    * drop it. Hash/compare agree with `String.hashCode`/`equals`, table
    * seeded from [[StopWords.All]].
    */
  object StopChars {
    private val cap = 2048 // 321 entries, power of 2, sparse
    private val table = new Array[String](cap)
    StopWords.All.foreach { w =>
      var i = spread(w.hashCode) & (cap - 1)
      while (table(i) != null) i = (i + 1) & (cap - 1)
      table(i) = w
    }

    @inline private def spread(h: Int): Int = h ^ (h >>> 16)

    /** String.hashCode over a char slice. */
    def hashOf(buf: Array[Char], len: Int): Int = {
      var h = 0
      var i = 0
      while (i < len) { h = 31 * h + buf(i); i += 1 }
      h
    }

    def contains(buf: Array[Char], len: Int, hash: Int): Boolean = {
      var i = spread(hash) & (cap - 1)
      var k = table(i)
      while (k != null) {
        if (k.length == len) {
          var j = 0
          while (j < len && k.charAt(j) == buf(j)) j += 1
          if (j == len) return true
        }
        i = (i + 1) & (cap - 1)
        k = table(i)
      }
      false
    }
  }
}

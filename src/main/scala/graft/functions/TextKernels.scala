package graft.functions

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String

/** Byte-scan tokenizing kernels over UTF8String — the eval targets of
  * the `bpe_token_count` / `ws_token_count` / `ws_split` / `letter_split`
  * codegen expressions ([[org.apache.spark.sql.graftshim.BpeTokenCountExpr]]
  * and its siblings in `TokenCountExprs.scala`).
  *
  * The two counting kernels reproduce a Java-regex formulation EXACTLY
  * (the DuckDB oracles replay the regex form, so equivalence is
  * load-bearing) while touching each UTF-8 byte once and allocating nothing:
  *
  *   - `regexp_extract_all(text, "[A-Za-z0-9]+|[^A-Za-z0-9\s]")` builds a
  *     per-row array of match copies that `size` immediately discards;
  *   - `filter(split(trim(text), "\s+"), t => t =!= "")` runs the
  *     higher-order filter INTERPRETED per element (ArrayFilter is
  *     CodegenFallback) on top of a regex split allocation.
  *
  * The UTF-8 byte structure does the Unicode work for free: Java-regex
  * `\s` is ASCII-only ([ \t\n\x0B\f\r]) and `[A-Za-z0-9]` is ASCII-only,
  * so every non-ASCII CODE POINT is exactly one `[^A-Za-z0-9\s]` match —
  * and a non-ASCII code point is exactly one UTF-8 lead byte
  * ((b & 0xC0) != 0x80 with the high bit set), continuation bytes never
  * count. No decode needed; supplementary (4-byte) code points land once,
  * matching the regex engine's code-point iteration.
  *
  * Public + statically forwarded so generated Java calls them directly
  * (same pattern as [[HashFunctions.fnv64]]).
  */
object TextKernels {

  @inline private def isWsByte(ub: Int): Boolean =
    ub == ' '.toInt || (ub >= 0x09 && ub <= 0x0D)

  @inline private def isAlnumByte(ub: Int): Boolean =
    (ub >= 'A'.toInt && ub <= 'Z'.toInt) ||
      (ub >= 'a'.toInt && ub <= 'z'.toInt) ||
      (ub >= '0'.toInt && ub <= '9'.toInt)

  /** Match count of `[A-Za-z0-9]+|[^A-Za-z0-9\s]` (Java-regex semantics):
    * one per maximal ASCII-alphanumeric run, plus one per code point that
    * is neither ASCII alphanumeric nor ASCII whitespace.
    */
  def bpeTokenCount(s: UTF8String): Int = {
    val n = s.numBytes()
    var i = 0
    var count = 0
    var inAlnum = false
    while (i < n) {
      val ub = s.getByte(i) & 0xFF
      if (isAlnumByte(ub)) {
        if (!inAlnum) { count += 1; inAlnum = true }
      } else {
        inAlnum = false
        if (ub < 0x80) {
          if (!isWsByte(ub)) count += 1
        } else if ((ub & 0xC0) != 0x80) {
          count += 1 // UTF-8 lead byte: one non-ASCII code point, one match
        }
      }
      i += 1
    }
    count
  }

  /** `split(trim(text), "\s+")` itself (Java-regex `split` with limit -1,
    * after SQL `trim`'s ASCII-space strip) as one byte scan: token
    * boundaries are maximal runs of `\s` bytes, a leading/trailing run
    * yields the empty token Java keeps (limit -1), and the empty-after-trim
    * string yields `[""]` exactly like `"".split`. Slices share one byte
    * array (`UTF8String.fromBytes(bytes, offset, len)`) — no regex engine,
    * no UTF-16 round-trip, no per-token String. The regex form converts the
    * row to a java.lang.String, runs the NFA, then re-encodes every token
    * back to UTF-8.
    */
  def wsSplit(s: UTF8String): GenericArrayData = {
    val bytes = s.getBytes
    var b = 0
    var e = bytes.length
    while (b < e && bytes(b) == ' ') b += 1
    while (e > b && bytes(e - 1) == ' ') e -= 1
    if (b == e) return new GenericArrayData(Array[Any](UTF8String.EMPTY_UTF8))
    val out = new scala.collection.mutable.ArrayBuffer[Any](8)
    var start = b
    var i = b
    while (i < e) {
      if (isWsByte(bytes(i) & 0xFF)) {
        out += UTF8String.fromBytes(bytes, start, i - start)
        i += 1
        while (i < e && isWsByte(bytes(i) & 0xFF)) i += 1
        start = i
      } else i += 1
    }
    out += UTF8String.fromBytes(bytes, start, e - start)
    new GenericArrayData(out.toArray)
  }

  /** Non-empty tokens of `split(text, "[^\\p{L}]+")` — the maximal runs of
    * code points with `Character.isLetter` (Java-regex `\p{L}` is the same
    * general-category set), which is Go's `FieldsFunc(!unicode.IsLetter)`.
    * One strict UTF-8 scan decodes each code point in place; malformed,
    * overlong and surrogate-encoded bytes count as non-letters, like the
    * U+FFFD `UTF8String.toString` decodes them to. A malformed lead byte
    * consumes only itself, so a letter right after it is never swallowed.
    * Tokens are slices of the row's bytes, as in [[wsSplit]].
    */
  def letterSplit(s: UTF8String): GenericArrayData = {
    val bytes = s.getBytes
    val n = bytes.length
    val out = new scala.collection.mutable.ArrayBuffer[Any](8)
    var start = -1 // first byte of the current letter run, -1 outside one
    var i = 0
    while (i < n) {
      val b0 = bytes(i) & 0xFF
      var len = 1
      var letter = false
      if (b0 < 0x80) letter = ((b0 | 0x20) >= 'a'.toInt) && ((b0 | 0x20) <= 'z'.toInt)
      else {
        val cp = decodeMultiByte(bytes, i, n, b0)
        if (cp >= 0) {
          len = if (cp < 0x800) 2 else if (cp < 0x10000) 3 else 4
          letter = Character.isLetter(cp)
        }
      }
      if (letter) { if (start < 0) start = i }
      else if (start >= 0) {
        out += UTF8String.fromBytes(bytes, start, i - start)
        start = -1
      }
      i += len
    }
    if (start >= 0) out += UTF8String.fromBytes(bytes, start, n - start)
    new GenericArrayData(out.toArray)
  }

  @inline private def isCont(bytes: Array[Byte], j: Int, n: Int, lo: Int, hi: Int): Boolean =
    j < n && { val c = bytes(j) & 0xFF; c >= lo && c <= hi }

  /** Code point of the well-formed 2–4 byte sequence that starts at `i` with
    * lead byte `b0` (>= 0x80), or -1. Second-byte bounds exclude overlong
    * forms, UTF-16 surrogates (ED A0..BF) and code points past U+10FFFF.
    */
  private def decodeMultiByte(bytes: Array[Byte], i: Int, n: Int, b0: Int): Int = {
    if (b0 >= 0xC2 && b0 <= 0xDF) {
      if (isCont(bytes, i + 1, n, 0x80, 0xBF))
        ((b0 & 0x1F) << 6) | (bytes(i + 1) & 0x3F)
      else -1
    } else if (b0 >= 0xE0 && b0 <= 0xEF) {
      val lo = if (b0 == 0xE0) 0xA0 else 0x80
      val hi = if (b0 == 0xED) 0x9F else 0xBF
      if (isCont(bytes, i + 1, n, lo, hi) && isCont(bytes, i + 2, n, 0x80, 0xBF))
        ((b0 & 0x0F) << 12) | ((bytes(i + 1) & 0x3F) << 6) | (bytes(i + 2) & 0x3F)
      else -1
    } else if (b0 >= 0xF0 && b0 <= 0xF4) {
      val lo = if (b0 == 0xF0) 0x90 else 0x80
      val hi = if (b0 == 0xF4) 0x8F else 0xBF
      if (isCont(bytes, i + 1, n, lo, hi) && isCont(bytes, i + 2, n, 0x80, 0xBF) &&
          isCont(bytes, i + 3, n, 0x80, 0xBF))
        ((b0 & 0x07) << 18) | ((bytes(i + 1) & 0x3F) << 12) |
          ((bytes(i + 2) & 0x3F) << 6) | (bytes(i + 3) & 0x3F)
      else -1
    } else -1 // lone continuation byte, C0/C1 overlong lead, or F5..FF
  }

  /** Count of non-empty tokens of `split(trim(text), "\s+")` — i.e. the
    * number of maximal runs of non-`\s` bytes. `trim` (ASCII space only)
    * cannot change the count of NON-EMPTY tokens, so it needs no
    * special-casing; continuation bytes are non-`\s` and simply extend the
    * current run.
    */
  def wsTokenCount(s: UTF8String): Int = {
    val n = s.numBytes()
    var i = 0
    var count = 0
    var inTok = false
    while (i < n) {
      val ub = s.getByte(i) & 0xFF
      if (isWsByte(ub)) inTok = false
      else if (!inTok) { count += 1; inTok = true }
      i += 1
    }
    count
  }
}

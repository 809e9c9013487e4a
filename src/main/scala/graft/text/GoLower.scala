package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.Kernel.call
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Go-compatible simple Unicode case fold.
 *
 * The reference lowers text with Go's `strings.ToLower`
 * (`/root/reference/vectorisers.go:117`), which applies the *simple*
 * per-rune fold. Java's `String.toLowerCase` applies full (locale /
 * multi-char) mappings and differs on e.g. U+0130 LATIN CAPITAL LETTER I
 * WITH DOT ABOVE: Go yields "i" (1 codepoint), Java yields "i̇"
 * (2 codepoints). Per-codepoint `Character.toLowerCase` matches Go's
 * simple fold, which is what we use here. This pins the
 * "byte-identical extracted text per url" invariant of the north rule.
 */
object GoLowerUtil {
  def goLower(s: UTF8String): UTF8String = {
    val str = s.toString
    var i = 0
    val n = str.length
    // fast path: ASCII-only, no allocation surprises
    var ascii = true
    var needsChange = false
    while (i < n && ascii) {
      val c = str.charAt(i)
      if (c >= 0x80) ascii = false
      else if (c >= 'A' && c <= 'Z') needsChange = true
      i += 1
    }
    if (ascii) {
      if (!needsChange) return s
      val out = new Array[Char](n)
      i = 0
      while (i < n) {
        val c = str.charAt(i)
        out(i) = if (c >= 'A' && c <= 'Z') (c + 32).toChar else c
        i += 1
      }
      return UTF8String.fromString(new String(out))
    }
    // general path: per-codepoint simple fold (matches Go unicode.ToLower)
    val sb = new java.lang.StringBuilder(n)
    i = 0
    while (i < n) {
      val cp = str.codePointAt(i)
      sb.appendCodePoint(Character.toLowerCase(cp))
      i += Character.charCount(cp)
    }
    UTF8String.fromString(sb.toString)
  }
}

object GoTokensUtil {
  import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

  /** Single-pass fused tokenizer (optimization round): simple-fold
    * lowercase + Unicode-letter-run extraction, byte-identical to
    * `regexp_extract_all(golower(text), "[\p{L}]+", 0)` — the letter
    * test runs on the LOWERED code point exactly as the regex saw it,
    * and `Character.isLetter` is the same general-category-L predicate
    * as `\p{L}`. Avoids materialising the lowered string and the regex
    * engine scan per document (the extract stage's per-row head).
    * Equality asserted on the reference fold fixtures and adversarial
    * Unicode by Round6KernelSpec. */
  def goTokens(s: UTF8String): ArrayData = {
    val str = s.toString
    val n = str.length
    val out = new scala.collection.mutable.ArrayBuffer[Any](8)
    val sb = new java.lang.StringBuilder(16)
    var i = 0
    while (i < n) {
      val cp = str.codePointAt(i)
      val lc = Character.toLowerCase(cp)
      if (Character.isLetter(lc)) sb.appendCodePoint(lc)
      else if (sb.length > 0) {
        out += UTF8String.fromString(sb.toString)
        sb.setLength(0)
      }
      i += Character.charCount(cp)
    }
    if (sb.length > 0) out += UTF8String.fromString(sb.toString)
    new GenericArrayData(out.toArray)
  }
}

object GoTokens {
  val Tokenize = call(GoTokensUtil, "goTokens",
    ArrayType(StringType, containsNull = false), StringType)

  /** Fused golower + `[\p{L}]+` run extraction, see
    * [[GoTokensUtil.goTokens]]. */
  def gotokens(c: Column): Column = Tokenize(c)
}

object GoLower {
  val Fold = call(GoLowerUtil, "goLower", StringType, StringType)

  /** Go's simple case fold, see [[GoLowerUtil.goLower]]. */
  def golower(c: Column): Column = Fold(c)
}

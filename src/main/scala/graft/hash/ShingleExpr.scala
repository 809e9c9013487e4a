package graft.hash

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Kernel.call
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Codegen'd string-shingle kernels (optimization round, guide §4). The
 * Column formulation of the oracle-portable string shingles —
 * `array_distinct(transform(sequence(...), i => concat_ws(" ",
 * slice(tokens, i+1, w))))` — drops into interpreted higher-order eval
 * per WINDOW (slice copies the token sub-array, concat_ws re-joins it,
 * both through boxed lambda machinery): measured as the dominant cost
 * of q_shingle_count and the shingling half of q_jaccard_near. These
 * kernels produce BYTE-IDENTICAL output (same windows, same single
 * space join, same first-occurrence distinct order, same short-doc
 * whole-text fallback) in one primitive pass per document.
 */
object ShingleKernels {

  /** Distinct w-token window strings, first-occurrence order —
    * byte-identical to
    * `array_distinct(when(size(t) >= w, transform(sequence(0, size-w),
    *   i => concat_ws(" ", slice(t, i+1, w)))).otherwise(
    *   array(concat_ws(" ", t))))`.
    * Empty tokens are joined as-is (concat_ws semantics over non-null
    * elements). */
  def stringShingles(tokens: ArrayData, w: Int): ArrayData = {
    val n = tokens.numElements()
    val toks = new Array[Array[Byte]](n)
    var total = 0
    var i = 0
    while (i < n) {
      toks(i) = tokens.getUTF8String(i).getBytes
      total += toks(i).length
      i += 1
    }
    val eff = math.min(w, math.max(1, n)) // n<w → whole-doc window
    val nOut = math.max(1, n - eff + 1)   // n==0 → one empty string
    val seen = new java.util.LinkedHashSet[UTF8String](nOut * 2)
    val buf = new Array[Byte](total + math.max(0, n - 1))
    i = 0
    while (i < nOut) {
      var len = 0
      var j = i
      val end = math.min(n, i + eff)
      while (j < end) {
        if (j > i) { buf(len) = ' '; len += 1 }
        System.arraycopy(toks(j), 0, buf, len, toks(j).length)
        len += toks(j).length
        j += 1
      }
      seen.add(UTF8String.fromBytes(java.util.Arrays.copyOf(buf, len)))
      i += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[Any]])
  }

  /** Count of distinct w-token windows == size(stringShingles) without
    * materialising the string array (q_shingle_count's whole result). */
  def stringShingleCount(tokens: ArrayData, w: Int): Int =
    stringShingles(tokens, w).numElements()

  /** All n-token windows re-joined with single spaces, NON-distinct —
    * byte-identical to
    * `when(size(t) >= n, transform(sequence(0, size-n),
    *   i => array_join(slice(t, i+1, n), " ")))
    *  .otherwise(array().cast("array<string>"))`
    * (TrainingDataOps.tokenWindows' Column form — the decontamination
    * explode's per-window slice+join was interpreted). */
  def tokenWindows(tokens: ArrayData, n: Int): ArrayData = {
    val cnt = tokens.numElements()
    if (cnt < n) return new GenericArrayData(Array.empty[Any])
    val toks = new Array[Array[Byte]](cnt)
    var total = 0
    var i = 0
    while (i < cnt) {
      toks(i) = tokens.getUTF8String(i).getBytes
      total += toks(i).length
      i += 1
    }
    val nOut = cnt - n + 1
    val out = new Array[Any](nOut)
    val buf = new Array[Byte](total + math.max(0, cnt - 1))
    i = 0
    while (i < nOut) {
      var len = 0
      var j = i
      while (j < i + n) {
        if (j > i) { buf(len) = ' '; len += 1 }
        System.arraycopy(toks(j), 0, buf, len, toks(j).length)
        len += toks(j).length
        j += 1
      }
      out(i) = UTF8String.fromBytes(java.util.Arrays.copyOf(buf, len))
      i += 1
    }
    new GenericArrayData(out)
  }

  private val md5Local =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

  /** First 60 bits of md5(s) as a long — numerically identical to
    * `conv(substring(md5(s), 1, 15), 16, 10).cast("long")` (15 hex
    * digits = the top 7.5 digest bytes, big-endian). */
  def md5Prefix60(bytes: Array[Byte]): Long = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(bytes)
    var v = 0L
    var k = 0
    while (k < 7) { v = (v << 8) | (d(k) & 0xffL); k += 1 }
    (v << 4) | ((d(7) & 0xffL) >>> 4)
  }

  /** Element-wise [[md5Prefix60]] over a string array (order kept). */
  def md5Prefix60Array(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      out(i) = md5Prefix60(arr.getUTF8String(i).getBytes)
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }
}

/** Column-level API: one [[org.apache.spark.sql.graft.Kernel]] per
  * shingle kernel. */
object ShingleFunctions {
  private val strings = ArrayType(StringType, containsNull = false)
  private val stringsIn = ArrayType(StringType)

  /** The kernel definitions, shared with the SQL registry. */
  object Kernels {
    val stringShingles = call(ShingleKernels, "stringShingles", strings,
      stringsIn, IntegerType)
    val stringShingleCount = call(ShingleKernels, "stringShingleCount",
      IntegerType, stringsIn, IntegerType)
    val tokenWindows = call(ShingleKernels, "tokenWindows", strings,
      stringsIn, IntegerType)
    val md5Prefix60 = call(ShingleKernels, "md5Prefix60Array",
      ArrayType(LongType, containsNull = false), stringsIn)
  }

  /** Distinct w-token windows, see [[ShingleKernels.stringShingles]]. */
  def stringShingles(tokens: Column, w: Int): Column =
    Kernels.stringShingles(tokens, w)
  /** = size(stringShingles(tokens, w)). */
  def stringShingleCount(tokens: Column, w: Int): Column =
    Kernels.stringShingleCount(tokens, w)
  /** All n-token windows (non-distinct), space-joined; empty for short
    * docs. */
  def tokenWindows(tokens: Column, n: Int): Column =
    Kernels.tokenWindows(tokens, n)
  /** The SQL-portable 60-bit shingle id per element, fused: one digest
    * call each, no hex-string or decimal-string round trip. */
  def md5Prefix60(arr: Column): Column = Kernels.md5Prefix60(arr)
}

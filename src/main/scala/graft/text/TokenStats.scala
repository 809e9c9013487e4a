package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Kernel.call
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Codegen'd token-statistics kernels for the quality/language-id
 * per-row paths (optimization round, guide §4): the Column forms —
 * `aggregate(toks, 0.0, acc + length(t))` and
 * `size(filter(toks, array_contains(lit(words), t)))` — are
 * interpreted higher-order folds per document (×5 marker/stop lists on
 * the langid+quality surfaces). Both kernels produce EXACTLY the same
 * values: the length sum is an integer-valued double (token lengths
 * sum far below 2^53, so fold order cannot change the value) and the
 * membership counts are integers.
 */
object TokenStatsKernels {
  /** Σ length(token) as the same integer-valued double the
    * `aggregate(toks, 0.0, acc + length(t))` fold produced. */
  def sumStrLens(tokens: ArrayData): Double = {
    val n = tokens.numElements()
    var s = 0L
    var i = 0
    while (i < n) { s += tokens.getUTF8String(i).numChars(); i += 1 }
    s.toDouble
  }

  /** Count of tokens contained in `set` — identical to
    * `size(filter(toks, t => array_contains(lit(words), t)))`. */
  def countIn(tokens: ArrayData, set: java.util.HashSet[UTF8String]): Int = {
    val n = tokens.numElements()
    var c = 0
    var i = 0
    while (i < n) { if (set.contains(tokens.getUTF8String(i))) c += 1; i += 1 }
    c
  }

  def toSet(words: Array[String]): java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](words.length * 2)
    words.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }
}

/** Column-level API: one [[org.apache.spark.sql.graft.Kernel]] per
  * token-statistics kernel. */
object TokenStats {
  /** The kernel definitions, shared with the SQL registry. */
  object Kernels {
    val sumStrLens = call(TokenStatsKernels, "sumStrLens", DoubleType,
      ArrayType(StringType))
    val countIn = call(TokenStatsKernels, "countIn", IntegerType,
      ArrayType(StringType), ObjectType(classOf[java.util.HashSet[_]]))
  }

  /** Σ length(token) as an integer-valued double. */
  def sumStrLens(tokens: Column): Column = Kernels.sumStrLens(tokens)
  /** Membership count against a fixed word set, carried as a reference
    * object. */
  def countIn(tokens: Column, words: Array[String]): Column =
    Kernels.countIn(tokens, TokenStatsKernels.toSet(words))
}

package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.hash.{HashFunctions => H, ShingleFunctions => S}
import graft.text.{GoLower, GoTokens, TokenStats}
import graft.verify.VectorFunctions
import org.apache.spark.sql.graft.Kernel

/**
 * SQL surface: after registration these names are callable from
 * `spark.sql` / `expr(...)`:
 *
 * {{{
 * spark.sql("SELECT golower(text), minhash128(hashed_shingles(split(text,' '),5)) FROM pages")
 * }}}
 *
 * Registered: every kernel whose arguments are columns and ints.
 * Column API only: the kernels that carry a prepared Scala
 * object (`simhash64idf`, `filterNotIn`, `countIn`) or a double
 * parameter (`elementalScaled`, `sparseRandomProject`), and the custom
 * expressions that dispatch on the resolved element type
 * (`cosineDenseK`, `euclideanK`, `manhattanK`, `ivfProbe`).
 *
 * Usable either programmatically (`GraftFunctions.register(spark)`) or
 * via `--conf spark.sql.extensions=graft.GraftExtensions`.
 */
object GraftFunctions {

  /** One row per SQL name: its kernel and the int arguments the name
    * fixes after the caller's (`minhash128(x)` = `minhashk(x, 128)`). */
  val functions: Seq[(String, Kernel, Seq[Int])] = Seq(
    ("golower", GoLower.Fold, Nil),
    ("gotokens", GoTokens.Tokenize, Nil),
    ("murmur3go", H.Kernels.murmur3go, Nil),
    ("minhash128", H.Kernels.minhash, Seq(128)),
    ("minhashk", H.Kernels.minhash, Nil),
    ("simhash64", H.Kernels.simhash64, Nil),
    ("hashed_tf", H.Kernels.hashedTf, Nil),
    ("hashed_shingles", H.Kernels.hashedShingles, Nil),
    ("winnow", H.Kernels.winnow, Nil),
    ("winnow_ctx", H.Kernels.winnowCtx, Nil),
    ("random_project", H.Kernels.randomProject, Nil),
    ("gaussian_sketch", H.Kernels.gaussianSketch, Nil),
    ("string_shingles", S.Kernels.stringShingles, Nil),
    ("string_shingle_count", S.Kernels.stringShingleCount, Nil),
    ("token_windows", S.Kernels.tokenWindows, Nil),
    ("md5_prefix60", S.Kernels.md5Prefix60, Nil),
    ("sum_str_lens", TokenStats.Kernels.sumStrLens, Nil),
    ("jaccard_long_k", VectorFunctions.JaccardLong, Nil))

  def register(spark: SparkSession): Unit =
    functions.foreach { case (name, kernel, fixed) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, kernel.sql(name, fixed: _*), "built-in")
    }
}

/** `--conf spark.sql.extensions=graft.GraftExtensions` */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.functions.foreach { case (name, kernel, fixed) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft", name),
        kernel.sql(name, fixed: _*)))
    }
}

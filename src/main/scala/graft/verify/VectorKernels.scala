package graft.verify

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.graft.Kernel.call
import org.apache.spark.sql.types._

/**
 * Codegen'd replacements for the higher-order-function measure
 * formulations on the HOT pair paths (optimization round, guide §4:
 * "eliminate non-codegen Expressions in the hot path"). Spark's
 * `aggregate`/`zip_with`/`transform` higher-order functions are
 * CodegenFallback: every ANN pair paid three interpreted lambda folds
 * (cast, dot, two norms) per cosine — stack-sampling the brute-force
 * top-k showed the interpreted eval dominating task CPU.
 *
 * BIT-EXACTNESS CONTRACT: each kernel reproduces the exact double
 * operation sequence of the Column formulation it replaces
 * (left-to-right fold order, same cast points, same NaN/null
 * semantics), so every oracle hash and rank tie-break is unchanged.
 * Round6KernelSpec asserts kernel == legacy formulation on
 * adversarial inputs (nulls, zero vectors, NaN/Inf components,
 * mismatched lengths, float and double arrays).
 */
object VectorKernels {

  /** Element read with the same cast the Column form applied
    * (`transform(v, x => x.cast("double"))`). */
  @inline private def elem(a: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  private def hasNull(a: ArrayData): Boolean = {
    var i = 0
    val n = a.numElements()
    while (i < n) { if (a.isNullAt(i)) return true; i += 1 }
    false
  }

  /**
   * cosine(a, b) with the exact semantics of
   * `when(np === 0, NaN).otherwise(dot/np)` over
   * `aggregate`/`zip_with` folds:
   *  - any null element (either side) → null result, UNLESS np == 0.0
   *    is decidable first — the Column form computes np from each
   *    side's own fold, so a null element makes np null, the `when`
   *    condition null, and the result null;
   *  - np == 0.0 → NaN (both lengths' norms defined, product zero);
   *  - length mismatch (no nulls) → null (zip_with pads with null);
   *  - else dot/np, folds left-to-right.
   * Returns a boxed Double or null (boxing cost ≪ the interpreted
   * fold it replaces).
   */
  def cosineBoxed(a: ArrayData, b: ArrayData, aFloat: Boolean,
                  bFloat: Boolean): java.lang.Double = {
    if (hasNull(a) || hasNull(b)) return null
    val na = a.numElements()
    val nb = b.numElements()
    var sa = 0.0
    var i = 0
    while (i < na) { val v = elem(a, i, aFloat); sa += v * v; i += 1 }
    var sb = 0.0
    i = 0
    while (i < nb) { val v = elem(b, i, bFloat); sb += v * v; i += 1 }
    val np = math.sqrt(sa) * math.sqrt(sb)
    if (np == 0.0) return java.lang.Double.valueOf(Double.NaN)
    if (na != nb) return null
    var dot = 0.0
    i = 0
    while (i < na) { dot += elem(a, i, aFloat) * elem(b, i, bFloat); i += 1 }
    java.lang.Double.valueOf(dot / np)
  }

  /** sqrt(Σ(a_i−b_i)²), fold order as
    * `aggregate(zip_with(a,b,(x,y)=>(x−y)*(x−y)), 0.0, +)`.
    * Null element or length mismatch → null (zip_with null padding). */
  def euclideanBoxed(a: ArrayData, b: ArrayData, aFloat: Boolean,
                     bFloat: Boolean): java.lang.Double = {
    if (a.numElements() != b.numElements() || hasNull(a) || hasNull(b))
      return null
    var s = 0.0
    var i = 0
    val n = a.numElements()
    while (i < n) {
      val d = elem(a, i, aFloat) - elem(b, i, bFloat)
      s += d * d
      i += 1
    }
    java.lang.Double.valueOf(math.sqrt(s))
  }

  /** Σ|a_i−b_i|, same fold-order/null contract as [[euclideanBoxed]]. */
  def manhattanBoxed(a: ArrayData, b: ArrayData, aFloat: Boolean,
                     bFloat: Boolean): java.lang.Double = {
    if (a.numElements() != b.numElements() || hasNull(a) || hasNull(b))
      return null
    var s = 0.0
    var i = 0
    val n = a.numElements()
    while (i < n) {
      s += math.abs(elem(a, i, aFloat) - elem(b, i, bFloat))
      i += 1
    }
    java.lang.Double.valueOf(s)
  }

  /**
   * Exact Jaccard of two element SETS (long arrays), identical to
   * `when(size(array_union(a,b))===0, NaN)
   *   .otherwise(size(array_intersect(a,b))/size(array_union(a,b)))`:
   * union/intersect count DISTINCT elements (array_union dedups within
   * each input too). Sort-merge count over primitive copies — no boxed
   * hash sets, no materialised union array. Inputs are the library's
   * shingle-id arrays (containsNull = false by schema).
   */
  def jaccardLong(a: ArrayData, b: ArrayData): Double = {
    val xs = a.toLongArray()
    val ys = b.toLongArray()
    java.util.Arrays.sort(xs)
    java.util.Arrays.sort(ys)
    var i = 0
    var j = 0
    var inter = 0
    var union = 0
    while (i < xs.length && j < ys.length) {
      val x = xs(i); val y = ys(j)
      union += 1
      if (x == y) { inter += 1 }
      // advance past duplicates of the consumed value(s)
      if (x <= y) { i += 1; while (i < xs.length && xs(i) == x) i += 1 }
      if (y <= x) { j += 1; while (j < ys.length && ys(j) == y) j += 1 }
    }
    while (i < xs.length) {
      val x = xs(i); union += 1
      i += 1; while (i < xs.length && xs(i) == x) i += 1
    }
    while (j < ys.length) {
      val y = ys(j); union += 1
      j += 1; while (j < ys.length && ys(j) == y) j += 1
    }
    if (union == 0) Double.NaN else inter.toDouble / union
  }
}

/** Base for the binary double-valued vector kernels: nulls propagate
  * (BinaryExpression default), result nullability from the kernel's
  * boxed return. */
abstract class VectorPairExpression extends BinaryExpression {
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<float|double> inputs, got " +
        s"${left.dataType.simpleString} / ${right.dataType.simpleString}")
  }
  protected def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType
  /** Fully-qualified static kernel name, e.g.
    * "graft.verify.VectorKernels.cosineBoxed". */
  protected def kernel: String
  protected def kernelEval(a: ArrayData, b: ArrayData): java.lang.Double
  override def nullSafeEval(a: Any, b: Any): Any = {
    val r = kernelEval(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (r == null) null else r.doubleValue()
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |java.lang.Double ${ev.value}_r = $kernel($a, $b,
         |  ${isFloat(left)}, ${isFloat(right)});
         |if (${ev.value}_r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ${ev.value}_r.doubleValue(); }
       """.stripMargin
    })
}

case class CosineDenseK(left: Expression, right: Expression)
  extends VectorPairExpression {
  protected def kernel = "graft.verify.VectorKernels.cosineBoxed"
  protected def kernelEval(a: ArrayData, b: ArrayData): java.lang.Double =
    VectorKernels.cosineBoxed(a, b, isFloat(left), isFloat(right))
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
  override def prettyName: String = "cosine_dense_k"
}

case class EuclideanK(left: Expression, right: Expression)
  extends VectorPairExpression {
  protected def kernel = "graft.verify.VectorKernels.euclideanBoxed"
  protected def kernelEval(a: ArrayData, b: ArrayData): java.lang.Double =
    VectorKernels.euclideanBoxed(a, b, isFloat(left), isFloat(right))
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
  override def prettyName: String = "euclidean_k"
}

case class ManhattanK(left: Expression, right: Expression)
  extends VectorPairExpression {
  protected def kernel = "graft.verify.VectorKernels.manhattanBoxed"
  protected def kernelEval(a: ArrayData, b: ArrayData): java.lang.Double =
    VectorKernels.manhattanBoxed(a, b, isFloat(left), isFloat(right))
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
  override def prettyName: String = "manhattan_k"
}

object VectorFunctions {
  private def pair(e: (Expression, Expression) => Expression)(a: Column,
      b: Column): Column = ColumnBridge.column(
    e(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Jaccard over long-array sets (the containsNull = false shingle-id
    * arrays): a plain static call, unlike the element-type-dispatching
    * pair kernels above. */
  val JaccardLong = call(VectorKernels, "jaccardLong", DoubleType,
    ArrayType(LongType), ArrayType(LongType))

  def cosineDenseK(a: Column, b: Column): Column = pair(CosineDenseK)(a, b)
  def euclideanK(a: Column, b: Column): Column = pair(EuclideanK)(a, b)
  def manhattanK(a: Column, b: Column): Column = pair(ManhattanK)(a, b)
  def jaccardLongK(a: Column, b: Column): Column = JaccardLong(a, b)
}

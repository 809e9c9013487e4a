package graft.hash

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Catalyst expressions over the hash kernels. All are codegen'd via
 * static calls (no CodegenFallback, no UDF) so they stay inside
 * whole-stage codegen spans.
 */

/** `murmur3go(str)` → unsigned murmur3_32 as Long in [0, 2^32).
  * Reference: `/root/reference/vectorisers.go:261-262`. */
case class Murmur3Go(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(v: Any): Any =
    HashKernels.murmur3Unsigned(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.hash.HashKernels.murmur3Unsigned($c)")
  override protected def withNewChildInternal(c: Expression): Murmur3Go = copy(child = c)
  override def prettyName: String = "murmur3go"
}

/** `minhashK(shingles)` → k-element signature (ArrayType(LongType)).
  * Broder '97; band/row semantics per `/root/reference/lsh.go:120-132`. */
case class MinHashK(child: Expression, k: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(v: Any): Any =
    HashKernels.minhashArray(v.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.hash.HashKernels.minhashArray($c, $k)")
  override protected def withNewChildInternal(c: Expression): MinHashK = copy(child = c)
  override def prettyName: String = s"minhash$k"
}

/** `simhash64(entries)` over ArrayType(Struct(term: Long, weight: Double))
  * → 64-bit signature as LongType.
  * Reference: `/root/reference/hashing.go:32-62`. */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    SimHash64.fromEntries(arr)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.hash.SimHash64.fromEntries($c)")
  override protected def withNewChildInternal(c: Expression): SimHash64 = copy(child = c)
  override def prettyName: String = "simhash64"
}

object SimHash64 {
  /** Static entry point shared by eval and generated code. */
  def fromEntries(entries: ArrayData): Long = {
    val n = entries.numElements()
    val ids = new Array[Long](n)
    val ws = new Array[Double](n)
    var i = 0
    while (i < n) {
      val row = entries.getStruct(i, 2)
      ids(i) = row.getLong(0)
      ws(i) = row.getDouble(1)
      i += 1
    }
    HashKernels.simhash64(ids, ws)
  }

  /** Weighted variant: weight(term) = cnt · idf(term); idf carried as
    * parallel sorted (termIds, idfs) arrays — sparse, so a 31-term
    * corpus ships 31 entries, not a dense numFeatures slab (the dense
    * form serialised 2 MiB into every stage's task binary). */
  def fromTfWithIdf(entries: ArrayData, terms: Array[Long],
                    idfs: Array[Double]): Long = {
    val n = entries.numElements()
    val ids = new Array[Long](n)
    val ws = new Array[Double](n)
    var i = 0
    while (i < n) {
      val row = entries.getStruct(i, 2)
      val t = row.getLong(0)
      ids(i) = t
      val k = java.util.Arrays.binarySearch(terms, t)
      ws(i) = if (k >= 0) row.getInt(1) * idfs(k) else 0.0
      i += 1
    }
    HashKernels.simhash64(ids, ws)
  }
}

/**
 * `simhash64idf(tfEntries)` — SimHash over the tf·idf-weighted document
 * vector (the reference pipeline TF-IDF → sign-random-projection,
 * `/root/reference/example_test.go:30-45` + `hashing.go:49-62`) with the
 * idf table carried as a broadcast-style reference object (dense array
 * indexed by hashed term id). This removes the explode → idf-join →
 * regroup round-trip (two corpus shuffles) from the signature stage: the
 * idf table is a bounded dim (≤ numFeatures entries) — exactly the
 * "diagonal matrix never materialised" trick of the reference
 * (`weightings.go:58`), distributed-style.
 */
case class SimHash64Idf(child: Expression, terms: Array[Long],
                        idfs: Array[Double])
  extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(v: Any): Any =
    SimHash64.fromTfWithIdf(v.asInstanceOf[ArrayData], terms, idfs)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tRef = ctx.addReferenceObj("idfTerms", terms, "long[]")
    val iRef = ctx.addReferenceObj("idfVals", idfs, "double[]")
    defineCodeGen(ctx, ev,
      c => s"graft.hash.SimHash64.fromTfWithIdf($c, $tRef, $iRef)")
  }
  override protected def withNewChildInternal(c: Expression): SimHash64Idf =
    copy(child = c)
  override def prettyName: String = "simhash64idf"
}

/** `hashedTf(tokens, numFeatures)` → sorted Array(Struct(term: Long,
  * cnt: Int)); one-pass codegen'd replacement for the interpreted
  * higher-order formulation. Reference collision semantics:
  * `/root/reference/vectorisers.go:261-264`. */
case class HashedTf(child: Expression, numFeatures: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("term", LongType, nullable = false),
      StructField("cnt", IntegerType, nullable = false))),
    containsNull = false)
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(v: Any): Any =
    HashKernels.hashedTf(v.asInstanceOf[ArrayData], numFeatures)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.hash.HashKernels.hashedTf($c, $numFeatures)")
  override protected def withNewChildInternal(c: Expression): HashedTf = copy(child = c)
  override def prettyName: String = "hashed_tf"
}

/** `hashedShingles(tokens, w)` → distinct 64-bit shingle hashes
  * (whole-doc fallback for short docs). */
case class HashedShingles(child: Expression, w: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(v: Any): Any =
    HashKernels.hashedShingles(v.asInstanceOf[ArrayData], w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.hash.HashKernels.hashedShingles($c, $w)")
  override protected def withNewChildInternal(c: Expression): HashedShingles = copy(child = c)
  override def prettyName: String = "hashed_shingles"
}

/** `winnow(text, k, window)` → winnowed k-gram fingerprint array
  * (ArrayType(LongType)); MOSS guarantee for runs ≥ k+window−1. */
case class Winnow(child: Expression, k: Int, window: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(v: Any): Any =
    HashKernels.winnowArray(v.asInstanceOf[UTF8String], k, window)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.hash.HashKernels.winnowArray($c, $k, $window)")
  override protected def withNewChildInternal(c: Expression): Winnow = copy(child = c)
  override def prettyName: String = "winnow"
}

/** `winnow_ctx(text, k, window)` → Array(Struct(key: Long, skey: Long)):
  * the [[Winnow]] fingerprints plus a per-anchor content sort key (the
  * 4 chars after the anchor k-gram, packed unsigned-comparable) for
  * chain pairing inside oversized anchor buckets — see
  * [[HashKernels.winnowCtxArray]]. The `key` stream is byte-identical
  * to `winnow`'s. */
case class WinnowCtx(child: Expression, k: Int, window: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("key", LongType, nullable = false),
      StructField("skey", LongType, nullable = false))),
    containsNull = false)
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(v: Any): Any =
    HashKernels.winnowCtxArray(v.asInstanceOf[UTF8String], k, window)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.hash.HashKernels.winnowCtxArray($c, $k, $window)")
  override protected def withNewChildInternal(c: Expression): WinnowCtx = copy(child = c)
  override def prettyName: String = "winnow_ctx"
}

/** `randomProject(entries, k)` → k-dim dense JL projection
  * (ArrayType(DoubleType)) of a sparse (term, weight) vector.
  * Reference: `/root/reference/randomprojection.go:102-154`. */
case class RandomProject(child: Expression, k: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(v: Any): Any =
    HashKernels.randomProjectArray(v.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.hash.HashKernels.randomProjectArray($c, $k)")
  override protected def withNewChildInternal(c: Expression): RandomProject =
    copy(child = c)
  override def prettyName: String = s"random_project_$k"
}

/**
 * `filterNotIn(arr)` — drop array elements present in a (sorted) drop
 * list carried as a reference object; binary-search per element. Used
 * for df-conditioned shingling: corpus-hyper-frequent ("stop")
 * shingles are excluded from MinHash banding so boilerplate shared by
 * thousands of pages cannot cross-collide every page pair — the skew
 * control the north rule's salting requirement is about, applied at
 * the source. Verification still uses the FULL shingle sets, so
 * recall is measured against unmodified Jaccard.
 *
 * If filtering would remove EVERY element, the input is returned
 * unchanged: an all-boilerplate doc would otherwise get the empty-input
 * MinHash signature, identical across all such docs — recreating in one
 * mega-bucket exactly the skew this filter exists to prevent.
 */
case class FilterNotIn(child: Expression, dropSorted: Array[Long])
  extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(v: Any): Any =
    FilterNotIn.filter(v.asInstanceOf[ArrayData], dropSorted)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("dropSorted", dropSorted, "long[]")
    defineCodeGen(ctx, ev, c => s"graft.hash.FilterNotIn.filter($c, $ref)")
  }
  override protected def withNewChildInternal(c: Expression): FilterNotIn =
    copy(child = c)
  override def prettyName: String = "filter_not_in"
}

object FilterNotIn {
  def filter(arr: ArrayData, dropSorted: Array[Long]): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Long](n)
    var k = 0
    var i = 0
    while (i < n) {
      val v = arr.getLong(i)
      if (java.util.Arrays.binarySearch(dropSorted, v) < 0) { out(k) = v; k += 1 }
      i += 1
    }
    if (k == 0) return arr // all-hot doc: keep full set (see scaladoc)
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(java.util.Arrays.copyOf(out, k))
  }
}

/** `gaussianSketch(key, w)` → w · (l deterministic Gaussians keyed by
  * `key`) as ArrayType(DoubleType) — the on-the-fly Ω row of the
  * randomized-SVD range sketch (Halko et al. 2011). */
case class GaussianSketch(left: Expression, right: Expression, l: Int)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(key: Any, w: Any): Any =
    HashKernels.gaussianSketch(key.asInstanceOf[Long], w.asInstanceOf[Double], l)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (k, w) => s"graft.hash.HashKernels.gaussianSketch($k, $w, $l)")
  override protected def withNewChildrenInternal(nl: Expression, nr: Expression): GaussianSketch =
    copy(left = nl, right = nr)
  override def prettyName: String = s"gaussian_sketch_$l"
}

/** `elementalScaled(key, w)` → w · (deterministic sparse ±
  * elemental vector of `key`) as ArrayType(DoubleType) — Random
  * Indexing index vectors (`/root/reference/randomprojection.go:350-404`). */
case class ElementalScaled(left: Expression, right: Expression, k: Int,
                           density: Double)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(key: Any, w: Any): Any =
    HashKernels.elementalScaled(key.asInstanceOf[Long], w.asInstanceOf[Double],
      k, density)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (kc, w) => s"graft.hash.HashKernels.elementalScaled($kc, $w, $k, $density)")
  override protected def withNewChildrenInternal(nl: Expression, nr: Expression): ElementalScaled =
    copy(left = nl, right = nr)
  override def prettyName: String = s"elemental_$k"
}

/** `sparseRandomProject(entries)` → k-dim sparse-density JL projection
  * (reference distribution, `randomprojection.go:102-154`). */
case class SparseRandomProject(child: Expression, k: Int, density: Double)
  extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(v: Any): Any =
    HashKernels.sparseRandomProject(v.asInstanceOf[ArrayData], k, density)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.hash.HashKernels.sparseRandomProject($c, $k, $density)")
  override protected def withNewChildInternal(c: Expression): SparseRandomProject =
    copy(child = c)
  override def prettyName: String = s"sparse_random_project_$k"
}

/** `ivfProbe(vec)` → the `nProbe` nearest IVF cells of an embedding
  * (array<float> or array<double>) by dot product against a unit-norm
  * codebook carried as a reference object (flat row-major, like
  * [[SimHash64Idf]]'s idf arrays) — one codegen'd pass per row instead
  * of a per-row centroid join or an interpreted higher-order fold.
  * Kernel: [[graft.ops.Ivf.probeKernel]]. */
case class IvfProbe(child: Expression, flat: Array[Double], dim: Int,
                    nProbe: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType
  override def nullSafeEval(v: Any): Any =
    graft.ops.Ivf.probeKernel(v.asInstanceOf[ArrayData], flat, dim, nProbe,
      isFloat)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("ivfCodebook", flat, "double[]")
    defineCodeGen(ctx, ev,
      c => s"graft.ops.Ivf.probeKernel($c, $cRef, $dim, $nProbe, $isFloat)")
  }
  override protected def withNewChildInternal(c: Expression): IvfProbe =
    copy(child = c)
  override def prettyName: String = s"ivf_probe_$nProbe"
}

/** Column-level API. */
object HashFunctions {
  private def col(e: Expression): Column = ColumnBridge.column(e)
  private def expr(c: Column): Expression = ColumnBridge.expression(c)

  def murmur3go(c: Column): Column = col(Murmur3Go(expr(c)))
  def minhashK(c: Column, k: Int): Column = col(MinHashK(expr(c), k))
  def minhash128(c: Column): Column = minhashK(c, 128)
  def simhash64(entries: Column): Column = col(SimHash64(expr(entries)))
  def simhash64idf(tfEntries: Column, terms: Array[Long],
                   idfs: Array[Double]): Column =
    col(SimHash64Idf(expr(tfEntries), terms, idfs))
  def winnow(text: Column, k: Int, window: Int): Column =
    col(Winnow(expr(text), k, window))
  def winnowCtx(text: Column, k: Int, window: Int): Column =
    col(WinnowCtx(expr(text), k, window))
  def hashedTf(tokens: Column, numFeatures: Int): Column =
    col(HashedTf(expr(tokens), numFeatures))
  def hashedShingles(tokens: Column, w: Int): Column =
    col(HashedShingles(expr(tokens), w))
  def filterNotIn(arr: Column, dropSorted: Array[Long]): Column =
    col(FilterNotIn(expr(arr), dropSorted))
  def randomProject(entries: Column, k: Int): Column =
    col(RandomProject(expr(entries), k))
  def gaussianSketch(key: Column, w: Column, l: Int): Column =
    col(GaussianSketch(expr(key), expr(w), l))
  def elementalScaled(key: Column, w: Column, k: Int, density: Double): Column =
    col(ElementalScaled(expr(key), expr(w), k, density))
  def sparseRandomProject(entries: Column, k: Int, density: Double): Column =
    col(SparseRandomProject(expr(entries), k, density))
  def ivfProbe(vec: Column, flat: Array[Double], dim: Int, nProbe: Int): Column =
    col(IvfProbe(expr(vec), flat, dim, nProbe))
}

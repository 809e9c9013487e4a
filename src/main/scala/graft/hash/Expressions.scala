package graft.hash

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.graft.Kernel.call
import org.apache.spark.sql.types._

/** SimHash over (term, weight) entries read by position, so callers may
  * name the two struct fields freely. Reference: `hashing.go:32-62`. */
object SimHash64 {
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

  /** SimHash over the tf·idf-weighted document vector (the reference
    * TF-IDF → sign-random-projection, `example_test.go:30-45` +
    * `hashing.go:49-62`): weight(term) = cnt · idf(term), with idf
    * carried as parallel sorted (termIds, idfs) arrays — sparse, so a
    * 31-term corpus ships 31 entries, not a dense numFeatures slab (the
    * dense form serialised 2 MiB into every stage's task binary). This
    * keeps the explode → idf-join → regroup round trip (two corpus
    * shuffles) out of the signature stage. */
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
 * Drop array elements present in a sorted drop list (binary search per
 * element). Used for df-conditioned shingling: corpus-hyper-frequent
 * ("stop") shingles are excluded from MinHash banding so boilerplate
 * shared by thousands of pages cannot cross-collide every page pair —
 * the skew control the north rule's salting requirement is about,
 * applied at the source. Verification still uses the FULL shingle
 * sets, so recall is measured against unmodified Jaccard.
 *
 * If filtering would remove EVERY element, the input is returned
 * unchanged: an all-boilerplate doc would otherwise get the empty-input
 * MinHash signature, identical across all such docs — recreating in one
 * mega-bucket exactly the skew this filter exists to prevent.
 */
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
    if (k == 0) return arr // all-hot doc: keep full set (see above)
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(java.util.Arrays.copyOf(out, k))
  }
}

/** `ivfProbe(vec)` → the `nProbe` nearest IVF cells of an embedding
  * (array<float> or array<double>) by dot product against a unit-norm
  * codebook carried as a reference object (flat row-major) — one
  * codegen'd pass per row instead of a per-row centroid join or an
  * interpreted higher-order fold. A custom expression, not a kernel
  * definition below: the generated call depends on the resolved element
  * type, which a Column over an unresolved `col("x")` does not know yet.
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

/** Column-level API: one [[org.apache.spark.sql.graft.Kernel]] per
  * static kernel. */
object HashFunctions {
  private val longs = ArrayType(LongType, containsNull = false)
  private val doubles = ArrayType(DoubleType, containsNull = false)
  private def pairs(a: StructField, b: StructField) =
    ArrayType(StructType(Seq(a, b)), containsNull = false)

  /** The kernel definitions, shared with the SQL registry. */
  object Kernels {
    val murmur3go = call(HashKernels, "murmur3Unsigned", LongType, StringType)
    val minhash = call(HashKernels, "minhashArray", longs,
      ArrayType(LongType), IntegerType)
    val simhash64 = call(SimHash64, "fromEntries", LongType, ArrayType)
    val simhash64idf = call(SimHash64, "fromTfWithIdf", LongType, ArrayType,
      ObjectType(classOf[Array[Long]]), ObjectType(classOf[Array[Double]]))
    val winnow = call(HashKernels, "winnowArray", longs,
      StringType, IntegerType, IntegerType)
    val winnowCtx = call(HashKernels, "winnowCtxArray",
      pairs(StructField("key", LongType, nullable = false),
        StructField("skey", LongType, nullable = false)),
      StringType, IntegerType, IntegerType)
    val hashedTf = call(HashKernels, "hashedTf",
      pairs(StructField("term", LongType, nullable = false),
        StructField("cnt", IntegerType, nullable = false)),
      ArrayType(StringType), IntegerType)
    val hashedShingles = call(HashKernels, "hashedShingles", longs,
      ArrayType(StringType), IntegerType)
    val filterNotIn = call(FilterNotIn, "filter", longs,
      ArrayType(LongType), ObjectType(classOf[Array[Long]]))
    val randomProject = call(HashKernels, "randomProjectArray", doubles,
      ArrayType, IntegerType)
    val gaussianSketch = call(HashKernels, "gaussianSketch", doubles,
      LongType, DoubleType, IntegerType)
    val elementalScaled = call(HashKernels, "elementalScaled", doubles,
      LongType, DoubleType, IntegerType, DoubleType)
    val sparseRandomProject = call(HashKernels, "sparseRandomProject", doubles,
      ArrayType, IntegerType, DoubleType)
  }

  /** Unsigned murmur3_32 as Long in [0, 2^32); `vectorisers.go:261-262`. */
  def murmur3go(c: Column): Column = Kernels.murmur3go(c)
  /** k-element MinHash signature (Broder '97; `lsh.go:120-132`). */
  def minhashK(c: Column, k: Int): Column = Kernels.minhash(c, k)
  def minhash128(c: Column): Column = minhashK(c, 128)
  /** 64-bit SimHash of (term, weight) entries, see [[SimHash64]]. */
  def simhash64(entries: Column): Column = Kernels.simhash64(entries)
  /** 64-bit SimHash of (term, cnt) entries weighted by cnt · idf. */
  def simhash64idf(tfEntries: Column, terms: Array[Long],
                   idfs: Array[Double]): Column =
    Kernels.simhash64idf(tfEntries, terms, idfs)
  /** Winnowed k-gram fingerprints; MOSS guarantee for runs ≥ k+window−1. */
  def winnow(text: Column, k: Int, window: Int): Column =
    Kernels.winnow(text, k, window)
  /** [[winnow]]'s `key` stream plus a per-anchor content sort key `skey`
    * for chain pairing, see [[HashKernels.winnowCtxArray]]. */
  def winnowCtx(text: Column, k: Int, window: Int): Column =
    Kernels.winnowCtx(text, k, window)
  /** Sorted (term, cnt) hashed term frequencies; `vectorisers.go:261-264`. */
  def hashedTf(tokens: Column, numFeatures: Int): Column =
    Kernels.hashedTf(tokens, numFeatures)
  /** Distinct 64-bit w-token shingle hashes (whole doc when shorter). */
  def hashedShingles(tokens: Column, w: Int): Column =
    Kernels.hashedShingles(tokens, w)
  /** See [[FilterNotIn]]. */
  def filterNotIn(arr: Column, dropSorted: Array[Long]): Column =
    Kernels.filterNotIn(arr, dropSorted)
  /** k-dim dense JL projection of (term, weight) entries;
    * `randomprojection.go:102-154`. */
  def randomProject(entries: Column, k: Int): Column =
    Kernels.randomProject(entries, k)
  /** w · (l deterministic Gaussians keyed by `key`): the on-the-fly Ω row
    * of the randomized-SVD range sketch (Halko et al. 2011). */
  def gaussianSketch(key: Column, w: Column, l: Int): Column =
    Kernels.gaussianSketch(key, w, l)
  /** w · (sparse ± elemental vector of `key`): Random Indexing index
    * vectors, `randomprojection.go:350-404`. */
  def elementalScaled(key: Column, w: Column, k: Int, density: Double): Column =
    Kernels.elementalScaled(key, w, k, density)
  /** k-dim sparse-density JL projection, `randomprojection.go:102-154`. */
  def sparseRandomProject(entries: Column, k: Int, density: Double): Column =
    Kernels.sparseRandomProject(entries, k, density)
  def ivfProbe(vec: Column, flat: Array[Double], dim: Int, nProbe: Int): Column =
    ColumnBridge.column(IvfProbe(ColumnBridge.expression(vec), flat, dim, nProbe))
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import graft.verify.Measures

/**
 * IVF (inverted-file) approximate nearest neighbours — the
 * coarse-quantizer scale path next to [[TrainingDataOps.lshTopK]]'s
 * LSH-bucketed one: a spherical k-means codebook partitions the corpus
 * into `nCells` cells; a query probes its `nProbe` nearest cells and
 * exact-reranks only those members. The standard trade: recall is
 * tunable via nProbe, and the candidate fan-in per query is ~nProbe/nCells
 * of the corpus instead of all of it.
 *
 * Scale shape (designed for 10^9+ vectors):
 *  - The codebook is trained on a DETERMINISTIC bounded sample
 *    (hash-ordered top `sampleCap` — a `TakeOrderedAndProject`, so the
 *    driver collect is capped by a config constant, never corpus-sized;
 *    sample-trained quantizers are the production norm for IVF).
 *  - Cell assignment/probing is one codegen'd expression per row
 *    ([[graft.hash.IvfProbe]]) with the codebook attached as a
 *    reference object — no per-row join against a centroid table, no
 *    interpreted higher-order functions on the hot path.
 *  - The search is a `cell` equi-join: corpus rows shuffle once by
 *    cell (or are pre-partitioned by cell in a stored layout, like the
 *    index stores partition by band bucket), queries explode ×nProbe.
 *    Candidate dedup ships ids only; vectors re-join once per survivor.
 *
 * The exhaustive-probe contract (`nProbe = nCells` ⇒ results identical
 * to [[TrainingDataOps.bruteForceTopK]]) is the operator's oracle
 * anchor; recall at small nProbe is property-tested on planted
 * clusters (IvfSpec).
 */
object Ivf {

  /**
   * Spherical k-means codebook over a deterministic bounded sample.
   * Sample = `sampleCap` rows in (xxhash64(id), id) order — stable
   * across partitionings; Lloyd iterations run driver-local in sample
   * order with fixed tie-breaks (max dot, lowest cell), so the fit is
   * bit-reproducible. Empty cells keep their previous centroid.
   * Returns `nCells` unit-norm centroids (row-major).
   */
  def fitCentroids(embeddings: DataFrame, idCol: String, vecCol: String,
                   nCells: Int, iters: Int = 10, sampleCap: Int = 4096,
                   seed: Long = 42L): Array[Array[Double]] = {
    require(nCells >= 1, s"nCells must be >= 1, got $nCells")
    // The element cast rides AFTER the limit (driver-side): casting is
    // exact float→double widening, and the old in-plan
    // transform(cast) was an interpreted ArrayTransform applied to
    // EVERY corpus vector when only sampleCap rows survive the
    // TakeOrdered — project the heavy conversion past the limit
    // (guide §2.3: compute on the survivors, not the corpus).
    val sample: Array[Array[Double]] = embeddings
      .select(col(idCol).cast("long").as("__id"), col(vecCol).as("__v"))
      .withColumn("__h", xxhash64(col("__id"), lit(seed)))
      .orderBy(col("__h"), col("__id"))
      .limit(sampleCap)
      .select("__v")
      .collect()
      .map(_.getSeq[Number](0).map(_.doubleValue()).toArray)
    require(sample.length >= nCells,
      s"IVF codebook needs at least nCells=$nCells sample vectors, " +
        s"got ${sample.length}")
    val dim = sample(0).length
    val unit = sample.map(normalized)
    // init: the first nCells sample vectors in hash order (≈ a uniform
    // draw, deterministic); duplicates are fine — Lloyd separates them
    // or the empty-cell rule keeps them harmlessly identical
    val cents = Array.tabulate(nCells)(j => unit(j).clone())
    var it = 0
    while (it < iters) {
      val sums = Array.fill(nCells)(new Array[Double](dim))
      val counts = new Array[Int](nCells)
      var i = 0
      while (i < unit.length) {
        val c = nearestCell(unit(i), cents)
        val s = sums(c)
        var d = 0
        while (d < dim) { s(d) += unit(i)(d); d += 1 }
        counts(c) += 1
        i += 1
      }
      var j = 0
      while (j < nCells) {
        if (counts(j) > 0) {
          val m = normalized(sums(j))
          if (norm2(sums(j)) > 0) cents(j) = m
        }
        j += 1
      }
      it += 1
    }
    cents
  }

  private def norm2(v: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    s
  }

  private def normalized(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(norm2(v))
    if (n == 0.0) v.clone() else v.map(_ / n)
  }

  private def nearestCell(v: Array[Double], cents: Array[Array[Double]]): Int = {
    var best = 0; var bestDot = Double.NegativeInfinity
    var j = 0
    while (j < cents.length) {
      var dot = 0.0; var d = 0
      val c = cents(j)
      while (d < v.length) { dot += v(d) * c(d); d += 1 }
      if (dot > bestDot) { bestDot = dot; best = j } // tie → lowest cell
      j += 1
    }
    best
  }

  /** `nProbe` nearest cell ids of a vector column (codegen'd; the
    * codebook rides as a reference object). Element 1 is the
    * assignment cell. */
  def probe(vec: Column, centroids: Array[Array[Double]], nProbe: Int): Column =
    graft.hash.HashFunctions.ivfProbe(vec, centroids.flatten,
      centroids(0).length, nProbe)

  /** `a` ranks strictly above `b`: NaN below every number. */
  @inline private def above(a: Double, b: Double): Boolean =
    a > b || (b.isNaN && !a.isNaN)

  /**
   * Static probe kernel shared by interpreted eval and generated code:
   * top-`nProbe` cells by dot(vec, centroid) — centroids are unit-norm,
   * so the ranking equals cosine ranking for any vec norm. Ties break
   * to the lower cell id (insertion keeps first-seen), and a NaN dot
   * ranks below every number, so a non-finite vector still gets `nProbe`
   * distinct cells (an all-NaN one gets 0, 1, …). `isFloat`
   * selects the element reader (embeddings are float arrays; derived
   * frames may have cast to double).
   */
  def probeKernel(vec: ArrayData, flat: Array[Double], dim: Int,
                  nProbe: Int, isFloat: Boolean): ArrayData = {
    val nCells = flat.length / dim
    val p = math.min(nProbe, nCells)
    val n = vec.numElements()
    if (n != dim)
      throw new IllegalArgumentException(
        s"ivf_probe: vector dim $n != codebook dim $dim — refusing to " +
          "truncate silently (mixed-width embeddings reaching one codebook " +
          "is a schema error)")
    val topCell = new Array[Int](p)
    val topDot = new Array[Double](p)
    var filled = 0
    var j = 0
    while (j < nCells) {
      var dot = 0.0
      var d = 0
      val off = j * dim
      while (d < n) {
        val x = if (isFloat) vec.getFloat(d).toDouble else vec.getDouble(d)
        dot += x * flat(off + d)
        d += 1
      }
      // insertion into the small descending top-p list: the first p
      // cells always enter, and a strict `above` keeps the earlier
      // (lower) cell on ties
      if (filled < p || above(dot, topDot(p - 1))) {
        var k = if (filled < p) { filled += 1; filled - 1 } else p - 1
        while (k > 0 && above(dot, topDot(k - 1))) {
          topDot(k) = topDot(k - 1); topCell(k) = topCell(k - 1); k -= 1
        }
        topDot(k) = dot; topCell(k) = j
      }
      j += 1
    }
    new GenericArrayData(topCell)
  }

  /**
   * IVF top-k cosine neighbours. Candidates = corpus members of the
   * query's `nProbe` nearest cells; exact cosine rerank; rank 1..k by
   * (cos desc, id) — the same output contract as
   * [[TrainingDataOps.bruteForceTopK]], to which this is identical at
   * `nProbe = nCells`. Output: (query_id, neighbor_id, rank).
   */
  def ivfTopK(embeddings: DataFrame, idCol: String, vecCol: String,
              queries: DataFrame, k: Int, nCells: Int, nProbe: Int,
              iters: Int = 10, sampleCap: Int = 4096): DataFrame = {
    // zero-norm rows out per side BEFORE the probe: their cosine is NaN
    // against everything and Spark ranks NaN above every real double —
    // same contract as bruteForceTopK (which this must equal at
    // nProbe = nCells), and the probe/assignment work is wasted on them
    val emb = embeddings.filter(Measures.nonZeroNorm(col(vecCol)))
    val qrs = queries.filter(Measures.nonZeroNorm(col(vecCol)))
    val cents = fitCentroids(emb, idCol, vecCol, nCells, iters, sampleCap)
    val c = emb.select(col(idCol).as("neighbor_id"),
      element_at(probe(col(vecCol), cents, 1), 1).as("cell"))
    val q = qrs.select(col(idCol).as("query_id"),
      explode(probe(col(vecCol), cents, nProbe)).as("cell"))
    // id-only candidates through the cell join; vectors re-join once.
    // No distinct (optimization round): each corpus row carries exactly
    // ONE assignment cell and probeKernel returns DISTINCT cells per
    // query, so a (query_id, neighbor_id) pair can surface through at
    // most one cell — the pair set is unique by construction and the
    // dedup exchange was a full no-op pass over the candidates.
    // (lshTopK keeps its distinct: a pair may surface in many bands.)
    val cands = q.join(c, "cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id")
    val scored = cands
      .join(qrs.select(col(idCol).as("query_id"), col(vecCol).as("qv")),
        "query_id")
      .join(emb.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv")),
        "neighbor_id")
      .withColumn("cos", Measures.cosineDense(col("qv"), col("cv")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }
}

package graft.substr

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer

/**
 * Suffix-array substring pass (SURVEY §2.4 H10; north-rule addition,
 * Manber–Myers '90). Catches long verbatim substring duplicates that
 * signature methods miss (a 200-char quote inside two otherwise
 * unrelated pages moves Jaccard very little).
 *
 * Distribution strategy (the 100 TB shape): a per-row winnowed
 * rolling-hash fingerprint pass (Schleimer et al. '03) guarantees that
 * any two docs sharing a verbatim run ≥ k+window−1 chars share ≥1
 * fingerprint; the fingerprint shuffle-join (the same distributed
 * hash-table pattern as LSH banding, with the same hot-bucket capping)
 * yields candidate pairs, and each pair is verified exactly with a
 * generalised suffix array + Kasai LCP over the two texts. No
 * all-pairs scan, no cross-partition blindness: co-location is by
 * *content anchor*, not by sort order. Candidate volume ≈ docs sharing
 * boilerplate runs, bounded by the bucket cap.
 */
object SuffixArrayStage {

  /** Build suffix array over `s` by prefix doubling. Returns sa. */
  def suffixArray(s: Array[Int]): Array[Int] = {
    val n = s.length
    val sa = Array.tabulate(n)(identity)
    var rank = s.clone()
    var tmp = new Array[Int](n)
    var k = 1
    val ord = new Ordering[Int] {
      var kk = 1
      def compare(a: Int, b: Int): Int = {
        if (rank(a) != rank(b)) return Integer.compare(rank(a), rank(b))
        val ra = if (a + kk < n) rank(a + kk) else -1
        val rb = if (b + kk < n) rank(b + kk) else -1
        Integer.compare(ra, rb)
      }
    }
    while (k < n) {
      ord.kk = k
      scala.util.Sorting.stableSort(sa, (a: Int, b: Int) => ord.compare(a, b) < 0)
      tmp(sa(0)) = 0
      var i = 1
      while (i < n) {
        tmp(sa(i)) = tmp(sa(i - 1)) + (if (ord.compare(sa(i - 1), sa(i)) < 0) 1 else 0)
        i += 1
      }
      val t = rank; rank = tmp; tmp = t
      if (rank(sa(n - 1)) == n - 1) k = n // all distinct: done
      else k <<= 1
    }
    sa
  }

  /** Kasai LCP: lcp(i) = common prefix length of sa(i) and sa(i-1). */
  def kasaiLcp(s: Array[Int], sa: Array[Int]): Array[Int] = {
    val n = s.length
    val rank = new Array[Int](n)
    var i = 0
    while (i < n) { rank(sa(i)) = i; i += 1 }
    val lcp = new Array[Int](n)
    var h = 0
    i = 0
    while (i < n) {
      if (rank(i) > 0) {
        val j = sa(rank(i) - 1)
        while (i + h < n && j + h < n && s(i + h) == s(j + h)) h += 1
        lcp(rank(i)) = h
        if (h > 0) h -= 1
      } else h = 0
      i += 1
    }
    lcp
  }

  /** Find distinct-doc pairs sharing a verbatim run ≥ minRun within one
    * batch of (docId, text). Emits adjacent pairs inside maximal LCP
    * runs; transitivity is closed downstream by connected components. */
  def pairsInBatch(batch: Seq[(Long, String)], minRun: Int): Iterator[(Long, Long)] = {
    if (batch.size < 2) return Iterator.empty
    // concatenate with unique negative sentinels between docs
    val totalLen = batch.map(_._2.length).sum + batch.size
    val s = new Array[Int](totalLen)
    val docOf = new Array[Int](totalLen)
    var pos = 0
    var d = 0
    batch.foreach { case (_, text) =>
      var i = 0
      while (i < text.length) {
        s(pos) = text.charAt(i).toInt + batch.size + 1 // shift above sentinels
        docOf(pos) = d
        pos += 1; i += 1
      }
      s(pos) = d + 1 // unique sentinel per doc, > 0, < shift
      docOf(pos) = d
      pos += 1; d += 1
    }
    val sa = suffixArray(s)
    val lcp = kasaiLcp(s, sa)
    val out = ArrayBuffer.empty[(Long, Long)]
    var i = 1
    while (i < sa.length) {
      if (lcp(i) >= minRun) {
        val da = docOf(sa(i - 1)); val db = docOf(sa(i))
        if (da != db) {
          val ia = batch(da)._1; val ib = batch(db)._1
          out += ((math.min(ia, ib), math.max(ia, ib)))
        }
      }
      i += 1
    }
    out.distinct.iterator
  }

  /** Exact check: do `a` and `b` share a verbatim run ≥ minRun chars?
    * A run ≥ minRun exists iff a minRun-gram is shared, so: rolling-hash
    * every minRun-gram of `a` into an index, probe with `b`'s grams, and
    * confirm any hash hit by direct char comparison — exact (no
    * collision false positives), O(|a|+|b|) expected. Replaces the
    * per-pair generalised suffix array here: prefix-doubling SA verify
    * measured ~17 ms/pair on 2.6k-char pairs (685 core-s for 40k
    * candidates); this path is two linear scans. [[pairsInBatch]] keeps
    * the SA for the multi-doc batch mode and as the oracle in specs. */
  def hasCommonRun(a: String, b: String, minRun: Int): Boolean = {
    if (a.length < minRun || b.length < minRun) return false
    val B = 1000000007L
    var pow = 1L // B^(minRun-1)
    var i = 1
    while (i < minRun) { pow *= B; i += 1 }
    def grams(s: String): Array[Long] = {
      val n = s.length - minRun + 1
      val hs = new Array[Long](n)
      var h = 0L
      var j = 0
      while (j < minRun) { h = h * B + s.charAt(j); j += 1 }
      hs(0) = h
      j = 1
      while (j < n) {
        h = (h - s.charAt(j - 1) * pow) * B + s.charAt(j + minRun - 1)
        hs(j) = h
        j += 1
      }
      hs
    }
    val ha = grams(a)
    // open-addressed primitive hash table (optimization round): the
    // boxed HashMap<Long,Integer> here allocated ~|a| boxed longs PER
    // CANDIDATE PAIR (~10^8 boxed objects per bench pass at 185k
    // pairs) — pure GC churn for a probe-only index. Same semantics:
    // first position per hash kept, collisions resolved at confirm
    // time. `used` flags carry occupancy so any 64-bit key value is
    // valid (no sentinel).
    var capBits = 1
    while ((1 << capBits) < ha.length * 2) capBits += 1
    val cap = 1 << capBits
    val mask = cap - 1
    val keys = new Array[Long](cap)
    val pos = new Array[Int](cap)
    val used = new Array[Boolean](cap)
    i = 0
    while (i < ha.length) {
      val h = ha(i)
      var s = (h ^ (h >>> 32)).toInt & mask
      while (used(s) && keys(s) != h) s = (s + 1) & mask
      if (!used(s)) { used(s) = true; keys(s) = h; pos(s) = i }
      i += 1
    }
    val hb = grams(b)
    var collision = false
    i = 0
    while (i < hb.length) {
      val h = hb(i)
      var s = (h ^ (h >>> 32)).toInt & mask
      while (used(s) && keys(s) != h) s = (s + 1) & mask
      if (used(s)) {
        if (a.regionMatches(pos(s), b, i, minRun)) return true
        collision = true // equal hash, different text: 64-bit collision
      }
      i += 1
    }
    // exactness guarantee: a hash collision could shadow a true match
    // behind the same hash value (first-position-only index), so fall
    // back to the suffix-array oracle — probability ~n²/2^64, in
    // practice never taken
    if (collision) pairsInBatch(Seq((0L, a), (1L, b)), minRun).nonEmpty
    else false
  }

  /**
   * Distributed substring-duplicate edges (winnow → anchor join →
   * SA verify). The anchor parameters are derived from `minRun`:
   * k-gram length k = minRun/2, window = minRun − k + 1, so any shared
   * run ≥ minRun chars is guaranteed to share a fingerprint.
   *
   * @param docs   df with (docId: Long, text: String) — normalised text
   * @param minRun minimum verbatim run length in chars
   */
  /** @param broadcastMembers Some(b): the CALLER already knows whether
    *   the candidate-member id set fits the broadcast limit (e.g.
    *   DedupPipeline.run bounds it by the audited distinct-id count) —
    *   skips this stage's own pair-count job (optimization round).
    *   None: measure here, as before. */
  def substringEdges(docs: DataFrame, docIdCol: String, textCol: String,
                     minRun: Int, maxBucket: Int = 64,
                     chainWidth: Int = 3, hotAnchorDf: Int = 1024,
                     broadcastIdLimit: Long = 16L << 20,
                     broadcastMembers: Option[Boolean] = None): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // the winnow guarantee covers runs >= k + window - 1 and k is
    // floored at 8 (shorter grams random-collide corpus-wide): a
    // minRun below the floor would SILENTLY weaken the documented
    // "any shared run >= minRun shares a fingerprint" contract to
    // ">= 8" — pairs sharing only a 6-char run would never become
    // candidates, with no signal. Fail loudly instead.
    require(minRun >= 8,
      s"substringEdges: minRun=$minRun is below the k=8 fingerprint " +
        "floor — runs shorter than 8 chars cannot be anchored and the " +
        "guarantee would silently not hold")
    val k = math.max(8, minRun / 2)
    val window = math.max(1, minRun - k + 1)

    val base = docs.select(col(docIdCol).cast("long").as("doc_id"),
      col(textCol).as("__text"))
    // anchor buckets: same distributed-hash-table shape as LSH banding.
    // Boilerplate anchors (a fingerprint shared by > hotAnchorDf docs is
    // a corpus-wide template sentence, not substring duplication — its
    // pairs would connect unrelated pages) are dropped INSIDE the bucket
    // pass via candidatePairs' dropAbove: the pair stream pairs at most
    // hotAnchorDf+1 members per bucket while counting the true df, so
    // no separate anchor-cardinality counting shuffle + driver collect
    // is needed (the previous shape paid a full ~(docs × anchors/doc)-row
    // shuffle just to pre-drop hot keys).
    // winnowCtx carries a content sort key per anchor (the 4 chars
    // AFTER the shared k-gram, unsigned-packed): candidatePairs chains
    // oversized buckets in skey order, so a true pair — whose run
    // extends past the anchor — sorts adjacent and survives the cap,
    // where the skey-less fallback (doc_id = random hash order) missed
    // it with probability → 1 as buckets grow. Same guarantee shape as
    // the MinHash path's signature sort key (explodeBands' contract).
    val buckets = base.select(col("doc_id"), explode(
        graft.hash.HashFunctions.winnowCtx(col("__text"), k, window)).as("kc"))
      .select(col("doc_id"), col("kc.key").as("key"),
        col("kc.skey").as("skey"))
      .withColumn("band", lit(2000))
    val cands = graft.lsh.Lsh.candidatePairs(
        buckets.select("doc_id", "band", "key", "skey"), "doc_id", maxBucket,
        chainWidth, hardCap = hotAnchorDf + 1, dropAbove = hotAnchorDf)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // slim pair set is read three times below (two member-id
    // projections + the join); the persist (~16 B/pair, id pairs only)
    // stays registered until the session sweeps caches
    // (SparkEntry.releaseCaches, or catalog.clearCache for library
    // users) — it cannot be released here because the returned frame
    // reads it lazily. The broadcast guard comes from the caller when
    // it already holds a bound (no count job); otherwise measured here
    // (the count then doubles as the cache materialiser, as before).
    val bcMembers = broadcastMembers.getOrElse(
      2 * cands.count() <= broadcastIdLimit)

    // only pair members need their text in the verify joins: semi-filter
    // the corpus first (guarded broadcast — the SHARED
    // DedupPipeline.memberSemiFilter, so this path and verifyPairs
    // cannot diverge) — the unfiltered shape shuffled the FULL corpus
    // text twice (ta + tb) to verify a few thousand pairs, and a
    // document appearing in many pairs made those exchanges skew
    // (measured: 64-task join stages at effective parallelism ~2).
    val texts = graft.DedupPipeline.memberSemiFilter(cands, base,
      broadcast = bcMembers)

    // exact SA verification per candidate pair. The repartition AFTER
    // the joins is load-bearing: AQE coalesces the join output by bytes
    // (pairs are small) while the SA build is CPU-bound — without it the
    // whole verification ran in 3 tasks (measured 40 s serial tail).
    val ta = texts.toDF("a", "ta")
    val tb = texts.toDF("b", "tb")
    cands.join(ta, "a").join(tb, "b")
      .select($"a", $"b", $"ta", $"tb")
      .repartition(spark.sparkContext.defaultParallelism * 2)
      .as[(Long, Long, String, String)]
      .flatMap { case (a, b, sa, sb) =>
        if (hasCommonRun(sa, sb, minRun)) Iterator((a, b)) else Iterator.empty
      }
      .toDF("a", "b")
    // no distinct: edges feed connected components, which tolerates
    // duplicates — a dedup shuffle here would only burn a stage
  }
}

package graft.lsh

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * LSH banding + candidate generation (SURVEY §2.4 H2–H4).
 *
 * Band semantics mirror the reference's signature chunking
 * (`/root/reference/lsh.go:120-132`): the signature is split into
 * `bands` chunks of `rows` values; a chunk's packed value is the bucket
 * key; two docs are candidates iff they collide in ≥1 band. The
 * reference's in-memory `map[uint64][]id` hash tables
 * (`lsh.go:13-18`) become a *distributed* hash table: the shuffle on
 * `(band, key)` IS the bucket store — no index structure is
 * materialised.
 *
 * Skew (north rule): boilerplate pages produce hot buckets whose
 * all-pairs expansion is O(n²). Buckets larger than `maxBucket` switch
 * to *chain pairing*: members are ranked (by MinHash signature order, so
 * near-identical docs sit adjacent) and each member pairs with its next
 * `chainWidth` neighbours — O(n·chainWidth) pairs that keep the bucket
 * connected for the downstream connected-components stage while bounding
 * fan-out. AQE skew-join handling stays on as backstop.
 */
object Lsh {

  /** MinHash band keys: ArrayType(Struct(band: Int, key: Long)).
    * sig length must equal bands·rows (reference panics likewise,
    * `lsh.go:124-127`). Key = xxhash64 of the band's rows slice.
    * Unrolled (bands is static) so every element is a codegen'd builtin
    * — a `transform` lambda would drop the row into interpreted eval. */
  def minhashBandKeys(sig: Column, bands: Int, rows: Int): Column =
    array((0 until bands).map { i =>
      struct(lit(i).as("band"),
        xxhash64(slice(sig, i * rows + 1, rows)).as("key"))
    }: _*)

  /** SimHash band keys over a 64-bit signature: `tables` bands of
    * `bits` bits each (tables·bits ≤ 64). Band ids are offset by 1000
    * so they never collide with MinHash band ids in a unioned table.
    * NOTE: fixed-width keys saturate as the corpus outgrows 2^bits
    * buckets (random collisions grow O(n²/2^bits)); prefer
    * [[simhashNeighborPairs]] beyond ~10^5 docs. */
  def simhashBandKeys(sig64: Column, tables: Int, bits: Int): Column =
    array(bandWindows(sig64, tables, bits).map { case (b, k) =>
      struct(b.as("band"), k.as("key"))
    }: _*)

  /** The one definition of the SimHash band/key space — both the
    * keys-only array ([[simhashBandKeys]]) and the rotated-skey rows
    * ([[simhashBandRows]]) build on it, so the +1000 band-id offset
    * and the key bit-window can never silently diverge between the
    * ANN and near-dup surfaces. Unrolled (tables is small and
    * static) — keeps shift amounts literal. */
  private def bandWindows(sig64: Column, tables: Int,
                          bits: Int): Seq[(Column, Column)] = {
    require(tables * bits <= 64,
      s"simhash bands: tables*bits = ${tables * bits} exceeds the 64-bit " +
        "signature — Java shift counts mask mod 64, so the overflow bands " +
        "would silently ALIAS low-bit windows (correlated bands, recall " +
        "bound void) instead of failing")
    val mask = (1L << bits) - 1
    (0 until tables).map { i =>
      (lit(i + 1000), shiftright(sig64, i * bits).bitwiseAND(lit(mask)))
    }
  }

  /** [[simhashBandKeys]] exploded to bucket-entry rows
    * (docId, band, key, skey) with a PER-BAND DECORRELATED chain sort
    * key: `skey_i = rotl(sig, i·bits)`. A single global chain order
    * repeated in every band means a near-dup pair whose signatures
    * differ in a HIGH-order bit sorts far apart in every oversized
    * bucket AT ONCE — the same correlated all-bands miss as an
    * id-ordered chain (DESIGN invariants 36/37), just for a different
    * bit position. The rotation moves any given differing bit to a
    * different significance in each band, so the pair sorts adjacent
    * in the bands where its difference lands low — the
    * sorted-neighborhood rotation trick (Manku '07) applied to chain
    * keys. Exact-duplicate signatures rotate identically and stay
    * tied in every band. */
  def simhashBandRows(docs: DataFrame, docId: String, sig64: Column,
                      tables: Int, bits: Int): DataFrame = {
    val entries = array(
      bandWindows(sig64, tables, bits).zipWithIndex.map {
        case ((b, k), i) =>
          val r = (i * bits) % 64
          val rot = if (r == 0) sig64
            else shiftleft(sig64, r)
              .bitwiseOR(shiftrightunsigned(sig64, 64 - r))
          struct(b.as("band"), k.as("key"), rot.as("skey"))
      }: _*)
    docs.select(col(docId), explode(entries).as("bk"))
      .select(col(docId), col("bk.band").as("band"),
        col("bk.key").as("key"), col("bk.skey").as("skey"))
  }

  /**
   * Manku et al. '07-style sorted-neighborhood SimHash duplicate edges:
   * for each of `tables` bit-rotations of the 64-bit fingerprint, sort
   * the corpus by the rotated value (range partition + partition-local
   * sort — fully distributed, no global bottleneck) and pair each doc
   * with its next `width` neighbours, keeping ONLY pairs within
   * `maxHamming` bits. Hamming-close fingerprints sort adjacently under
   * at least one rotation.
   *
   * Two scale properties, both measured:
   *  - O(n·tables·width) *examined* pairs at any corpus size — no
   *    2^bits bucket saturation (fixed-width 16-bit band keys measured
   *    6M random-collision pairs on a 341k corpus);
   *  - the Hamming filter runs HERE, inside the sorted scan, where both
   *    fingerprints are already in hand — an unfiltered variant shipped
   *    ~0.8M junk pairs (of which ~0.1% survive) into the downstream
   *    shingle-array verify join, which then dominated the whole
   *    pipeline (87 of 190 s at 72k docs) and destroyed N→4N scaling
   *    (big nondeterministically-spilling shuffle). A popcount per
   *    examined pair replaces a per-pair array-join round-trip.
   *
   * All rotations ride ONE exchange: the rotation id is exploded into
   * the range-partition key (rot, key), so the 4-rotation pass costs
   * one shuffle + one sampling job instead of four of each.
   * Pairs across range-partition boundaries are the only loss
   * (≤ width·partitions per rotation); the boundary seam is measured
   * and bounded by SeamLossSpec.
   *
   * @return distinct (a, b, hamming), a < b, hamming ≤ maxHamming —
   *         already exact-verified by the Hamming criterion (the
   *         signature IS the object the criterion is defined on,
   *         `/root/reference/index.go:236-251` approx mode).
   */
  def simhashNeighborEdges(sigs: DataFrame, docId: String, sigCol: String,
                           tables: Int, width: Int, maxHamming: Int,
                           totalParts: Int = 0): DataFrame = {
    require(width >= 1, s"simhashNeighborEdges width must be >= 1, got $width")
    val spark = sigs.sparkSession
    import spark.implicits._
    // totalParts = 1 is the no-seam oracle (single sorted scan) used by
    // SeamLossSpec to measure the boundary loss directly.
    // Default width is DATA-adaptive (optimization round, guide §2):
    // input partitions × tables — the input's own partitioning already
    // tracks data volume (scan splits / the pipeline's width), so a
    // fixture-sized corpus stops paying a 128-way range sample + 128
    // near-empty sorted tasks (at the 375k-doc bench scale this is
    // 32 × 4 = 128, exactly the previous session-width sizing). Fewer
    // partitions also SHRINK the measured seam loss (≤ width·parts
    // pairs per rotation), so the boundary contract only tightens.
    val nParts =
      if (totalParts > 0) totalParts
      else math.max(tables, math.min(
        spark.sparkContext.defaultParallelism,
        sigs.rdd.getNumPartitions) * tables)
    val rotKeys = array((0 until tables).map { t =>
      val rot = t * (64 / tables)
      val key =
        if (rot == 0) col(sigCol).bitwiseXOR(lit(Long.MinValue))
        else shiftleft(col(sigCol), rot)
          .bitwiseOR(shiftrightunsigned(col(sigCol), 64 - rot))
          .bitwiseXOR(lit(Long.MinValue)) // unsigned-comparable order
      struct(lit(t).as("rot"), key.as("k"))
    }: _*)
    // deterministic fixed-bit range buckets instead of
    // repartitionByRange (optimization round): the range partitioner
    // ran a SAMPLING pass — a full extra execution of the upstream
    // explode per call — and its sampled boundaries varied run to run
    // (RangePartitioner seeds from the RDD id), so the seam edge set
    // jittered. Bucket = rot ⊕ top log2(nParts/tables) bits of the
    // unsigned-comparable key: each bucket is a CONTIGUOUS key range
    // (hash-uniform signatures spread evenly), rows of one bucket land
    // wholly in one partition, and the within-partition (rot, k) sort
    // keeps each bucket's rows adjacent — same sorted-neighborhood
    // semantics, same seam bound shape (≤ width per bucket boundary,
    // boundaries now fixed bit cuts), zero sampling job, bit-stable
    // across runs. Cross-bucket adjacencies inside a partition add
    // only Hamming-VERIFIED pairs (never false edges).
    val perRotBits = {
      var b = 0
      while ((1 << b) < math.max(1, nParts / tables) && b < 20) b += 1
      b
    }
    val bucket =
      if (perRotBits == 0) $"rot".cast("long")
      else $"rot".cast("long") * (1L << perRotBits) +
        shiftrightunsigned($"k", 64 - perRotBits)
    sigs.select(col(docId).cast("long").as("id"), col(sigCol).as("sig"),
        explode(rotKeys).as("rk"))
      .select($"rk.rot".as("rot"), $"rk.k".as("k"), $"id", $"sig")
      .repartition(nParts, bucket)
      .sortWithinPartitions($"rot", $"k")
      .select($"rot", $"id", $"sig").as[(Int, Long, Long)]
      .mapPartitions { it =>
        // ring buffer of the previous `width` docs; reset on rotation
        // change so neighbourhoods never straddle rotations. Pairs emit
        // LAZILY per input row (≤ width each, O(width) live state) — a
        // partition-wide buffer would materialise the partition's
        // ENTIRE edge output before returning its iterator, which on a
        // duplicate-dense corpus (template pages where every examined
        // pair passes maxHamming) is rows×width boxed tuples held at
        // once: an executor OOM at the web-scale operating point
        val bufId = new Array[Long](width)
        val bufSig = new Array[Long](width)
        var filled = 0
        var pos = 0
        var curRot = -1
        it.flatMap { case (rot, id, sig) =>
          if (rot != curRot) { curRot = rot; filled = 0; pos = 0 }
          val out = new scala.collection.mutable.ArrayBuffer[(Long, Long, Int)](filled)
          var j = 0
          while (j < filled) {
            val pid = bufId(j)
            if (pid != id) {
              val h = java.lang.Long.bitCount(bufSig(j) ^ sig)
              if (h <= maxHamming)
                out += ((math.min(pid, id), math.max(pid, id), h))
            }
            j += 1
          }
          bufId(pos % width) = id
          bufSig(pos % width) = sig
          pos += 1
          if (filled < width) filled += 1
          out
        }
      }.toDF("a", "b", "hamming")
      .groupBy($"a", $"b").agg(min($"hamming").as("hamming"))
  }

  /** Explode per-doc band keys to bucket-entry rows
    * (docId, band, key, skey). `sortKey` orders members inside oversized
    * buckets for chain pairing — pass the signature (or a hash of it) so
    * near-identical docs sit adjacent and capped chains still connect
    * true duplicates. */
  def explodeBands(docs: DataFrame, docId: String, bandKeys: Column,
                   sortKey: Column): DataFrame =
    docs.select(col(docId), sortKey.as("skey"), explode(bandKeys).as("bk"))
      .select(col(docId), col("bk.band").as("band"), col("bk.key").as("key"),
        col("skey"))

  /**
   * Candidate pairs from bucket-entry rows. Returns distinct (a, b),
   * a < b. One pass over the bucket relation: repartition by
   * (band, key), one UnsafeRow partition sort by (band, key, skey, id),
   * then [[PairStream]] walks each bucket in that order with
   * O(maxBucket + chainWidth) state — all-pairs for buckets up to
   * `maxBucket` participants, skey-ordered chain pairs (each member
   * with its next `chainWidth`) beyond (skew bound). Rows with a null
   * skey or id are dropped first: they never pair and never count.
   *
   * Chain pairing IS salted sub-bucketing: splitting a hot key into
   * ceil(n/maxBucket) salt groups in skey order plus bridge edges
   * between adjacent groups yields exactly the chain-pair edge set —
   * expressed here without the extra salt column or the union of a
   * bridge join. AQE skew-join mitigation stays enabled as the backstop
   * (north rule).
   *
   * `hardCap` bounds pairing on pathological mega-buckets (boilerplate
   * shared by millions of pages): only the first `hardCap` members in
   * (skey, id) order participate, so the survivors are the cap
   * smallest by (skey, id) under any input layout. Members beyond the
   * cap are still counted but never paired — such pages still dedup
   * via the exact-hash stage. Hot-key trade: a mega-bucket ships ALL
   * its rows to one reducer, which scans them once with constant state
   * (no OOM; the partition sort spills).
   *
   * `dropAbove` drops ENTIRE buckets whose true member count exceeds
   * it (corpus-wide boilerplate keys — their pairs would connect
   * unrelated documents), counted in the same scan with no separate
   * counting pass.
   *
   * `chainWidth` and `hardCap` must be ≥ 1: a zero chain width divides
   * by zero inside the task once a bucket outgrows `maxBucket`, and a
   * zero cap silently pairs nothing.
   */
  def candidatePairs(buckets: DataFrame, docId: String,
                     maxBucket: Int, chainWidth: Int,
                     hardCap: Int = 100000,
                     dropAbove: Int = Int.MaxValue): DataFrame = {
    require(chainWidth >= 1, s"candidatePairs chainWidth must be >= 1, got $chainWidth")
    require(hardCap >= 1, s"candidatePairs hardCap must be >= 1, got $hardCap")
    import buckets.sparkSession.implicits._
    val skey: Column =
      if (buckets.columns.contains("skey")) col("skey") else col(docId)
    // the sort puts members in (skey, id) order, so PairStream's
    // "first hardCap seen" is the deterministic cap-smallest survivor
    // set (its scaladoc says why a stream, not a per-bucket aggregate)
    buckets
      .select(col("band").cast("int").as("band"),
        col("key").cast("long").as("key"),
        skey.cast("long").as("skey"),
        col(docId).cast("long").as("id"))
      .where(col("skey").isNotNull && col("id").isNotNull)
      .repartition(col("band"), col("key"))
      .sortWithinPartitions("band", "key", "skey", "id")
      .as[(Int, Long, Long, Long)]
      .mapPartitions(it =>
        new PairStream(it, maxBucket, chainWidth, hardCap, dropAbove))
      .toDF("a", "b")
      .distinct()
  }
}

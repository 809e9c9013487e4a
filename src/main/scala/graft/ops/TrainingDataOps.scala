package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.verify.Measures

/**
 * Large-scale training-data pipeline operators beyond the reference's
 * surface: quality scoring, language id, token counting, fingerprinting,
 * approximate nearest neighbours over embeddings. All are declarative
 * Column/DataFrame transforms (codegen'd builtins), shuffle-free unless
 * inherently aggregating.
 */
object TrainingDataOps {

  /** Small English stop set used by quality scoring (deterministic,
    * SQL-expressible so the DuckDB oracle can mirror it). */
  val qualityStopWords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "on", "is", "are",
    "was", "with", "for", "at", "by", "from", "it", "this", "that")

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(split(text, " "))

  /** BPE-ish subword segment count: letter runs, digit runs, and single
    * non-alphanumeric marks each count as one token (the shape a byte
    *-pair encoder's pre-tokeniser produces). */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))

  /** Quality metrics: token count, mean token length, stop-word ratio,
    * alphabetic char ratio. */
  def qualityMetrics(df: DataFrame, text: Column): DataFrame = {
    val toks = split(text, " ")
    // length-sum + stop-count via codegen'd TokenStats kernels
    // (optimization round): value-identical to the previous interpreted
    // aggregate/filter folds — the sum is an integer-valued double and
    // the count an int (Round6KernelSpec A/B)
    df.withColumn("n_tokens", size(toks))
      .withColumn("mean_tok_len",
        graft.text.TokenStats.sumStrLens(toks) / size(toks))
      .withColumn("stop_ratio",
        graft.text.TokenStats.countIn(toks, qualityStopWords.toArray)
          .cast("double") / size(toks))
      .withColumn("alpha_ratio",
        // empty text divides by length 0 — ANSI raises DIVIDE_BY_ZERO
        // even for doubles, so one failed-extraction row would kill
        // the job. 0.0, not NaN: these are quality-GATE inputs, and
        // under Spark's NaN ordering NaN >= τ is TRUE — a NaN ratio
        // would silently PASS any min-quality filter; 0.0 reads as
        // worst-quality, consistent with the token metrics (split("")
        // yields [""], so they already score 0 on empty docs).
        when(length(text) === 0, lit(0.0)).otherwise(
          length(regexp_replace(text, "[^a-z]", "")).cast("double")
            / length(text)))
  }

  /** Marker-word tables for the n-gram/marker language-id heuristic.
    * Deterministic and SQL-expressible (CASE argmax with ties broken by
    * language code order). */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is"),
    "de" -> Seq("der", "die", "und", "ist", "nicht"),
    "fr" -> Seq("le", "la", "et", "est", "les"),
    "es" -> Seq("el", "los", "es", "y", "una"))

  /** Language guess: argmax marker hits; "unk" when no marker fires.
    * Ties broken by language-code sort order. */
  def langId(text: Column): Column = {
    val toks = split(text, " ")
    // marker counts via the codegen'd count_in kernel (int-identical to
    // the interpreted size(filter(array_contains)) form — see
    // qualityMetrics note); the argmax CASE chain is unchanged
    val scores = langMarkers.toSeq.sortBy(_._1).map { case (lang, markers) =>
      (lang, graft.text.TokenStats.countIn(toks, markers.toArray))
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("unk"): Column) { case ((lang, s), els) =>
      when(s === best && best > 0, lit(lang)).otherwise(els)
    }
  }

  // NOTE foldRight: earlier languages (sorted order) win ties because
  // the fold nests their `when` outermost.

  /** Document fingerprint: md5 of the whitespace-normalised token
    * stream (repeated/leading/trailing spaces collapsed — empty split
    * segments are FILTERED, which a bare split+concat_ws round-trip
    * would preserve byte-for-byte, making the "normalised" claim a
    * no-op). Content-keyed like the dedup pipeline's exact-dup hash
    * but WITHOUT its tokeniser/stop-word conditioning — the two keys
    * are deliberately distinct surfaces. */
  def fingerprint(text: Column): Column =
    md5(concat_ws(" ", filter(split(text, " "), t => length(t) > 0)))

  /**
   * Brute-force cosine top-k neighbours: the exact baseline every ANN
   * variant is scored against (mirrors the reference's linear-scan
   * oracle, `/root/reference/index.go:75-115`). Queries are broadcast
   * (small k·queries), corpus side streams — one pass, no shuffle on
   * the corpus.
   * Output: (query_id, neighbor_id, rank), rank 1..k by (cos desc, id).
   */
  def bruteForceTopK(embeddings: DataFrame, idCol: String, vecCol: String,
                     queries: DataFrame, k: Int): DataFrame = {
    // zero-norm embeddings (padding rows, failed encoders) score NaN
    // against EVERY query (cosineDense keeps the reference's 0/0
    // contract), and Spark orders NaN ABOVE every real double — an
    // unfiltered zero vector would silently occupy rank 1 for every
    // query. Undefined similarity is not a neighbor: drop the zero-norm
    // ROWS per side (equivalent to, and 2-3× cheaper than, a per-pair
    // `!isnan(cos)` filter — see Measures.nonZeroNorm).
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .filter(Measures.nonZeroNorm(col("qv")))
    val c = embeddings.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .filter(Measures.nonZeroNorm(col("cv")))
    // raw float arrays straight into the codegen'd cosine kernel — the
    // per-pair interpreted transform(cast) wrapper is gone (the kernel
    // applies the identical element cast while reading)
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", Measures.cosineDense(col("qv"), col("cv")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  /**
   * LSH-bucketed ANN (the scale path): 64-bit SimHash of the embedding
   * via deterministic random hyperplanes, banded into `tables` buckets;
   * candidates = bucket collisions; exact cosine re-rank per query.
   * At 10^9+ vectors the bucket shuffle replaces the O(n·q) scan.
   */
  /**
   * Embedding-cosine near-duplicate pairs (the dedup family's
   * embedding-space member, next to exact-hash / MinHash-Jaccard /
   * SimHash-Hamming / substring): all pairs with cosine ≥ `tau`,
   * surfaced through SimHash band buckets (candidates = bucket
   * collisions — never the O(n²) cross join) and verified with the
   * exact cosine. Output: (a_id, b_id, cos) with a_id < b_id.
   * Recall follows the banding bound: a pair at angle θ collides in
   * ≥1 of `tables` bands of `bits` bits with prob
   * 1 − (1 − (1−θ/π)^bits)^tables — at tau=0.9 and the 8×8 default
   * that is ≈ 0.94, and near-dup pairs (cos ≥ 0.99) are ≈ 0.9999.
   * `tables·bits` must fit the 64-bit signature (enforced by
   * [[graft.lsh.Lsh.simhashBandKeys]]): the earlier 16×6 default
   * silently ALIASED bands 11-15 onto bits 2-31 (Java shift counts
   * mask mod 64), so the claimed 16-independent-band recall never
   * held. Buckets are skew-bounded by the same streaming pair
   * generator as the MinHash dedup path ([[graft.lsh
   * .Lsh.candidatePairs]]: all-pairs up to `maxBucket` members,
   * skey-chain pairs beyond, pairing participants hard-capped per
   * bucket) — a naive band self-join is Θ(n²/2^bits) per band on
   * UNRELATED data (random 8-bit key collisions alone), and an
   * all-identical-vector corpus would cross-join entirely without the
   * cap. Ids must be 64-bit integers (the pair stream carries
   * primitive longs — the web-scale id contract everywhere in this
   * library). `chainWidth` must be ≥ 1.
   */
  def cosineNearDup(embeddings: DataFrame, idCol: String, vecCol: String,
                    tau: Double, tables: Int = 8, bits: Int = 8,
                    maxBucket: Int = 64, chainWidth: Int = 3): DataFrame = {
    // zero-norm rows out BEFORE signatures: their cosine is NaN against
    // everything, and in Spark's NaN ordering `NaN >= tau` is TRUE —
    // without this filter two all-zero padding rows (identical simhash,
    // certain band collision) would be reported as a near-dup pair with
    // cos = NaN. Undefined similarity is not a duplicate (invariant 34).
    val emb = embeddings.filter(Measures.nonZeroNorm(col(vecCol)))
    val sigs = emb.select(col(idCol).as("__id"),
      embeddingSig(col(vecCol)).as("__sig"))
    // the SIGNATURE is the chain sort key, ROTATED per band: beyond
    // `maxBucket` members a bucket switches to skey-ordered chain
    // pairing, and any single global order (caller ids, or one
    // unrotated signature) repeats in every band — at
    // n ≫ maxBucket·2^bits EVERY bucket is oversized, and a pair
    // sorting far apart under that one order is missed in ALL bands
    // at once. The per-band rotation (Lsh.simhashBandRows) gives each
    // band an independent chance to sort the pair adjacent.
    val b = graft.lsh.Lsh.simhashBandRows(sigs, "__id",
      col("__sig"), tables, bits)
    // id-only pair dedup through the band shuffle; vectors join after
    val cands = graft.lsh.Lsh
      .candidatePairs(b, "__id", maxBucket, chainWidth)
      .toDF("a_id", "b_id")
    cands
      .join(emb.select(col(idCol).as("a_id"), col(vecCol).as("av")), "a_id")
      .join(emb.select(col(idCol).as("b_id"), col(vecCol).as("bv")), "b_id")
      .withColumn("cos", Measures.cosineDense(col("av"), col("bv")))
      .filter(col("cos") >= tau)
      .select(col("a_id"), col("b_id"), round(col("cos"), 6).as("cos"))
  }

  /** 64-bit SimHash of a dense embedding via deterministic random
    * hyperplanes (index-as-term sparse view; dimension derived from
    * the data — a hardcoded dim silently truncated/NaN'd other widths,
    * round-1 defect). */
  private def embeddingSig(vec: Column): Column = {
    val entries = zip_with(
      sequence(lit(0L), (size(vec) - 1).cast("long")),
      transform(vec, x => x.cast("double")),
      (i, x) => struct(i.as("term"), x.as("weight")))
    graft.hash.HashFunctions.simhash64(entries)
  }

  /** @param maxBucket corpus members kept per (band, key) bucket:
    *   the `maxBucket` smallest by the PER-BAND salted key
    *   `(xxhash64(band, id), id)`, selected by a `row_number` window
    *   over the bucket (DESIGN invariant 37), so each band drops an
    *   independent subset and a neighbor survives if any band keeps
    *   it. A RAW band equi-join is Θ(q·n/2^bits) on unrelated data from
    *   random key collisions alone, and a hot bucket (mass-duplicated
    *   embeddings) cross-joins every query against all of it — the
    *   same blowup [[cosineNearDup]] routes through the capped
    *   machinery. At caps up to
    *   `spark.sql.optimizer.windowGroupLimitThreshold` (1000) Spark
    *   plans a partial `WindowGroupLimit` before the bucket exchange,
    *   so each map task ships ≤ maxBucket rows per bucket; above it the
    *   cap applies after the shuffle, and a hot key ships all its rows
    *   to one reducer whose Sort and Window buffers spill (the same
    *   trade [[graft.lsh.Lsh.candidatePairs]] documents). The default
    *   never binds at sane bucket sizes (8-bit keys spread a 10^9
    *   corpus ~4M/bucket per band — size `bits` so n/2^bits stays far
    *   below the cap); raise it for exhaustive recall. Must be ≥ 1. */
  def lshTopK(embeddings: DataFrame, idCol: String, vecCol: String,
              queries: DataFrame, k: Int,
              tables: Int = 8, bits: Int = 8,
              maxBucket: Int = 4096): DataFrame = {
    require(maxBucket >= 1, s"lshTopK maxBucket must be >= 1, got $maxBucket")
    import embeddings.sparkSession.implicits._
    def sig(vec: Column): Column = embeddingSig(vec)
    // zero-norm rows out per side BEFORE signatures: their cosine is
    // NaN against everything (must not outrank real neighbors — see
    // bruteForceTopK) and their signature work is wasted
    val emb = embeddings.filter(Measures.nonZeroNorm(col(vecCol)))
    val qrs = queries.filter(Measures.nonZeroNorm(col(vecCol)))
    val cb = emb.select(col(idCol).as("neighbor_id"),
        sig(col(vecCol)).as("csig"))
      .select($"neighbor_id", explode(
        graft.lsh.Lsh.simhashBandKeys($"csig", tables, bits)).as("bk"))
      .select($"neighbor_id", $"bk.band", $"bk.key")
    val qb = qrs.select(col(idCol).as("query_id"),
        sig(col(vecCol)).as("qsig"))
      .select($"query_id", explode(
        graft.lsh.Lsh.simhashBandKeys($"qsig", tables, bits)).as("bk"))
      .select($"query_id", $"bk.band", $"bk.key")
    // corpus buckets are capped BEFORE the query join: the join then
    // fans out ≤ maxBucket members per query band instead of the
    // bucket's true population. The cap's survivor key is a PER-BAND
    // salted hash, not the bare id: one id-ordered survivor set
    // repeated in every band means a neighbor dropped from its hot
    // bucket in one band is dropped in ALL of them at once — the
    // banding recall bound assumes independent bands, and the salt
    // restores that independence for the drop too (a neighbor
    // survives if ANY band keeps it). Null ids neither survive nor
    // take a survivor's place.
    val capOrder = Window.partitionBy($"band", $"key")
      .orderBy(xxhash64($"band", $"neighbor_id"), $"neighbor_id")
    val buckets = cb.where($"neighbor_id".isNotNull)
      .withColumn("rn", row_number().over(capOrder))
      .where($"rn" <= maxBucket)
      .select($"band", $"key", $"neighbor_id")
    // dedup on ids ONLY (round 1 distinct'd full vector payloads ×bands
    // through the shuffle), then re-join the vectors once per pair
    val cands = qb.join(buckets, Seq("band", "key"))
      .select($"query_id", $"neighbor_id")
      .filter($"query_id" =!= $"neighbor_id")
      .distinct()
    val scored = cands
      .join(qrs.select(col(idCol).as("query_id"), col(vecCol).as("qv")),
        "query_id")
      .join(emb.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv")),
        "neighbor_id")
      .withColumn("cos", Measures.cosineDense($"qv", $"cv"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select($"query_id", $"neighbor_id", $"rank", round($"cos", 6).as("cos"))
  }

  /** Deterministic hash-split bucket in [0, buckets): the first 8 hex
    * chars of md5(content) as an integer, mod buckets. Content-keyed
    * (not id-keyed), so a doc lands in the same split on every run, on
    * any cluster, and across re-ingestions that re-id documents — the
    * train/val/test assignment a training pipeline must be able to
    * reproduce bit-for-bit. Per-row codegen'd expression, no shuffle,
    * and SQL-portable (md5 is md5 everywhere — the DuckDB oracle mirrors
    * it verbatim). */
  def hashSplitBucket(content: Column, buckets: Int): Column =
    conv(substring(md5(content), 1, 8), 16, 10).cast("long") % buckets

  /** All n-token windows of a single-space-tokenised text, re-joined
    * with single spaces — the literal-string shingles decontamination
    * joins on. Empty array for docs shorter than n tokens.
    * Codegen'd kernel since the optimization round — byte-identical to
    * the previous `transform(sequence, i => array_join(slice(...)))`
    * Column form (Round6KernelSpec A/B), which was interpreted per
    * window (the corpus side explodes ~windows×docs of them). */
  def tokenWindows(text: Column, n: Int): Column =
    graft.hash.ShingleFunctions.tokenWindows(split(text, " "), n)

  /**
   * Benchmark decontamination: flag every document sharing at least one
   * n-token window with the benchmark corpus (the eval-leakage check a
   * training pipeline runs before a corpus ships). Returns
   * (idCol, n_hits) for flagged docs only, n_hits = number of DISTINCT
   * benchmark windows found in the doc.
   *
   * Scale shape: the benchmark side (eval suites — thousands of docs,
   * not billions) collapses to its distinct windows and BROADCASTS; the
   * corpus side streams through a codegen'd explode + broadcast-hash
   * join + partial-aggregated count, so the 100 TB side never shuffles
   * its windows. Matching is on the literal window string — no hash
   * false positives on the flag that deletes training data.
   *
   * Broadcast guard: the design point is eval-suite-sized benchmarks,
   * but a caller handing in a multi-million-document set would OOM the
   * driver building the broadcast with no warning. The distinct-window
   * count is therefore checked first (one job over the SMALL side
   * only); past `maxBroadcastWindows` the join degrades to a logged
   * shuffle semi-join — identical results, the corpus windows shuffle
   * once instead of meeting a broadcast.
   */
  def decontaminate(docs: DataFrame, idCol: String, textCol: String,
                    bench: DataFrame, benchTextCol: String,
                    n: Int = 8,
                    maxBroadcastWindows: Long = 4L * 1000 * 1000): DataFrame = {
    val bwin = bench
      .select(explode(tokenWindows(col(benchTextCol), n)).as("__w"))
      .distinct()
    // the guard reads an arithmetic UPPER bound — total windows =
    // Σ max(0, tokens − n + 1) — from one plain scan of the small
    // side: no explode, no distinct shuffle, and bwin itself is not
    // computed twice (an exact distinct count would materialise the
    // window set once for the guard and again for the join, doubling
    // precisely the oversized case the guard exists for). Overcounting
    // duplicates only errs toward the fallback, which is
    // result-identical.
    val nWin = bench.select(coalesce(sum(greatest(
        size(split(col(benchTextCol), " ")) - (n - 1), lit(0))), lit(0L))
        .cast("long"))
      .collect()(0).getLong(0)
    val joinSide =
      if (nWin <= maxBroadcastWindows) broadcast(bwin)
      else {
        System.err.println(s"[graft] decontaminate: benchmark set has " +
          s"up to $nWin $n-token windows > maxBroadcastWindows=" +
          s"$maxBroadcastWindows — falling back to a shuffle semi-join " +
          "(same results; the corpus windows shuffle once)")
        // strip any planner temptation to broadcast a side this big
        bwin.hint("shuffle_hash")
      }
    docs.select(col(idCol), explode(tokenWindows(col(textCol), n)).as("__w"))
      .join(joinSide, Seq("__w"), "left_semi")
      .groupBy(idCol)
      .agg(countDistinct(col("__w")).as("n_hits"))
  }
}
